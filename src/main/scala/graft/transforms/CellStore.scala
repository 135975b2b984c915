package graft.transforms

import graft.functions.Text
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import IndexMaintenance.Stats
import TransformParser.TransformError

/** One cell-partitioned store of a stored index: its sub-directory under
  * the artifact, its cell column, and the routing that turns the kind's
  * shared frame into the store's rows with the cell column added. A
  * row's cell is a pure function of its own content, so a batch routes
  * to exactly the cells that can hold its rows. `fanOut` marks a routing
  * that maps one row to several cells (band keys, delete-1 variants,
  * sign-LSH buckets): an APPEND materializes such routed rows once, for
  * the write and for the touched-cells pass.
  */
private[graft] final case class CellStore(name: String, cellCol: String,
    rows: DataFrame => DataFrame, fanOut: Boolean = false)

/** The one writer of the stored indexes' cell stores (LSH, TYPO, COSINE
  * and IVF): builds, REBUILD stages, APPEND, DELETE and COMPACT all
  * commit through it. The commit protocol, stated once:
  *  - Every kind is an ordered list of [[CellStore]]s over one shared
  *    frame. A statement materializes that frame once (an eager local
  *    checkpoint; an IVF build's trained assignment stays a plan), then
  *    runs one leg per store concurrently ([[inParallel]]); each leg
  *    repartitions its rows to [[cellWriteParts]] tasks on the cell
  *    column before `partitionBy`, so a cell lands whole in one task —
  *    one file per touched cell per write.
  *  - Mutations of an existing artifact (APPEND, DELETE, COMPACT)
  *    hold its single-writer lock ([[IndexMaintenance.withMaintLock]],
  *    re-entrant under a verb) and drop `stats/` and the manifest
  *    before touching a row ([[IndexMaintenance.Stats.invalidate]]):
  *    both can be absent, never stale. APPEND and DELETE run inside
  *    [[IndexMaintenance.Stats.mergeForWriter]], which merges the
  *    returned touched cells back into both. A build overwrites every
  *    store; REBUILD builds into a fresh stage it swaps in whole.
  *  - APPEND adds files next to a cell's existing ones. DELETE and
  *    COMPACT rewrite only the routed cells ([[rewrite]]): survivors go
  *    to a staging sibling, then each cell swaps with two renames
  *    (live → `.old_<col>_<cell>`, staging → live). A failed rename
  *    rolls every committed cell back. A crash between a cell's two
  *    renames leaves `.old_` as the only copy of its rows; [[sweep]]
  *    restores it before the next statement reads or writes the store
  *    (APPEND, DELETE, COMPACT and REBUILD all sweep first) and reaps
  *    `.old_` dirs whose swap finished.
  *  - Writers return each store's touched cells: the batch's own
  *    routing plus the cells a sweep restored, because restored rows
  *    were absent from any stats written while the cell was down.
  */
private[graft] object CellStore {
  private def cell(hash: Column, cells: Int): Column =
    pmod(hash, lit(cells.toLong)).cast("int")

  private def idCell(cells: Int): Column = cell(xxhash64(col("id")), cells)

  /** lsh_text over (id, shs): band keys routed by (band, bh) into
    * `bands`, shingle sets by id into `shingles`. `bandKeys` maps the
    * shared frame to (id, band, bh); `hashShingles` stores the sets as
    * xxhash64 longs (the `xxhash64` scheme) instead of as given (the
    * `raw` scheme, or a REBUILD moving the stored sets).
    */
  def lsh(cells: Int, bandKeys: DataFrame => DataFrame,
      hashShingles: Boolean): Seq[CellStore] = Seq(
    CellStore("bands", "pc", sh => bandKeys(sh)
      .withColumn("pc", cell(xxhash64(col("band"), col("bh")), cells)),
      fanOut = true),
    CellStore("shingles", "sc", sh =>
      (if (hashShingles)
        sh.select(col("id"), Text.hashedShingles(col("shs")).as("shs"))
      else sh).withColumn("sc", idCell(cells))))

  /** typo_text over (id, txt): delete-1 variant hashes routed by hash
    * into `variants`, strings by id into `strings`.
    */
  def typo(cells: Int): Seq[CellStore] = Seq(
    CellStore("variants", "pc", r => NearDup.delete1Variants(r, "txt")
      .select(col("id"), col("vh")).withColumn("pc", cell(col("vh"), cells)),
      fanOut = true),
    CellStore("strings", "sc", _.withColumn("sc", idCell(cells))))

  /** cosine_vec over (id, v, nrm): sign-LSH buckets routed by
    * (t, bucket) into `buckets`, vectors by id into `vectors`.
    */
  def cosine(cells: Int, tables: Int, bits: Int, dims: Int)
      : Seq[CellStore] = Seq(
    CellStore("buckets", "pc", ee =>
      VecKnn.bucketFrame(ee, tables, bits, dims)
        .withColumn("pc", cell(xxhash64(col("t"), col("bucket")), cells)),
      fanOut = true),
    CellStore("vectors", "sc", _.withColumn("sc", idCell(cells))))

  /** ivf_vec over a frame that already carries its `cluster` (the
    * trained or frozen-centroid assignment): vectors into `index`, PQ
    * code arrays into `codes` when the artifact has PQ.
    */
  def ivf(index: DataFrame => DataFrame,
      codes: Option[DataFrame => DataFrame]): Seq[CellStore] =
    CellStore("index", "cluster", index) +:
      codes.map(CellStore("codes", "cluster", _)).toSeq

  /** The (store, cell column) pairs of an artifact kind — its store list
    * at any geometry. One mapping for DESCRIBE, COMPACT, REBUILD, the
    * stats refresh and the manifest, so they cannot disagree on what a
    * kind's stores are. IVF lists `codes` whether or not PQ is on; an
    * absent store has no cells.
    */
  def storesFor(kind: String, ctx: String): Seq[(String, String)] =
    (kind match {
      case "lsh_text" => lsh(1, identity, hashShingles = false)
      case "typo_text" => typo(1)
      case "cosine_vec" => cosine(1, 1, 1, 1)
      case "ivf_vec" => ivf(identity, Some(identity))
      case other => throw TransformError(
        s"$ctx: unknown artifact kind '$other'")
    }).map(st => st.name -> st.cellCol)

  /** Shuffle parallelism for a cell-partitioned store write: ideally one
    * cell per task, capped at 4× the cluster's cores. Without the pin,
    * AQE coalesces a microbatch-sized exchange to one task that then
    * commits every cell's file sequentially — the write is bound by
    * per-file latency, not bytes (measured 0.9–1.1 s per store per
    * streamed append at 64 cells, ~15 ms/file). The cap keeps a
    * 65 536-cell artifact's append from scheduling 65 k near-empty
    * tasks. Grows with both the artifact and the cluster.
    */
  private[graft] def cellWriteParts(spark: SparkSession, cells: Int): Int =
    math.max(1, math.min(cells,
      math.max(64, spark.sparkContext.defaultParallelism * 4)))

  /** Run independent store legs concurrently and return their results in
    * order. Once the shared frame is materialized the stores have no
    * data dependency, so each leg's jobs back-fill the executor slots the
    * others' small tasks leave idle. `blocking` keeps the global pool
    * from starving while a leg waits on Spark.
    *
    * Every leg settles before anything is rethrown: rethrowing on the
    * first failure while another leg's write still runs would release
    * the caller's maintenance lock with an orphaned writer mutating the
    * store, and a retry could then interleave with it. The first failure
    * rethrows, carrying the other legs' failures as suppressed.
    *
    * Each leg runs under the caller's SparkContext local properties (job
    * group, description, job tags, scheduler pool): pooled threads
    * inherit them only when created and are reused, so without the copy
    * a leg's jobs could carry stale ones and a cancelJobGroup, a tag
    * cancel or a per-statement pool would miss them. The pooled thread's
    * own values are restored when the leg ends.
    */
  private[graft] def inParallel[A](legs: Seq[() => A]): Seq[A] = {
    import scala.concurrent.{Await, Future, blocking}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    import scala.util.{Failure, Try}
    val sc = SparkSession.active.sparkContext
    // "spark.job.tags" is SparkContext.SPARK_JOB_TAGS (package-private)
    val propKeys = Seq("spark.jobGroup.id", "spark.job.description",
      "spark.job.interruptOnCancel", "spark.scheduler.pool",
      "spark.job.tags")
    val props = propKeys.map(k => k -> sc.getLocalProperty(k))
    def withProps[T](body: => T): T = {
      val own = propKeys.map(k => k -> sc.getLocalProperty(k))
      props.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      try body
      finally own.foreach { case (k, v) => sc.setLocalProperty(k, v) }
    }
    val running = legs.map(leg => Future(blocking(withProps(leg()))))
    val settled = running.map(f => Try(Await.result(f, Duration.Inf)))
    val failures = settled.collect { case Failure(e) => e }
    failures.headOption.foreach { first =>
      failures.tail.filter(_ ne first).foreach(first.addSuppressed)
    }
    settled.map(_.get)
  }

  /** Sweep each (store, cell column) of `base` for `.old_<col>_*`
    * siblings left by a crashed cell swap. Stale ⇔ the live cell exists
    * (its swap finished): reaped. An `.old_` whose live cell is absent
    * is the crashed statement's only copy of that cell's prior rows:
    * restored. Returns each store's restored cells, in order. Runs under
    * the artifact's maintenance lock.
    */
  def sweep(spark: SparkSession, base: String,
      stores: Seq[(String, String)]): Seq[Seq[Int]] =
    stores.map { case (sub, cellCol) =>
      sweepStore(spark, s"$base/$sub", cellCol) }

  private def sweepStore(spark: SparkSession, root: String,
      cellCol: String): Seq[Int] = {
    import org.apache.hadoop.fs.Path
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val restored = Seq.newBuilder[Int]
    if (fs.exists(rootPath))
      for (st <- fs.listStatus(rootPath)
          if st.getPath.getName.startsWith(s".old_${cellCol}_")) {
        val id = st.getPath.getName.stripPrefix(s".old_${cellCol}_")
        val live = new Path(rootPath, s"$cellCol=$id")
        if (fs.exists(live)) fs.delete(st.getPath, true)
        else if (fs.rename(st.getPath, live)) restored += id.toInt
      }
    restored.result()
  }

  /** A build or REBUILD stage: overwrite every store of `base` with its
    * routing of `shared`, one concurrent leg per store. `shared` must
    * already be materialized — both legs read it.
    */
  def write(base: String, stores: Seq[CellStore], shared: DataFrame,
      cells: Int): Unit = {
    val spark = shared.sparkSession
    Stats.invalidate(spark.sparkContext.hadoopConfiguration, base)
    val parts = cellWriteParts(spark, cells)
    inParallel(stores.map(st => () =>
      put(base, st, st.rows(shared), parts, SaveMode.Overwrite)))
    ()
  }

  /** Add a batch to an existing artifact of `kind`: geometry comes from
    * its `meta/`, never from the caller, and `meta/` is untouched.
    * Crashed cells are restored first — an append that re-created a
    * downed cell's live directory with only the batch's rows would make
    * the next sweep reap the prior rows as stale. Returns each store's
    * touched cells.
    */
  def append(base: String, kind: String, batch: DataFrame)
      : Map[String, Seq[Int]] =
    maintain(base, kind, batch, "APPEND") { (spark, shared, stores, cells) =>
      val restored =
        sweep(spark, base, stores.map(st => st.name -> st.cellCol))
      val parts = cellWriteParts(spark, cells)
      val routed = preRouted(shared, stores)
      val landed = inParallel(stores.map { st => () =>
        val rows =
          if (st.fanOut) st.rows(shared).localCheckpoint(false)
          else st.rows(shared)
        put(base, st, rows, parts, SaveMode.Append)
        if (routed) Nil else cellsOf(rows, st.cellCol)
      })
      val once = if (routed) cellsOf(shared, stores.head.cellCol) else Nil
      touchedMap(stores, landed.map(_ ++ once), restored)
    }

  /** Remove a batch from an existing artifact of `kind`: each store's
    * routed cells are rewritten without the batch's `idCol` values
    * ([[rewrite]], a broadcast anti-join); untouched cells are never
    * listed, read or rewritten. Returns each store's touched cells.
    */
  def delete(base: String, kind: String, batch: DataFrame, idCol: String)
      : Map[String, Seq[Int]] =
    maintain(base, kind, batch, "DELETE") { (spark, shared, stores, _) =>
      val routed = preRouted(shared, stores)
      val ids =
        if (routed) shared.select(col(idCol))
        else shared.select(col(idCol)).distinct().localCheckpoint()
      val once = if (routed) cellsOf(shared, stores.head.cellCol) else Nil
      val (cells, restored) = inParallel(stores.map { st => () =>
        val cells = if (routed) once else cellsOf(st.rows(shared), st.cellCol)
        (cells, rewrite(spark, s"$base/${st.name}", st.cellCol, cells,
          "INDEX … DELETE", "re-running the same DELETE statement " +
            "completes the rest (deleting already-deleted ids is a no-op)")(
          _.join(broadcast(ids), Seq(idCol), "left_anti")))
      }).unzip
      touchedMap(stores, cells, restored)
    }

  /** APPEND's and DELETE's shared shape: lock, meta and kind check, the
    * kind's frame prep and stores ([[batchOf]]; a batch with nothing
    * indexable returns no touched cells), then — inside the stats and
    * manifest epilogue — invalidate, materialize the batch and run
    * `body`.
    */
  private def maintain(base: String, kind: String, batch: DataFrame,
      verb: String)(
      body: (SparkSession, DataFrame, Seq[CellStore], Int)
        => Map[String, Seq[Int]]): Map[String, Seq[Int]] = {
    val spark = batch.sparkSession
    IndexMaintenance.withMaintLock(spark, base, verb) {
      val meta = MetaParquet.readRow(spark, s"$base/meta")
      NearDup.requireKind(meta, base, kind, s"INDEX … $verb")
      batchOf(base, kind, meta, batch, s"INDEX … $verb") match {
        case None => Map.empty
        case Some((frame, stores)) =>
          Stats.mergeForWriter(spark, base, kind) {
            Stats.invalidate(spark.sparkContext.hadoopConfiguration, base)
            body(spark, frame.localCheckpoint(), stores,
              meta.getAs[Int]("cells"))
          }
      }
    }
  }

  /** A maintenance batch's frame and stores for `kind`, geometry from
    * the artifact's `meta/`; None when the batch holds nothing indexable
    * (no vector of a COSINE batch survives the build's degenerate filter).
    */
  private def batchOf(base: String, kind: String, meta: Row,
      batch: DataFrame, what: String)
      : Option[(DataFrame, Seq[CellStore])] = {
    val cells = meta.getAs[Int]("cells")
    kind match {
      case "lsh_text" =>
        val scheme =
          if (meta.schema.fieldNames.contains("shingle_scheme"))
            meta.getAs[String]("shingle_scheme")
          else "raw"
        Some((batch, lsh(cells, NearDup.bandKeys(_,
          meta.getAs[Int]("num_perm"), meta.getAs[Int]("num_bands"),
          meta.getAs[Int]("rows_per_band")), scheme == "xxhash64")))
      case "typo_text" =>
        Some((batch.select(col("id"), col("txt")), typo(cells)))
      case "cosine_vec" =>
        val dims = meta.getAs[Int]("dims")
        val bd = VecKnn.probeDims(batch, s"$what METHOD COSINE")
        if (bd == 0) None
        else if (bd != dims) throw TransformError(
          s"$what: batch vectors are $bd-dimensional but the stored " +
            s"index at $base holds $dims-dimensional vectors")
        else Some((batch.select(col("id"), col("v"), col("nrm")),
          cosine(cells, meta.getAs[Int]("tables"), meta.getAs[Int]("bits"),
            dims)))
      case "ivf_vec" =>
        Some(graft.queries.Similarity.ivfBatch(base, meta, batch))
      case other => throw TransformError(
        s"$what: unknown artifact kind '$other'")
    }
  }

  /** A shared frame that already carries the stores' cell column (IVF's
    * frozen-centroid assignment, one row per vec_id) is routed once for
    * every store, and is its own id set.
    */
  private def preRouted(shared: DataFrame, stores: Seq[CellStore])
      : Boolean = stores.forall(st => shared.columns.contains(st.cellCol))

  private def cellsOf(rows: DataFrame, cellCol: String): Seq[Int] =
    rows.select(col(cellCol).cast("int")).distinct().collect()
      .map(_.getInt(0)).toSeq.sorted

  private def touchedMap(stores: Seq[CellStore], cells: Seq[Seq[Int]],
      restored: Seq[Seq[Int]]): Map[String, Seq[Int]] =
    stores.lazyZip(cells).lazyZip(restored).map { (st, c, r) =>
      st.name -> (c ++ r).distinct.sorted
    }.toMap

  private def put(base: String, st: CellStore, rows: DataFrame, parts: Int,
      mode: SaveMode): Unit =
    rows.repartition(parts, col(st.cellCol))
      .write.mode(mode).partitionBy(st.cellCol).parquet(s"$base/${st.name}")

  /** COMPACT's rewrite: each (store, cell column, dirty cells) of `base`
    * rewritten back to one file per cell ([[rewrite]] with the identity),
    * one concurrent leg per store with dirty cells.
    */
  def compact(spark: SparkSession, base: String,
      dirty: Seq[(String, String, Seq[Int])]): Unit = {
    inParallel(dirty.collect { case (sub, cellCol, cells) if cells.nonEmpty =>
      () => rewrite(spark, s"$base/$sub", cellCol, cells, "INDEX COMPACT",
        "re-running COMPACT completes the rest (compacting a compacted " +
          "cell is a no-op)")(identity)
    })
    ()
  }

  /** Rewrite the listed cells of the store at `root` in place through
    * `transform` (DELETE's anti-join, COMPACT's identity), with the swap
    * and rollback of the commit protocol above. The listed cells are read
    * as explicit paths and written cell-partitioned into a staging
    * sibling, `cellWriteParts(cells)` tasks wide; a cell whose rows all
    * vanish has no staging dir and is simply removed. A rollback rename
    * that itself fails is named in the error with `recovery`. Sweeps
    * first, so a just-restored cell takes part in this rewrite; returns
    * the restored cells.
    */
  private def rewrite(spark: SparkSession, root: String,
      cellCol: String, cells: Seq[Int], what: String, recovery: String)(
      transform: DataFrame => DataFrame): Seq[Int] = {
    import org.apache.hadoop.fs.Path
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // root is `<dir>/<store>`; stats live at `<dir>/stats`
    Option(rootPath.getParent).foreach(par =>
      Stats.invalidate(spark.sparkContext.hadoopConfiguration, par.toString))
    def live(c: Int) = new Path(rootPath, s"$cellCol=$c")
    def old(c: Int) = new Path(rootPath, s".old_${cellCol}_$c")
    val restored = sweepStore(spark, root, cellCol)
    val touched = cells.filter(c => fs.exists(live(c)))
    if (touched.isEmpty) return restored
    val stage = new Path(rootPath.getParent,
      s".rewrite_stage_${rootPath.getName}")
    if (fs.exists(stage)) fs.delete(stage, true) // stale from a crash
    transform(MetaParquet.readCells(spark, root, cellCol,
        touched.map(live(_).toString)))
      .repartition(cellWriteParts(spark, touched.size), col(cellCol))
      .write.mode("overwrite").partitionBy(cellCol).parquet(stage.toString)
    var committed = List.empty[Int]
    def rollback(): List[String] = {
      var unrestored = List.empty[String]
      for (r <- committed) {
        val ok =
          (!fs.exists(live(r)) ||
            fs.rename(live(r), new Path(stage, s"$cellCol=$r"))) &&
          (!fs.exists(old(r)) || fs.rename(old(r), live(r)))
        if (!ok) unrestored ::= live(r).toString
      }
      unrestored
    }
    def fail(cell: Path, unrestored: List[String]): Nothing = {
      if (unrestored.isEmpty) {
        fs.delete(stage, true)
        throw new IllegalStateException(
          s"$what: cannot swap cell $cell — the rewrite was NOT " +
            "applied (every touched cell was rolled back to its prior " +
            "rows; the artifact is unchanged)")
      }
      throw new IllegalStateException(
        s"$what: cannot swap cell $cell, and rolling back failed for " +
          s"[${unrestored.mkString(", ")}] — each of those cells has " +
          s"its prior rows in a `.old_` sibling under $root; restore " +
          s"them by renaming, then $recovery")
    }
    for (c <- touched) {
      val staged = new Path(stage, s"$cellCol=$c")
      if (!fs.rename(live(c), old(c))) fail(live(c), rollback())
      if (fs.exists(staged) && !fs.rename(staged, live(c))) {
        val self = if (fs.rename(old(c), live(c))) Nil
                   else List(live(c).toString)
        fail(live(c), self ++ rollback())
      }
      committed ::= c
    }
    for (c <- touched) fs.delete(old(c), true)
    fs.delete(stage, true)
    restored
  }
}
