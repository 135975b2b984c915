package graft.transforms

import graft.functions.Text
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.util.SerializableConfiguration

import scala.util.{Failure, Success, Try}
import scala.util.control.NonFatal

import TransformParser.TransformError

/** One cell-partitioned store of a stored index: its sub-directory under
  * the artifact, its cell column, and the routing that turns the kind's
  * shared frame into the store's rows with the cell column added. A
  * row's cell is a pure function of its own content, so a batch routes
  * to exactly the cells that can hold its rows.
  */
private[graft] final case class CellStore(name: String, cellCol: String,
    rows: DataFrame => DataFrame)

/** The one writer of the stored indexes' cell stores (LSH, TYPO, COSINE
  * and IVF): builds, REBUILD stages, APPEND, DELETE and COMPACT all
  * commit through it. The commit protocol, stated once:
  *  - Every kind is an ordered list of [[CellStore]]s over one shared
  *    frame. A statement materializes that frame once (an eager local
  *    checkpoint; an IVF build's trained assignment stays a plan), then
  *    writes one leg per store concurrently ([[land]]); each leg
  *    repartitions its rows to [[cellWriteParts]] tasks on the cell
  *    column and sorts each task by cell, so a cell lands whole in one
  *    task — one file per touched cell per write.
  *  - A task writes each of its cells' files through Spark's own parquet
  *    writer under a hidden name,
  *    `<col>=<c>/.pending-part-<task>-<attempt>-<stmt><ext>`, and reports
  *    (cell, file, rows) to the driver ([[writePending]]). Readers skip
  *    dot-names, so a pending file is invisible. A failed task attempt
  *    deletes its own pending files.
  *  - Only when every leg's write job has succeeded does the driver
  *    publish: one rename per reported file, to
  *    `part-<task>-<stmt>.c000<ext>` (the names, codec and footer Spark's
  *    own committer gives), then it deletes any unreported pending file
  *    in the cells it touched (a retried or speculative attempt's). If
  *    any leg fails, no leg publishes: the statement's pending files are
  *    deleted and the store is unchanged. There is no `_temporary` tree
  *    and no `_SUCCESS` file.
  *  - The reports are the statement's account of what it wrote
  *    ([[Landed]]): its touched cells and the artifact's layout record
  *    ([[IndexManifest]], every file with its rows) come from them, so
  *    no job re-reads a store to learn what was written.
  *  - Mutations of an existing artifact (APPEND, DELETE, COMPACT)
  *    hold its single-writer lock ([[IndexMaintenance.withMaintLock]],
  *    re-entrant under a verb) and run inside
  *    [[IndexManifest.maintained]]: it reads the prior record, drops it
  *    before a row is touched (absent, never stale), and commits the
  *    prior folded with the statement's reports as the next version. A
  *    statement whose write fails before anything is published
  *    ([[Unpublished]]) recommits the prior unchanged. A build
  *    overwrites every store and commits the record's `v1` from its
  *    reports; REBUILD builds into a fresh stage it swaps in whole.
  *  - APPEND adds files next to a cell's existing ones. DELETE and
  *    COMPACT rewrite only the routed cells ([[rewrite]]): survivors
  *    land in a staging sibling per store, then each cell swaps with two
  *    renames (live → `.old_<col>_<cell>`, staging → live). A failed
  *    rename rolls every committed cell of its store back. A crash
  *    between a cell's two renames leaves `.old_` as the only copy of
  *    its rows; [[sweep]] restores it before the next statement reads or
  *    writes the store (APPEND, DELETE, COMPACT and REBUILD all sweep
  *    first) and reaps `.old_` dirs whose swap finished.
  *  - A sweep-restored cell's rows are in no report and were absent from
  *    any record committed while the cell was down: it joins the touched
  *    cells, and it is the one cell a mutation's record refresh
  *    recounts.
  * Every stored probe reads the stores through [[snapshot]], whose
  * scaladoc states the probe protocol.
  */
private[graft] object CellStore {
  private def cell(hash: Column, cells: Int): Column =
    pmod(hash, lit(cells.toLong)).cast("int")

  private def idCell(id: Column, cells: Int): Column =
    cell(xxhash64(id), cells)

  /** lsh_text over (id, shs): band keys routed by (band, bh) into
    * `bands`, shingle sets by id into `shingles`. `bandKeys` maps the
    * shared frame to (id, band, bh); `hashShingles` stores the sets as
    * xxhash64 longs (the `xxhash64` scheme) instead of as given (the
    * `raw` scheme, or a REBUILD moving the stored sets).
    */
  def lsh(cells: Int, bandKeys: DataFrame => DataFrame,
      hashShingles: Boolean): Seq[CellStore] = Seq(
    CellStore("bands", "pc", sh => bandKeys(sh)
      .withColumn("pc", cell(xxhash64(col("band"), col("bh")), cells))),
    CellStore("shingles", "sc", sh =>
      (if (hashShingles)
        sh.select(col("id"), Text.hashedShingles(col("shs")).as("shs"))
      else sh).withColumn("sc", idCell(col("id"), cells))))

  /** typo_text over (id, txt): delete-1 variant hashes routed by hash
    * into `variants`, strings by id into `strings`.
    */
  def typo(cells: Int): Seq[CellStore] = Seq(
    CellStore("variants", "pc", r => NearDup.delete1Variants(r, "txt")
      .select(col("id"), col("vh"))
      .withColumn("pc", cell(col("vh"), cells))),
    CellStore("strings", "sc", _.withColumn("sc", idCell(col("id"), cells))))

  /** cosine_vec over (id, v, nrm): sign-LSH buckets routed by
    * (t, bucket) into `buckets`, vectors by id into `vectors`.
    */
  def cosine(cells: Int, tables: Int, bits: Int, dims: Int)
      : Seq[CellStore] = Seq(
    CellStore("buckets", "pc", ee =>
      VecKnn.bucketFrame(ee, tables, bits, dims)
        .withColumn("pc", cell(xxhash64(col("t"), col("bucket")), cells))),
    CellStore("vectors", "sc", _.withColumn("sc", idCell(col("id"), cells))))

  /** ivf_vec over a frame that already carries its `cluster` (the
    * trained or frozen-centroid assignment): vectors into `index`, PQ
    * code arrays into `codes` when the artifact has PQ.
    */
  def ivf(index: DataFrame => DataFrame,
      codes: Option[DataFrame => DataFrame]): Seq[CellStore] =
    CellStore("index", "cluster", index) +:
      codes.map(CellStore("codes", "cluster", _)).toSeq

  /** The (store, cell column) pairs of an artifact kind — its store list
    * at any geometry. One mapping for DESCRIBE, COMPACT, REBUILD and the
    * layout record, so they cannot disagree on what a
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

  /** One statement's effect on one store, from its writers' reports: the
    * files it published as (cell, file, rows); the cells it rewrote
    * whole, whose prior files are gone (a rewritten cell with no
    * published file is gone); and the cells a sweep restored, whose rows
    * no report holds.
    */
  final case class Landed(files: Seq[(Int, String, Long)] = Nil,
      rewritten: Seq[Int] = Nil, restored: Seq[Int] = Nil) {
    def touched: Seq[Int] =
      (files.map(_._1) ++ rewritten ++ restored).distinct.sorted
  }

  /** A file a write task left under its hidden name: its cell, that
    * name, the name it is published under, and its row count.
    */
  private[graft] final case class Pending(cell: Int, path: String,
      published: String, rows: Long)

  /** Shuffle parallelism for a cell-partitioned store write: ideally one
    * cell per task, capped at 4× the cluster's cores. Without the pin,
    * AQE coalesces a microbatch-sized exchange to one task that then
    * writes every cell's file sequentially — the write is bound by
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
    rethrowFirst(running.map(f => Try(Await.result(f, Duration.Inf))))
  }

  /** The legs' results, or the first failure with the others suppressed. */
  private def rethrowFirst[A](settled: Seq[Try[A]]): Seq[A] = {
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

  /** Each cell directory of the store at `root` with its entries,
    * walked store → cell → file with `listStatus`: cell directories are
    * flat, and a recursive `listFiles` pays a permission probe per file
    * on a local file system. Lazy, so a caller can stop at the first
    * cell it needs.
    */
  private[graft] def listCells(fs: FileSystem, root: Path, cellCol: String)
      : Iterator[(Int, Seq[FileStatus])] =
    if (!fs.exists(root)) Iterator.empty
    else fs.listStatus(root).iterator
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith(s"$cellCol="))
      .map(st => st.getPath.getName.stripPrefix(s"$cellCol=").toInt ->
        fs.listStatus(st.getPath).toSeq)

  /** Whether an entry is a writer's leftover hidden file. */
  private[graft] def isPending(st: FileStatus): Boolean =
    st.getPath.getName.startsWith(".pending-")

  /** A build or REBUILD stage: overwrite every store of `base` with its
    * routing of `shared`, one concurrent leg per store, and commit the
    * layout record's `v1` from the legs' reports. `shared` must already
    * be materialized — every leg reads it.
    */
  def write(base: String, stores: Seq[CellStore], shared: DataFrame,
      cells: Int): Unit = {
    val spark = shared.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    IndexManifest.invalidate(conf, base)
    val fs = new Path(base).getFileSystem(conf)
    val roots = stores.map(st => new Path(base, st.name))
    roots.foreach { r => fs.delete(r, true); fs.mkdirs(r) }
    val parts = cellWriteParts(spark, cells)
    val files = surfaced(keep = false)(land(spark,
      stores.lazyZip(roots).map { (st, r) =>
        Leg(r.toString, st.cellCol, st.rows(shared), parts) }))
    IndexManifest.commit(spark, base, 1,
      IndexManifest.merge(spark, base, stores.map(st => st.name -> st.cellCol),
        Map.empty, stores.lazyZip(files).map((st, f) => st.name -> Landed(f))
          .toMap))
    ()
  }

  /** Add a batch to an existing artifact of `kind`: geometry comes from
    * its `meta/`, never from the caller, and `meta/` is untouched.
    * Crashed cells are restored first — an append that re-created a
    * downed cell's live directory with only the batch's rows would make
    * the next sweep reap the prior rows as stale. Returns each store's
    * touched cells: the cells its report names plus the restored ones.
    */
  def append(base: String, kind: String, batch: DataFrame)
      : Map[String, Seq[Int]] =
    maintain(base, kind, batch, "APPEND") { (spark, shared, stores, cells) =>
      val restored =
        sweep(spark, base, stores.map(st => st.name -> st.cellCol))
      val parts = cellWriteParts(spark, cells)
      val files = surfaced(keep = restored.forall(_.isEmpty))(
        land(spark, stores.map(st =>
          Leg(s"$base/${st.name}", st.cellCol, st.rows(shared), parts))))
      stores.lazyZip(files).lazyZip(restored).map { (st, f, r) =>
        st.name -> Landed(f, restored = r) }.toMap
    }

  /** Remove a batch from an existing artifact of `kind`: each store's
    * routed cells ([[routes]]) are rewritten without the batch's `idCol`
    * values ([[rewrite]], a broadcast anti-join); untouched cells are
    * never listed, read or rewritten. Returns each store's touched cells.
    */
  def delete(base: String, kind: String, batch: DataFrame, idCol: String)
      : Map[String, Seq[Int]] =
    maintain(base, kind, batch, "DELETE") { (spark, shared, stores, _) =>
      val ids =
        if (preRouted(shared, stores)) shared.select(col(idCol))
        else shared.select(col(idCol)).distinct().localCheckpoint()
      rewrite(spark, base, stores.zip(routes(shared, stores)).map {
          case (st, cells) => (st.name, st.cellCol, cells) },
        "INDEX … DELETE", "re-running the same DELETE statement " +
          "completes the rest (deleting already-deleted ids is a no-op)")(
        _.join(broadcast(ids), Seq(idCol), "left_anti"))
    }

  /** APPEND's and DELETE's shared shape: lock, meta and kind check, the
    * kind's frame prep and stores ([[batchOf]]; a batch with nothing
    * indexable returns no touched cells), then — inside the layout
    * record's maintenance ([[IndexManifest.maintained]]) — materialize
    * the batch and run `body`, whose reports the record folds in.
    */
  private def maintain(base: String, kind: String, batch: DataFrame,
      verb: String)(
      body: (SparkSession, DataFrame, Seq[CellStore], Int)
        => Map[String, Landed]): Map[String, Seq[Int]] = {
    val spark = batch.sparkSession
    IndexMaintenance.withMaintLock(spark, base, verb) {
      val meta = MetaParquet.readRow(spark, s"$base/meta")
      NearDup.requireKind(meta, base, kind, s"INDEX … $verb")
      batchOf(base, kind, meta, batch, s"INDEX … $verb") match {
        case None => Map.empty
        case Some((frame, stores)) =>
          IndexManifest.maintained(spark, base,
              storesFor(kind, s"INDEX … $verb at '$base'")) {
            body(spark, frame.localCheckpoint(), stores,
              meta.getAs[Int]("cells"))
          }.map { case (sub, landed) => sub -> landed.touched }
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
        // a batch must speak the stored sets' scheme, or every
        // intersection with them would be empty
        val hashed =
          if (!meta.schema.fieldNames.contains("shingle_scheme")) false
          else meta.getAs[String]("shingle_scheme") match {
            case "xxhash64" => true
            case "raw" => false
            case other => throw new IllegalArgumentException(
              s"stored band index at $base uses unknown shingle scheme " +
                s"'$other'")
          }
        Some((batch, lsh(cells, NearDup.bandKeys(_,
          meta.getAs[Int]("num_perm"), meta.getAs[Int]("num_bands"),
          meta.getAs[Int]("rows_per_band")), hashed)))
      case "typo_text" =>
        Some((batch.select(col("id"), col("txt")), typo(cells)))
      case "cosine_vec" =>
        val dims = meta.getAs[Int]("dims")
        val bd = VecKnn.probeDims(batch, s"$what batch")
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

  /** One probe statement's read of a stored index: `meta/` and the
    * layout record ([[IndexManifest.read]]), read once when the statement
    * is built. It is the read-side counterpart of the writer above, and
    * every stored probe (AGAINST STORED, KNN … STORED) and the scale
    * harnesses' probe diagnostics read a store through it. The probe
    * protocol, stated once:
    *  - One snapshot per statement. The kind is checked on its `meta/`
    *    row, and every stage of the statement resolves its cells from
    *    its one record, so two stages cannot see two versions. An IVF
    *    artifact written before `meta/` existed is probed without the
    *    check. Without a record, cells resolve from the live layout.
    *  - Routed cells are read as explicit paths: the record's data
    *    files, else the existing cell directories (one existence check
    *    each, through the path's own Hadoop FileSystem, so hdfs:// and
    *    s3a:// cells do not read as absent). Spark recovers the cell
    *    column from the paths under the store's `basePath`. Not a
    *    `.where(cell isin …)` filter over the store: that prunes rows
    *    but still lists every cell directory to discover partitions, a
    *    metadata pass that grows with the index (graft.BandScale
    *    measured a fixed batch's probe ×4.6 slower as cells grew 512 →
    *    8192 under listing, flat with explicit paths). A cell without a
    *    file holds no candidate and is skipped.
    *  - Stage 1 ([[Snapshot.route]]) routes the batch through the
    *    kind's own store list ([[batchOf]]: scheme, geometry from meta,
    *    the cosine dims check), so it reads exactly the cells an APPEND
    *    of the same batch would write. The batch's routing-store rows
    *    are checkpointed: they feed the cell collect and the candidate
    *    join.
    *  - [[Snapshot.candidates]] joins the routed cells' stored rows to
    *    the broadcast batch rows on the store's keys (every column but
    *    `id` and the cell column), keeps the distinct (b_id, c_id)
    *    pairs that pass the kind's optional filter, and checkpoints them:
    *    they feed the id routing and the kind's verify.
    *  - Stage 2 routes the candidates' stored ids into the id-keyed
    *    store's cells and reads them from the same snapshot.
    *  - The kind supplies only its verify or rank step. IVF routes by
    *    centroid itself and reads `index`, or `codes` then `index`,
    *    through [[Snapshot.read]].
    *  - The window: the files a snapshot names are listed and opened
    *    later — stage 1's while the statement is built, stage 2's when
    *    it runs. A DELETE or COMPACT that swaps a resolved cell out in
    *    between leaves a named file missing, and the probe then fails on
    *    it rather than answer from two versions. There is no retry; a
    *    commit that never renames a cell closes the window.
    */
  private[graft] def snapshot(spark: SparkSession, base: String,
      kind: String, what: String): Snapshot = {
    val meta = try MetaParquet.readRow(spark, s"$base/meta") catch {
      case _: java.io.FileNotFoundException if kind == "ivf_vec" =>
        new GenericRowWithSchema(Array.empty, new StructType())
    }
    NearDup.requireKind(meta, base, kind, what)
    new Snapshot(spark, base, kind, what, meta, IndexManifest.read(spark, base))
  }

  /** A probe statement's [[snapshot]] of the index at `base`. */
  private[graft] final class Snapshot private[CellStore] (
      spark: SparkSession, val base: String, kind: String, what: String,
      val meta: Row, record: Option[IndexManifest.Record]) {
    private val cellCols = storesFor(kind, what).toMap

    /** The data files, or without a record the cell directories, that
      * hold the `wanted` cells of `store`.
      */
    def paths(store: String, wanted: Seq[Int]): Seq[String] =
      IndexManifest.cellPaths(spark, record, s"$base/$store",
        cellCols(store), wanted)

    /** The `wanted` cells of `store`, cell column included; None when no
      * file holds them.
      */
    def read(store: String, wanted: Seq[Int]): Option[DataFrame] = {
      val ps = paths(store, wanted)
      if (ps.isEmpty) None
      else Some(MetaParquet.readCells(spark, s"$base/$store",
        cellCols(store), ps))
    }

    /** Stage 1's routing of `batch`; None when it holds nothing
      * indexable.
      */
    def route(batch: DataFrame): Option[Routed] =
      batchOf(base, kind, meta, batch, what).map { case (frame, stores) =>
        val rows = stores.head.rows(frame).localCheckpoint(false)
        Routed(frame, stores, rows, rows.select(col(stores.head.cellCol))
          .distinct().collect().map(_.getInt(0)).toSeq.sorted)
      }

    /** Both stages over `batch`, the candidate pairs filtered by `keep`;
      * None when a stage resolves no file.
      */
    def candidates(batch: DataFrame,
        keep: DataFrame => DataFrame = identity): Option[Candidates] =
      route(batch).flatMap { r =>
        val Seq(byKey, byId) = r.stores
        read(byKey.name, r.cells).flatMap { stored =>
          val keys = r.rows.columns.toSeq.filterNot(Set("id", byKey.cellCol))
          def keyed(df: DataFrame, id: String): DataFrame =
            df.select(col("id").as(id) +: keys.map(col): _*)
          val pairs = keep(keyed(stored, "c_id")
              .join(broadcast(keyed(r.rows, "b_id")), keys))
            .select(col("b_id"), col("c_id")).distinct()
            .localCheckpoint(false)
          val ids = pairs
            .select(idCell(col("c_id"), meta.getAs[Int]("cells"))).distinct()
            .collect().map(_.getInt(0)).toSeq.sorted
          read(byId.name, ids).map(Candidates(r.cells, pairs, ids, _,
            byId.rows(r.frame).drop(byId.cellCol)))
        }
      }
  }

  /** Stage 1 of a probe: the kind's frame of the batch and its stores,
    * the batch's rows in the first (routing) store, and their cells.
    */
  private[graft] final case class Routed(frame: DataFrame,
      stores: Seq[CellStore], rows: DataFrame, cells: Seq[Int])

  /** Both stages of a probe: the routed cells, the distinct (b_id, c_id)
    * candidate pairs, the candidates' id cells, those cells' rows of the
    * id-keyed store, and the batch's rows as that store holds them.
    */
  private[graft] final case class Candidates(routed: Seq[Int],
      pairs: DataFrame, ids: Seq[Int], stored: DataFrame, batch: DataFrame)

  /** A shared frame that already carries the stores' cell column (IVF's
    * frozen-centroid assignment, one row per vec_id) is routed once for
    * every store, and is its own id set.
    */
  private def preRouted(shared: DataFrame, stores: Seq[CellStore])
      : Boolean = stores.forall(st => shared.columns.contains(st.cellCol))

  /** Each store's routed cells of `shared`, in order, from ONE distinct
    * collect over the union of the stores' (store, cell) pairs.
    */
  private def routes(shared: DataFrame, stores: Seq[CellStore])
      : Seq[Seq[Int]] = {
    val routed = preRouted(shared, stores)
    val pairs = (if (routed) Seq(shared -> stores.head.cellCol)
      else stores.map(st => st.rows(shared) -> st.cellCol))
      .zipWithIndex.map { case ((rows, cellCol), i) =>
        rows.select(lit(i).as("s"), col(cellCol).cast("int").as("c")) }
      .reduce(_ union _).distinct().collect()
      .map(r => r.getInt(0) -> r.getInt(1))
    stores.indices.map { i =>
      val s = if (routed) 0 else i
      pairs.collect { case (`s`, c) => c }.toSeq.sorted
    }
  }

  /** COMPACT's rewrite: each (store, cell column, dirty cells) of `base`
    * rewritten back to one file per cell ([[rewrite]] with the
    * identity). Returns what landed in each store with dirty cells.
    */
  def compact(spark: SparkSession, base: String,
      dirty: Seq[(String, String, Seq[Int])]): Map[String, Landed] = {
    val targets = dirty.filter(_._3.nonEmpty)
    if (targets.isEmpty) Map.empty
    else rewrite(spark, base, targets, "INDEX COMPACT",
      "re-running COMPACT completes the rest (compacting a compacted " +
        "cell is a no-op)")(identity)
  }

  /** Rewrite the listed cells of each (store, cell column, cells) of
    * `base` in place through `transform` (DELETE's anti-join, COMPACT's
    * identity), with the swap and rollback of the commit protocol above.
    * Each store is swept first, so a just-restored cell takes part in
    * this rewrite. The listed cells that exist are read as explicit
    * paths and landed cell-partitioned in the store's staging sibling,
    * `cellWriteParts(cells)` tasks wide, every store's stage in one
    * [[land]] — a failed stage write leaves every store unchanged. Then
    * each store's cells swap; a cell whose rows all vanish has no staging
    * dir and is simply removed. A rollback rename that itself fails is
    * named in the error with `recovery`. Returns what landed in each
    * store: the staged files, the rewritten cells and the restored ones.
    * Callers run it inside [[IndexManifest.maintained]], which has
    * dropped the layout record.
    */
  private def rewrite(spark: SparkSession, base: String,
      targets: Seq[(String, String, Seq[Int])], what: String,
      recovery: String)(
      transform: DataFrame => DataFrame): Map[String, Landed] = {
    val basePath = new Path(base)
    val fs = basePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val plans = targets.map { case (sub, cellCol, cells) =>
      val root = new Path(basePath, sub)
      val restored = sweepStore(spark, root.toString, cellCol)
      val touched =
        cells.distinct.filter(c => fs.exists(new Path(root, s"$cellCol=$c")))
      Rewrite(sub, cellCol, root, new Path(basePath, s".rewrite_stage_$sub"),
        restored, touched)
    }
    val busy = plans.filter(_.touched.nonEmpty)
    busy.foreach(p => fs.delete(p.stage, true)) // stale from a crash
    val staged = surfaced(keep = plans.forall(_.restored.isEmpty))(
      land(spark, busy.map(p => Leg(p.stage.toString, p.cellCol,
        transform(MetaParquet.readCells(spark, p.root.toString, p.cellCol,
          p.touched.map(p.live(_).toString))),
        cellWriteParts(spark, p.touched.size)))))
    busy.foreach(swap(fs, _, what, recovery))
    val files = busy.map(_.sub).zip(staged).toMap
    plans.map { p =>
      // a published stage file now sits in its live cell
      p.sub -> Landed(files.getOrElse(p.sub, Nil).map { case (c, f, n) =>
        (c, new Path(p.live(c), new Path(f).getName).toString, n) },
        p.touched, p.restored)
    }.toMap
  }

  /** One store's share of a [[rewrite]]. */
  private final case class Rewrite(sub: String, cellCol: String, root: Path,
      stage: Path, restored: Seq[Int], touched: Seq[Int]) {
    def live(c: Int): Path = new Path(root, s"$cellCol=$c")
    def old(c: Int): Path = new Path(root, s".old_${cellCol}_$c")
    def staged(c: Int): Path = new Path(stage, s"$cellCol=$c")
  }

  /** Swap a rewrite's staged cells in (live → `.old_`, stage → live),
    * rolling every committed cell back on a failed rename, then drop the
    * `.old_` copies and the stage.
    */
  private def swap(fs: FileSystem, p: Rewrite, what: String,
      recovery: String): Unit = {
    var committed = List.empty[Int]
    def rollback(): List[String] = {
      var unrestored = List.empty[String]
      for (r <- committed) {
        val ok =
          (!fs.exists(p.live(r)) || fs.rename(p.live(r), p.staged(r))) &&
          (!fs.exists(p.old(r)) || fs.rename(p.old(r), p.live(r)))
        if (!ok) unrestored ::= p.live(r).toString
      }
      unrestored
    }
    def fail(cell: Path, unrestored: List[String]): Nothing = {
      if (unrestored.isEmpty) {
        fs.delete(p.stage, true)
        throw new IllegalStateException(
          s"$what: cannot swap cell $cell — the rewrite was NOT " +
            "applied (every touched cell was rolled back to its prior " +
            "rows; the artifact is unchanged)")
      }
      throw new IllegalStateException(
        s"$what: cannot swap cell $cell, and rolling back failed for " +
          s"[${unrestored.mkString(", ")}] — each of those cells has " +
          s"its prior rows in a `.old_` sibling under ${p.root}; restore " +
          s"them by renaming, then $recovery")
    }
    for (c <- p.touched) {
      if (!fs.rename(p.live(c), p.old(c))) fail(p.live(c), rollback())
      if (fs.exists(p.staged(c)) && !fs.rename(p.staged(c), p.live(c))) {
        val self = if (fs.rename(p.old(c), p.live(c))) Nil
                   else List(p.live(c).toString)
        fail(p.live(c), self ++ rollback())
      }
      committed ::= c
    }
    for (c <- p.touched) fs.delete(p.old(c), true)
    fs.delete(p.stage, true)
    ()
  }

  /** One store's write: `rows` landed cell-partitioned on `cellCol`
    * under `root`, `parts` tasks wide; returns the published (cell,
    * file, rows).
    */
  private[graft] def writeCells(rows: DataFrame, root: String,
      cellCol: String, parts: Int): Seq[(Int, String, Long)] =
    surfaced(keep = false)(
      land(rows.sparkSession, Seq(Leg(root, cellCol, rows, parts)))).head

  /** One store's rows to land under `root`, `parts` tasks wide. */
  private final case class Leg(root: String, cellCol: String,
      rows: DataFrame, parts: Int)

  /** A statement's write failed before it published a file, so the
    * stores are as they were: [[land]] raises it around the failure.
    * [[IndexManifest.maintained]] recommits the prior layout record for
    * it and rethrows the cause; every other caller sees the cause
    * ([[surfaced]]).
    */
  private[transforms] final class Unpublished(cause: Throwable)
      extends RuntimeException(cause)

  /** `body`, with an [[Unpublished]] failure rethrown as its cause
    * unless `keep`: a build has no prior record to keep, and a
    * statement whose sweep restored cells before its write has changed
    * the stores.
    */
  private[transforms] def surfaced[A](keep: Boolean)(body: => A): A =
    try body catch { case u: Unpublished if !keep => throw u.getCause }

  /** Write every leg's cells concurrently ([[writePending]]) and publish
    * them only once every leg's write succeeded; returns each leg's
    * published (cell, file, rows), in order. When a leg fails, nothing
    * is published: the other legs' pending files are deleted, and so are
    * the failed leg's (a write job that failed may have finished some
    * tasks), then the failure is rethrown as [[Unpublished]], the other
    * legs' failures suppressed. The legs' tasks share one broadcast of
    * the session's Hadoop conf ([[writeConf]]).
    */
  private def land(spark: SparkSession, legs: Seq[Leg])
      : Seq[Seq[(Int, String, Long)]] = {
    val stmt = java.util.UUID.randomUUID().toString
    val conf = spark.sparkContext.hadoopConfiguration
    val shipped = writeConf(spark)
    val written =
      try inParallel(legs.map(l => () => Try(
        writePending(l.rows, l.root, l.cellCol, l.parts, stmt, shipped))))
      finally shipped.destroy()
    if (written.exists(_.isFailure)) {
      legs.zip(written).foreach {
        case (l, Success(pending)) =>
          val fs = new Path(l.root).getFileSystem(conf)
          pending.foreach(p => fs.delete(new Path(p.path), false))
        case (l, Failure(_)) =>
          val root = new Path(l.root)
          val fs = root.getFileSystem(conf)
          for ((_, entries) <- listCells(fs, root, l.cellCol);
              st <- entries if isPending(st) &&
                st.getPath.getName.contains(stmt))
            fs.delete(st.getPath, false)
      }
    }
    // a failure rethrows, cleaned up
    val pending = try rethrowFirst(written)
      catch { case NonFatal(e) => throw new Unpublished(e) }
    legs.zip(pending).map { case (l, p) =>
      publish(new Path(l.root).getFileSystem(conf), p) }
  }

  /** Publish a leg's reported files (one rename each), then delete the
    * unreported pending files left in the cells it touched — a retried
    * or speculative task attempt's. Returns (cell, file, rows).
    */
  private def publish(fs: FileSystem, pending: Seq[Pending])
      : Seq[(Int, String, Long)] = {
    val files = pending.map { p =>
      val from = new Path(p.path)
      val to = new Path(from.getParent, p.published)
      if (!fs.rename(from, to)) throw new IllegalStateException(
        s"cell store write: cannot publish $from as $to")
      (p.cell, to.toString, p.rows)
    }
    for (dir <- pending.map(p => new Path(p.path).getParent).distinct;
        st <- fs.listStatus(dir) if isPending(st))
      fs.delete(st.getPath, false)
    files
  }

  /** The session's Hadoop conf, broadcast for one statement's write
    * tasks: a conf captured in each task's closure is deserialized by
    * every task.
    */
  private[graft] def writeConf(spark: SparkSession)
      : Broadcast[SerializableConfiguration] =
    spark.sparkContext.broadcast(
      new SerializableConfiguration(spark.sparkContext.hadoopConfiguration))

  /** The task side of a store write: `rows` repartitioned to `parts`
    * tasks on `cellCol` and sorted by cell within each task, which
    * writes one parquet file per cell it holds under
    * `<root>/<cellCol>=<c>/.pending-part-<task>-<attempt>-<stmt><ext>`.
    * The files come from Spark's parquet `OutputWriterFactory` prepared
    * as `DataFrameWriter` prepares it, so codec, footer schema and
    * extension match its files; the cell column is left out of the
    * data, as `partitionBy` leaves it. The tasks open their files with
    * `shipped` ([[writeConf]]) plus the few keys that preparation set,
    * which travel in the closure. Returns each file with its cell, its
    * published name `part-<task>-<stmt>.c000<ext>` and its rows (≥ 1 —
    * a task opens a file only for a row).
    */
  private[graft] def writePending(rows: DataFrame, root: String,
      cellCol: String, parts: Int, stmt: String,
      shipped: Broadcast[SerializableConfiguration]): Seq[Pending] = {
    import org.apache.hadoop.mapreduce.Job
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    import scala.jdk.CollectionConverters._
    val spark = rows.sparkSession
    val dataCols = rows.columns.toSeq.filterNot(_ == cellCol).map(col)
    val dataSchema = rows.select(dataCols: _*).schema
    val base = shipped.value.value
    val job = Job.getInstance(new Configuration(base))
    val factory = new ParquetFileFormat()
      .prepareWrite(spark, job, Map.empty, dataSchema)
    val prepared = job.getConfiguration.iterator.asScala
      .filter(e => base.getRaw(e.getKey) != e.getValue)
      .map(e => e.getKey -> e.getValue).toMap
    val ext = ".c000" +
      factory.getFileExtension(taskContext(job.getConfiguration, 0, 0))
    rows.repartition(parts, col(cellCol)).sortWithinPartitions(cellCol)
      .select(dataCols :+ col(cellCol).cast("int"): _*)
      .queryExecution.toRdd
      .mapPartitions(writeTask(root, cellCol, stmt, ext, dataSchema,
        factory, shipped, prepared))
      .collect().toSeq
  }

  private def taskContext(conf: Configuration, task: Int, attempt: Int)
      : org.apache.hadoop.mapreduce.TaskAttemptContext = {
    import org.apache.hadoop.mapreduce.{TaskAttemptID, TaskType}
    new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(conf,
      new TaskAttemptID("cellstore", 0, TaskType.MAP, task, attempt))
  }

  /** One [[writePending]] task over rows (data columns…, cell) sorted by
    * cell. A failed attempt closes its open file and deletes every file
    * it wrote.
    */
  private def writeTask(root: String, cellCol: String, stmt: String,
      ext: String, dataSchema: StructType, factory: OutputWriterFactory,
      shipped: Broadcast[SerializableConfiguration],
      prepared: Map[String, String])(
      it: Iterator[InternalRow]): Iterator[Pending] = {
    import org.apache.spark.TaskContext
    import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
    import org.apache.spark.sql.execution.datasources.OutputWriter
    val task = TaskContext.get()
    val conf = new Configuration(shipped.value.value)
    prepared.foreach { case (k, v) => conf.set(k, v) }
    val attempt = taskContext(conf, task.partitionId(),
      task.attemptNumber())
    val part = f"part-${task.partitionId()}%05d"
    val project = UnsafeProjection.create(dataSchema)
    val cellAt = dataSchema.length
    val done = Vector.newBuilder[Pending]
    val opened = scala.collection.mutable.ArrayBuffer.empty[String]
    var writer: OutputWriter = null
    var cell = 0
    var n = 0L
    task.addTaskFailureListener(new org.apache.spark.util.TaskFailureListener {
      def onTaskFailure(ctx: TaskContext, error: Throwable): Unit = {
        if (writer != null) Try(writer.close())
        opened.foreach { f =>
          val p = new Path(f)
          Try(p.getFileSystem(conf).delete(p, false))
        }
      }
    })
    def close(): Unit = {
      writer.close()
      done += Pending(cell, writer.path(), s"$part-$stmt$ext", n)
      writer = null
    }
    it.foreach { r =>
      val c = r.getInt(cellAt)
      if (writer == null || c != cell) {
        if (writer != null) close()
        cell = c
        n = 0L
        val f = s"$root/$cellCol=$c/.pending-$part-" +
          s"${task.taskAttemptId()}-$stmt$ext"
        opened += f
        writer = factory.newInstance(f, dataSchema, attempt)
      }
      writer.write(project(r))
      n += 1
    }
    if (writer != null) close()
    done.result().iterator
  }
}
