package graft.transforms

import graft.functions.Text
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.util.SerializableConfiguration

import scala.util.{Failure, Success, Try}

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
  *    checkpoint; an IVF build's trained assignment stays a plan) and
  *    nothing else: DELETE routes it with one collect job ([[routes]])
  *    and anti-joins the routed cells against its broadcast ids. Then
  *    it writes one leg per store concurrently ([[land]]); each leg
  *    repartitions its rows to [[cellWriteParts]] tasks on the cell
  *    column and sorts each task by cell, so a cell lands whole in one
  *    task — one file per touched cell per write.
  *  - A task writes each of its cells' files through Spark's own parquet
  *    writer under its final, statement-scoped name,
  *    `<col>=<c>/part-<task>-<attempt>-<stmt>.c000<ext>`, beside the
  *    files already there, and reports (cell, file, rows) to the driver
  *    ([[writeFiles]]). No data file is ever renamed. A failed task
  *    attempt deletes its own files; if any leg fails, the statement's
  *    files are deleted by their statement id. There is no `_temporary`
  *    tree and no `_SUCCESS` file.
  *  - The commit is the layout record ([[IndexManifest]]): the reports
  *    are the statement's account of what it wrote ([[Landed]]), and a
  *    file is part of the index once a committed version lists it, so
  *    no job re-reads a store to learn what was written, and a file no
  *    version lists (a failed statement's, a losing speculative
  *    attempt's) is invisible to every reader.
  *  - A build overwrites every store and commits the record's `v1` from
  *    its reports; REBUILD builds into a fresh stage it swaps in whole.
  *  - Mutations of an existing artifact (APPEND, DELETE, COMPACT) hold
  *    its single-writer lock ([[IndexMaintenance.withMaintLock]],
  *    re-entrant under a verb) and run inside
  *    [[IndexManifest.maintained]]: the prior record (snapshotted first
  *    when the artifact has none) is never dropped; the statement writes
  *    beside it and commits the prior folded with its reports as the
  *    next version with one rename, and only then deletes what that
  *    version superseded. APPEND adds files to its cells. DELETE and
  *    COMPACT rewrite the routed cells ([[rewrite]]): the cells' files
  *    are read from the prior record, the survivors land in the same
  *    cell directories under the statement's names, and the next
  *    version lists only those for the rewritten cells.
  *  - A failure before the commit leaves the prior version current. A
  *    crash between the commit and the deletes leaves superseded files
  *    that no version lists; COMPACT reclaims every unlisted file.
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
    * files it wrote as (cell, file, rows), and the cells it rewrote
    * whole, whose prior files it superseded (a rewritten cell with no
    * written file is gone).
    */
  final case class Landed(files: Seq[(Int, String, Long)] = Nil,
      rewritten: Seq[Int] = Nil) {
    def touched: Seq[Int] = (files.map(_._1) ++ rewritten).distinct.sorted
  }

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
    val files = land(spark, stores.lazyZip(roots).map { (st, r) =>
      Leg(r.toString, st.cellCol, st.rows(shared), parts) })
    IndexManifest.commit(spark, base, 1,
      IndexManifest.merge(stores.map(st => st.name -> st.cellCol),
        Map.empty, stores.lazyZip(files).map((st, f) => st.name -> Landed(f))
          .toMap))
    ()
  }

  /** Add a batch to an existing artifact of `kind`: geometry comes from
    * its `meta/`, never from the caller, and `meta/` is untouched.
    * Returns each store's touched cells.
    */
  def append(base: String, kind: String, batch: DataFrame)
      : Map[String, Seq[Int]] =
    maintain(base, kind, batch, "APPEND") {
        (spark, shared, stores, cells, _) =>
      val parts = cellWriteParts(spark, cells)
      val files = land(spark, stores.map(st =>
        Leg(s"$base/${st.name}", st.cellCol, st.rows(shared), parts)))
      stores.lazyZip(files).map((st, f) => st.name -> Landed(f)).toMap
    }

  /** Remove a batch from an existing artifact of `kind`: each store's
    * routed cells ([[routes]]) are rewritten without the batch's `idCol`
    * values ([[rewrite]], an anti-join against the broadcast ids of the
    * materialized shared frame, whose duplicate ids change no answer);
    * untouched cells are never listed, read or rewritten. Returns each
    * store's touched cells.
    */
  def delete(base: String, kind: String, batch: DataFrame, idCol: String)
      : Map[String, Seq[Int]] =
    maintain(base, kind, batch, "DELETE") {
        (spark, shared, stores, _, prior) =>
      rewrite(spark, base, prior, stores.zip(routes(shared, stores)).map {
          case (st, cells) => (st.name, st.cellCol, cells) })(
        _.join(broadcast(shared.select(col(idCol))), Seq(idCol),
          "left_anti"))
    }

  /** APPEND's and DELETE's shared shape: lock, meta and kind check, the
    * kind's frame prep and stores ([[batchOf]]; a batch with nothing
    * indexable returns no touched cells), then — inside the layout
    * record's maintenance ([[IndexManifest.maintained]]) — materialize
    * the batch and run `body` against the prior record; the next version
    * folds in its reports.
    */
  private def maintain(base: String, kind: String, batch: DataFrame,
      verb: String)(
      body: (SparkSession, DataFrame, Seq[CellStore], Int,
        IndexManifest.Record) => Map[String, Landed])
      : Map[String, Seq[Int]] = {
    val spark = batch.sparkSession
    IndexMaintenance.withMaintLock(spark, base, verb) {
      val meta = MetaParquet.readRow(spark, s"$base/meta")
      NearDup.requireKind(meta, base, kind, s"INDEX … $verb")
      batchOf(base, kind, meta, batch, s"INDEX … $verb") match {
        case None => Map.empty
        case Some((frame, stores)) =>
          IndexManifest.maintained(spark, base,
              storesFor(kind, s"INDEX … $verb at '$base'")) { prior =>
            body(spark, frame.localCheckpoint(), stores,
              meta.getAs[Int]("cells"), prior)
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
    *    are checkpointed: they feed the cell collect ([[cellsOf]], one
    *    job) and the candidate join.
    *  - [[Snapshot.candidates]] joins the routed cells' stored rows to
    *    the broadcast batch rows on the store's keys (every column but
    *    `id` and the cell column), keeps the distinct (b_id, c_id)
    *    pairs that pass the kind's optional filter, and checkpoints them:
    *    they feed the id routing and the kind's verify.
    *  - Stage 2 routes the candidates' stored ids into the id-keyed
    *    store's cells (one collect job, [[cellsOf]]) and reads them from
    *    the same snapshot. Both collects run while the statement is
    *    built.
    *  - The kind supplies only its verify or rank step. IVF routes by
    *    centroid itself and reads `index`, or `codes` then `index`,
    *    through [[Snapshot.read]].
    *  - The window: the files a snapshot names are listed and opened
    *    later — stage 1's while the statement is built, stage 2's when
    *    it runs. A DELETE or COMPACT that commits in between deletes the
    *    files its new version superseded, and a probe that named one
    *    then fails on it rather than answer from two versions. There is
    *    no retry; deferring those deletes would close the window.
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

    /** The data files, or without a record the existing cell
      * directories, that hold the `wanted` cells of `store`. A cell
      * directory's existence is probed through the path's own Hadoop
      * FileSystem, so hdfs:// and s3a:// cells do not read as absent.
      */
    def paths(store: String, wanted: Seq[Int]): Seq[String] =
      record match {
        case Some(r) => r.paths(base, store, wanted)
        case None =>
          val root = new Path(base, store)
          val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
          wanted.map(c => new Path(root, s"${cellCols(store)}=$c"))
            .filter(fs.exists).map(_.toString)
      }

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
        Routed(frame, stores, rows, cellsOf(rows.select(
          col(stores.head.cellCol))))
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
          val ids = cellsOf(
            pairs.select(idCell(col("c_id"), meta.getAs[Int]("cells"))))
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

  /** The distinct rows of `df`, in one Spark job: each task dedupes its
    * own partition and the driver dedupes what the tasks send — at most
    * partitions × distinct rows, a few small cell numbers for a routing
    * collect. A `distinct()` before the collect would plan a shuffle
    * stage and a result stage, two jobs.
    */
  private def collectDistinct(df: DataFrame): Seq[Row] =
    df.mapPartitions(_.distinct)(Encoders.row(df.schema)).collect()
      .toSeq.distinct

  /** The distinct cells of a one-column frame of cell numbers, sorted,
    * in one Spark job ([[collectDistinct]]).
    */
  private[graft] def cellsOf(cells: DataFrame): Seq[Int] =
    collectDistinct(cells).map(_.getInt(0)).sorted

  /** Each store's routed cells of `shared`, in order, from ONE collect
    * ([[collectDistinct]]) over the union of the stores' (store, cell)
    * pairs. A shared frame that already carries the stores' cell column
    * (IVF's frozen-centroid assignment, one row per vec_id) is routed
    * once for every store.
    */
  private def routes(shared: DataFrame, stores: Seq[CellStore])
      : Seq[Seq[Int]] = {
    val routed = stores.forall(st => shared.columns.contains(st.cellCol))
    val routing = if (routed) Seq(shared -> stores.head.cellCol)
      else stores.map(st => st.rows(shared) -> st.cellCol)
    val pairs = collectDistinct(routing.zipWithIndex
        .map { case ((rows, cellCol), i) =>
          rows.select(lit(i).as("s"), col(cellCol).cast("int").as("c")) }
        .reduce(_ union _))
      .map(r => r.getInt(0) -> r.getInt(1))
    stores.indices.map { i =>
      val s = if (routed) 0 else i
      pairs.collect { case (`s`, c) => c }.toSeq.sorted
    }
  }

  /** COMPACT's rewrite: each (store, cell column, dirty cells) of `base`
    * rewritten back to one file per cell ([[rewrite]] with the
    * identity), the cells' files read from `prior`. Returns what landed
    * in each store with dirty cells.
    */
  def compact(spark: SparkSession, base: String, prior: IndexManifest.Record,
      dirty: Seq[(String, String, Seq[Int])]): Map[String, Landed] =
    rewrite(spark, base, prior, dirty)(identity)

  /** Rewrite the listed cells of each (store, cell column, cells) of
    * `base` through `transform` (DELETE's anti-join, COMPACT's
    * identity). The cells `prior` lists files for are read as those
    * explicit files and landed cell-partitioned back into the store,
    * beside them, `cellWriteParts(cells)` tasks wide, every store in one
    * [[land]]. Returns what landed in each store: the written files and
    * the rewritten cells, whose prior files the next version drops
    * ([[IndexManifest.maintained]] deletes them after its commit).
    */
  private def rewrite(spark: SparkSession, base: String,
      prior: IndexManifest.Record, targets: Seq[(String, String, Seq[Int])])(
      transform: DataFrame => DataFrame): Map[String, Landed] = {
    val busy = targets.map { case (sub, cellCol, cells) =>
      (sub, cellCol, cells.distinct.sorted
        .filter(c => prior.layout.get(sub).exists(_.contains(c))))
    }.filter(_._3.nonEmpty)
    val files = land(spark, busy.map { case (sub, cellCol, cells) =>
      Leg(s"$base/$sub", cellCol,
        transform(MetaParquet.readCells(spark, s"$base/$sub", cellCol,
          prior.paths(base, sub, cells))),
        cellWriteParts(spark, cells.size)) })
    busy.lazyZip(files).map { case ((sub, _, cells), f) =>
      sub -> Landed(f, cells) }.toMap
  }

  /** One store's write: `rows` landed cell-partitioned on `cellCol`
    * under `root`, `parts` tasks wide; returns the written (cell, file,
    * rows).
    */
  private[graft] def writeCells(rows: DataFrame, root: String,
      cellCol: String, parts: Int): Seq[(Int, String, Long)] =
    land(rows.sparkSession, Seq(Leg(root, cellCol, rows, parts))).head

  /** One store's rows to land under `root`, `parts` tasks wide. */
  private final case class Leg(root: String, cellCol: String,
      rows: DataFrame, parts: Int)

  /** Write every leg's cells concurrently ([[writeFiles]], one statement
    * id for all); returns each leg's written (cell, file, rows), in
    * order. When a leg fails, the statement's files are deleted — the
    * other legs' by their reports, the failed leg's by the statement id
    * in their names (a write job that failed may have finished some
    * tasks) — and the first failure is rethrown, the other legs'
    * suppressed. The legs' tasks share one broadcast of the session's
    * Hadoop conf ([[writeConf]]).
    */
  private def land(spark: SparkSession, legs: Seq[Leg])
      : Seq[Seq[(Int, String, Long)]] = {
    val stmt = java.util.UUID.randomUUID().toString
    val conf = spark.sparkContext.hadoopConfiguration
    val shipped = writeConf(spark)
    val written =
      try inParallel(legs.map(l => () => Try(
        writeFiles(l.rows, l.root, l.cellCol, l.parts, stmt, shipped))))
      finally shipped.destroy()
    if (written.exists(_.isFailure)) {
      legs.zip(written).foreach {
        case (l, Success(files)) =>
          val fs = new Path(l.root).getFileSystem(conf)
          files.foreach(f => fs.delete(new Path(f._2), false))
        case (l, Failure(_)) =>
          val root = new Path(l.root)
          val fs = root.getFileSystem(conf)
          for ((_, entries) <- listCells(fs, root, l.cellCol);
              st <- entries if st.getPath.getName.contains(stmt))
            fs.delete(st.getPath, false)
      }
    }
    rethrowFirst(written)
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
    * `<root>/<cellCol>=<c>/part-<task>-<attempt>-<stmt>.c000<ext>`.
    * The files come from Spark's parquet `OutputWriterFactory` prepared
    * as `DataFrameWriter` prepares it, so codec, footer schema and
    * extension match its files; the cell column is left out of the
    * data, as `partitionBy` leaves it. The tasks open their files with
    * `shipped` ([[writeConf]]) plus the few keys that preparation set,
    * which travel in the closure. The task's attempt id in the name
    * keeps a retried or speculative attempt's file apart from the one
    * reported. Returns each file with its cell and its rows (≥ 1 — a
    * task opens a file only for a row).
    */
  private[graft] def writeFiles(rows: DataFrame, root: String,
      cellCol: String, parts: Int, stmt: String,
      shipped: Broadcast[SerializableConfiguration])
      : Seq[(Int, String, Long)] = {
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

  /** One [[writeFiles]] task over rows (data columns…, cell) sorted by
    * cell. A failed attempt closes its open file and deletes every file
    * it wrote.
    */
  private def writeTask(root: String, cellCol: String, stmt: String,
      ext: String, dataSchema: StructType, factory: OutputWriterFactory,
      shipped: Broadcast[SerializableConfiguration],
      prepared: Map[String, String])(
      it: Iterator[InternalRow]): Iterator[(Int, String, Long)] = {
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
    val done = Vector.newBuilder[(Int, String, Long)]
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
      done += ((cell, writer.path(), n))
      writer = null
    }
    it.foreach { r =>
      val c = r.getInt(cellAt)
      if (writer == null || c != cell) {
        if (writer != null) close()
        cell = c
        n = 0L
        val f = s"$root/$cellCol=$c/$part-${task.taskAttemptId()}-$stmt$ext"
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
