package graft.transforms

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import TransformParser.TransformError
import VerbSupport.{intOption, spreadForCpu, CosineDefaults}

/** Stored-index build + maintenance surface, extracted from
  * [[TransformParser]] in round 13: the INDEX verb family
  * (build/APPEND/DELETE/COMPACT/REBUILD[/THRESHOLD]/DESCRIBE), the
  * single-writer maintenance lock, the atomic-rename storage contract,
  * and the advisory [[Warnings]] channel the stored-artifact probes
  * share. (The round-13 move also changed DESCRIBE's recompute body —
  * see [[Stats.storeCells]] for the file-count semantics.) The
  * reference has no stored indexes; this whole surface is the
  * 100 TB-scale extension documented in SURVEY.md §8.
  */
private[graft] object IndexMaintenance {
  /** Shuffle parallelism for a cell-partitioned store write (round-15
    * optimization). Every store writer repartitions on its cell column
    * before `partitionBy(cellCol)` so each cell lands WHOLLY in one
    * task — that keeps file count ∝ cells (1 file per cell per write,
    * the artifact contract, and any hash partitioning on the cell
    * column preserves it). But the plain `repartition(col)` form left
    * the partition COUNT to spark.sql.shuffle.partitions + AQE, and at
    * microbatch sizes AQE coalesces the tiny exchange to ONE task that
    * then opens/commits every cell's parquet file SEQUENTIALLY — the
    * write is per-file-latency-bound, not byte-bound (measured: 0.9–1.1
    * s per store per streamed append at 64 cells, i.e. ~15 ms/file,
    * the single largest cost of every maintenance statement; guide
    * §2.2/§2.6 — idle cores while one task pays serial latency).
    * Pinning numPartitions spreads the per-file latency: ideally one
    * cell per task, capped at 4× the cluster's core count so a
    * 65 536-cell artifact's append doesn't schedule 65 k near-empty
    * tasks. Scale-adaptive by construction: grows with both the
    * artifact (cells) and the cluster (defaultParallelism), no
    * local-mode constant.
    */
  private[graft] def cellWriteParts(
      spark: org.apache.spark.sql.SparkSession, cells: Int): Int =
    math.max(1, math.min(cells,
      math.max(64, spark.sparkContext.defaultParallelism * 4)))

  /** Run two INDEPENDENT store pipelines concurrently and return both
    * results (round-15 optimization, guide §2.6: actions are only
    * sequential because the driver calls them sequentially). Every
    * two-store artifact (bands+shingles, variants+strings,
    * buckets+vectors) writes and routes its stores with NO data
    * dependency between them once the shared input is checkpointed —
    * running them on two driver threads lets the second store's jobs
    * back-fill the executor slots the first one's small tasks leave
    * idle, halving the statement's critical path. blocking{}: each
    * thread blocks on Spark job completion, so the marker keeps the
    * shared global pool from starving under concurrent statements.
    * Exceptions propagate AFTER BOTH legs settle (round 16, advisor
    * finding): rethrowing on the first leg's failure while the second
    * leg's Spark write is still running would release the caller's
    * maintenance lock with an orphaned writer mutating the store in the
    * background — a subsequent writer (e.g. a foreachBatch retry of the
    * same append) could then acquire the lock and interleave with it,
    * breaking the mechanically-held single-writer contract. Both legs
    * are awaited to completion (Try), then the first failure rethrows,
    * carrying the second leg's failure (if any) as a suppressed
    * exception.
    *
    * Each leg also runs under the CALLER's SparkContext local
    * properties (job group/description/scheduler pool): the global
    * pool's threads inherit local properties only at thread-creation
    * time and are reused, so without the explicit copy a leg's jobs
    * could carry a stale job group — and a future cancelJobGroup or
    * per-statement pool would silently miss them. For the same reason
    * the pooled thread's own values are restored when the leg ends, so
    * the next job it runs for anyone else does not carry this caller's.
    */
  private[graft] def inParallel[A, B](a: => A, b: => B): (A, B) = {
    import scala.concurrent.{Await, Future, blocking}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.util.{Failure, Try}
    val sc = org.apache.spark.sql.SparkSession.active.sparkContext
    val propKeys = Seq("spark.jobGroup.id", "spark.job.description",
      "spark.job.interruptOnCancel", "spark.scheduler.pool")
    val props = propKeys.map(k => k -> sc.getLocalProperty(k))
    def withProps[T](body: => T): T = {
      val own = propKeys.map(k => k -> sc.getLocalProperty(k))
      props.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      try body
      finally own.foreach { case (k, v) => sc.setLocalProperty(k, v) }
    }
    val fa = Future(blocking(withProps(a)))
    val fb = Future(blocking(withProps(b)))
    val ra = Try(Await.result(fa, scala.concurrent.duration.Duration.Inf))
    val rb = Try(Await.result(fb, scala.concurrent.duration.Duration.Inf))
    (ra, rb) match {
      case (Failure(ea), Failure(eb)) if ea ne eb => ea.addSuppressed(eb)
      case _ => ()
    }
    (ra.get, rb.get)
  }

  /** DESCRIBE's file-growth advisory threshold: a cell whose file
    * count reaches this makes probes pay that many parquet footer
    * reads for the same rows, and the advisory names `INDEX COMPACT`
    * as the remedy. 16 ≈ two weeks of daily appends (each append adds
    * ≤ 1 file per touched cell) — well past the point where footer
    * opens dominate small-cell reads, well before a pathological
    * thousand-file cell.
    */
  private[graft] val CompactAdvisoryFiles = 16L

  /** Advisory warnings the verbs emit at build/probe time — cases where
    * the statement is VALID but its configuration is known to degrade
    * at scale (a derived-bits cosine artifact probed below the
    * derivation's threshold contract; a derived cell count clamped at
    * the 65 536 cap). They go to stderr always, to the engine logger at
    * WARNING level when run under Aql (the hook is installed per run),
    * and into a bounded ring so specs can assert a warning fired
    * without scraping logs. Errors stay errors — a warning is only for
    * configurations that are correct today and slow tomorrow.
    */
  private[graft] object Warnings {
    private val ring =
      new java.util.concurrent.ConcurrentLinkedQueue[String]
    @volatile private[graft] var hook: String => Unit = _ => ()
    def emit(msg: String): Unit = {
      ring.add(msg)
      while (ring.size > 64) ring.poll()
      Console.err.println(s"[graft] WARNING: $msg")
      hook(msg)
    }
    def recent: Seq[String] = ring.toArray(Array.empty[String]).toSeq

    /** Best-effort persistence of a STORED-ARTIFACT warning, so "this
      * artifact has been probed below its contract" is discoverable
      * from INDEX DESCRIBE afterwards — the in-memory ring dies with
      * the probing process, which is never the process that runs
      * DESCRIBE. Written to a SIBLING directory of the artifact
      * ([[probeWarningsDir]]), NOT inside it: probes are lock-free BY
      * CONTRACT, and a write inside the artifact would break the
      * maintenance swaps' safety argument — mkdirs on
      * `<dir>/.probe_warnings` auto-creates `<dir>` itself, so a probe
      * racing INDEX REBUILD's two-rename window could resurrect the
      * live path as a junk directory and the swap-in rename would then
      * move the staged artifact INTO it (Hadoop rename-onto-existing-
      * dir semantics), losing the store. The sibling keeps the
      * artifact byte-read-only to probes (a rebuild also preserves the
      * history — "probed below contract last week" stays visible). One
      * tiny uniquely-named file per event (no renames — safe to race
      * on any store), capped at 64 by deleting oldest; every failure
      * is swallowed, because telemetry must never fail a probe. Each
      * distinct (artifact, message) persists ONCE per process: the
      * messages are configuration statements ("this artifact's derived
      * bits don't fit this ask"), so a streaming job serving thousands
      * of batches records the fact once instead of paying mkdirs +
      * create + listStatus + cap-eviction per batch on the serving hot
      * path — the in-memory [[emit]] still fires per occurrence for
      * specs and logs.
      */
    private val persisted =
      java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

    def persist(conf: org.apache.hadoop.conf.Configuration, base: String,
        msg: String): Unit = try {
      if (!persisted.add(base + "\u0000" + msg)) return
      probeWarningsDir(base).foreach { d =>
        val fs = d.getFileSystem(conf)
        fs.mkdirs(d)
        val f = new org.apache.hadoop.fs.Path(d,
          s"w_${System.currentTimeMillis()}_" +
            java.util.UUID.randomUUID().toString.take(8))
        val out = fs.create(f, false)
        try out.write(msg.getBytes("UTF-8")) finally out.close()
        val all = fs.listStatus(d).map(_.getPath).sortBy(_.getName)
        if (all.length > 64) all.take(all.length - 64)
          .foreach(p => try fs.delete(p, false)
            catch { case _: Throwable => () })
      }
    } catch { case _: Throwable => () }

    /** `<parent>/.probe_warnings_<name>` for an artifact at
      * `<parent>/<name>` — None for a filesystem-root artifact (no
      * parent to write a sibling into; telemetry is skipped).
      */
    def probeWarningsDir(base: String)
        : Option[org.apache.hadoop.fs.Path] = {
      val b = new org.apache.hadoop.fs.Path(base)
      Option(b.getParent)
        .map(p => new org.apache.hadoop.fs.Path(p,
          s".probe_warnings_${b.getName}"))
    }
  }

  /** Incremental DESCRIBE counters — `<dir>/stats`, a tiny parquet of
    * per-cell (store, cell, files, rows) refreshed as the LAST step of
    * every language-level mutating statement (INDEX build / APPEND /
    * DELETE / COMPACT / REBUILD, all under the single-writer lock or
    * the build's overwrite), so `INDEX DESCRIBE` answers from one
    * small read instead of re-walking the store — the round-12
    * measured cost (∝ cells, exponent 0.93–0.96, 280 s at half the
    * cell cap) now paid once per MUTATION, which already pays a
    * footer-order pass for its own summary row, instead of once per
    * DESCRIBE.
    *
    * Honesty protocol: the Scala-API writers (bandStoreRows /
    * typoStoreRows / cosineStoreRows / ivfStore* — the streaming
    * ingestion hot path, where a per-batch full recount would break
    * the cost-∝-batch contract) and the shared cell-rewrite
    * ([[NearDup.rewriteCellsInPlace]]) INVALIDATE stats as their first
    * step instead of maintaining them: a statement that dies mid-write
    * or an API append outside the verb leaves stats ABSENT, never
    * stale, and `INDEX DESCRIBE` falls back to the full recompute
    * (also reachable on demand as `INDEX DESCRIBE '<dir>' VERIFY` —
    * the ground-truth path specs and BandScale cross-check against).
    * The next verb statement self-heals the fast path by rewriting
    * stats.
    */
  private[graft] object Stats {

    /** (cell, files, rows) per present cell of `<dir>/<sub>` — ONE
      * footer-only Spark job per store: the scan projects only the
      * partition column (row counts come from parquet row-group
      * metadata, never data pages) and per-cell FILE counts ride the
      * same scan as countDistinct(input_file_name()) — scan metadata,
      * not a driver-side enumeration. This is the round-12 negative
      * result applied once more: the distributed footer pass beat
      * driver-side parallel footer reads (617 vs 280 s at the
      * 32 768-cell point), and round 13 removes the remaining
      * driver-side RECURSIVE LISTING the same way (on a local fs that
      * listing shell-execs a permission probe per file; on an object
      * store it is a round-trip storm). This IS the DESCRIBE
      * fallback/VERIFY cost body, shared with the stats refresh so the
      * two paths can never disagree. Empty when the store is absent or
      * holds no data files (hidden/staged paths are skipped by the
      * reader exactly as the old listing skipped them). File counts
      * are FILES WITH ≥ 1 ROW (input_file_name only surfaces for files
      * that yield rows) — a zero-row data file, which the pre-round-13
      * recursive listing counted, is invisible here. That is the
      * semantics DESCRIBE documents: such files carry no entries and
      * no probe cost; only COMPACT's own dirty-cell listing, which
      * must see every physical file, still lists directories.
      */
    def storeCells(spark: org.apache.spark.sql.SparkSession,
        dir: String, sub: String, cellCol: String)
        : Seq[(Int, Long, Long)] = {
      import org.apache.hadoop.fs.Path
      val live = new Path(s"$dir/$sub")
      val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(live)) return Seq.empty
      try cellAgg(spark.read.parquet(s"$dir/$sub"), cellCol)
      catch {
        // a store root whose every cell was deleted has no data files
        // and no inferable schema — that IS the empty store. The
        // catch is NARROW on purpose: swallowing any analysis error
        // would zero the stats of a live store
        case e: org.apache.spark.sql.AnalysisException
            if e.getMessage.contains("UNABLE_TO_INFER_SCHEMA") ||
              e.getMessage.contains("Unable to infer schema") =>
          Seq.empty
      }
    }

    /** [[storeCells]] restricted to the given cells, read as EXPLICIT
      * cell paths (the probes' partition-pruning idiom — never a
      * listing of the whole store): the cost body of the round-14
      * incremental refresh, ∝ the touched cells' files. Cells with no
      * directory (never occupied, or fully deleted by the statement)
      * contribute no rows — which is exactly their post-statement
      * truth.
      */
    def storeCellsAt(spark: org.apache.spark.sql.SparkSession,
        dir: String, sub: String, cellCol: String, cells: Seq[Int])
        : Seq[(Int, Long, Long)] = {
      val paths = NearDup.existingCellPaths(spark, s"$dir/$sub", cellCol,
        cells.distinct.sorted.toArray)
      if (paths.isEmpty) Seq.empty
      else cellAgg(
        spark.read.option("basePath", s"$dir/$sub").parquet(paths: _*),
        cellCol)
    }

    /** The ONE per-cell aggregation body of [[storeCells]] /
      * [[storeCellsAt]] — footer-only row counts, file counts as
      * countDistinct over the scan's own input_file_name (shared so
      * the full and incremental paths can never disagree on the
      * semantics).
      */
    private def cellAgg(df: DataFrame, cellCol: String)
        : Seq[(Int, Long, Long)] =
      df
        // input_file_name is per-row scan metadata — project it
        // BEFORE the aggregate (non-deterministic expressions may
        // not appear inside aggregate arguments)
        .select(col(cellCol), input_file_name().as("__f"))
        .groupBy(col(cellCol))
        .agg(count(lit(1)).as("rows"),
          countDistinct(col("__f")).as("files"))
        .collect()
        .map(r => (r.getAs[Int](cellCol), r.getAs[Long]("files"),
          r.getAs[Long]("rows"))).toSeq.sortBy(_._1)

    /** Recompute per-cell stats for every store of the artifact and
      * replace `<dir>/stats`. Returns the computed map so the calling
      * statement's summary row reuses it instead of re-counting.
      */
    def write(spark: org.apache.spark.sql.SparkSession, dir: String,
        stores: Seq[(String, String)])
        : Map[String, Seq[(Int, Long, Long)]] = {
      // the per-store jobs are independent Spark actions — run them
      // concurrently so the statement's refresh wall-clock is the
      // slowest store, not the sum (2 stores per kind). blocking{}:
      // each future BLOCKS on Spark job completion, so without the
      // marker they would pin threads of the CPU-bounded global pool
      // that concurrent statements on a busy driver share
      import scala.concurrent.{Await, Future, blocking}
      import scala.concurrent.ExecutionContext.Implicits.global
      val computed = Await.result(
        Future.sequence(stores.map { case (sub, cellCol) =>
          Future(blocking { sub -> storeCells(spark, dir, sub, cellCol) })
        }), scala.concurrent.duration.Duration.Inf).toMap
      writeRows(spark, dir, computed)
      computed
    }

    /** APPEND/DELETE's INCREMENTAL refresh (round 14): recompute ONLY
      * the cells the statement's own routing touched and merge them
      * into the prior stats — untouched cells' rows carry over
      * unchanged, because the mutation provably never opened their
      * files (the routed-cells contract every maintenance writer
      * already rests on). This restores the mutation-cost asymptotics:
      * the statement's stats epilogue is ∝ its batch's routed cells,
      * not ∝ artifact files (the round-13 full-recompute epilogue was
      * measured at 64 s at 32 768 cells and paid per APPEND even when
      * the batch routed to a handful of cells — at 10⁹-doc artifacts
      * it would dominate the append). COMPACT merges too (its dirty
      * set IS its touched set); REBUILD keeps the full [[write]] — it
      * rewrites every cell by definition, into a stage whose stats
      * are computed before the swap.
      * Correctness rests on three invariants, the first two
      * maintained, the third checked closed-form in AqlSpec and
      * BandScale (merged ≡ the full recompute / DESCRIBE … VERIFY):
      * prior stats are exact whenever present (absent-never-stale —
      * any writer that dies before its refresh leaves them
      * invalidated, including restored-crashed-cell sweeps, which only
      * run inside statements that invalidated first); the caller holds
      * the single-writer lock across prior-read → mutation → merge;
      * and `touched` covers every cell the statement's writers opened
      * (each writer returns its own routing — the same arrays its
      * cell rewrites used).
      */
    def mergeTouched(spark: org.apache.spark.sql.SparkSession,
        dir: String, stores: Seq[(String, String)],
        prior: Map[String, Seq[(Int, Long, Long)]],
        touched: Map[String, Seq[Int]])
        : Map[String, Seq[(Int, Long, Long)]] = {
      import scala.concurrent.{Await, Future, blocking}
      import scala.concurrent.ExecutionContext.Implicits.global
      val computed = Await.result(
        Future.sequence(stores.map { case (sub, cellCol) =>
          Future(blocking {
            val t = touched.getOrElse(sub, Seq.empty).distinct
            val tSet = t.toSet
            val recomputed = storeCellsAt(spark, dir, sub, cellCol, t)
            val kept = prior.getOrElse(sub, Seq.empty)
              .filterNot(r => tSet(r._1))
            sub -> (kept ++ recomputed).sortBy(_._1)
          })
        }), scala.concurrent.duration.Duration.Inf).toMap
      writeRows(spark, dir, computed)
      computed
    }

    /** The mutating writers' stats epilogue, wrapped around the
      * mutation itself (round 14, second wave): read the prior
      * per-cell stats BEFORE the mutation invalidates them, run the
      * mutation, and — when a prior existed — merge the mutation's
      * touched-cell recomputes back in ([[mergeTouched]]). Every API
      * append/delete wrapper (band/typo/cosine/ivf) runs its mutating
      * body through this, which is what keeps `<dir>/stats` SERVED
      * under continuous DIRECT-API ingest — the streaming foreachBatch
      * path (gate q161), previously the one writer whose batches left
      * DESCRIBE on the full-recompute fallback for the whole streaming
      * window. The epilogue's DATA work (per-cell recount) is ∝ the
      * batch's routed cells, like the mutation itself — a batch-sized
      * call never pays an artifact-sized reCOUNT. Two bookkeeping legs
      * are ∝ cells PRESENT, not cells touched: the prior read (one
      * driver collect of the stats rows) and [[mergeTouched]]'s
      * [[writeRows]] (the full stats-file rewrite) — both bounded by
      * the 65 536-cell cap and metadata-row-sized (a few MB at the
      * cap), but a fixed per-statement driver cost that can dominate a
      * 1-row streamed append on a max-cell artifact. With NO prior
      * (stats were already absent) the
      * mutation leaves them absent and the next corpus-shaped
      * statement (build/REBUILD, or a verb APPEND/DELETE's self-heal)
      * or DESCRIBE pays the one full pass. Callers hold the artifact's
      * maintenance lock — every API wrapper acquires it (re-entrantly
      * under a verb) — so the prior is exact-when-present and the
      * read → mutate → merge sequence cannot interleave with another
      * writer. Returns the mutation's touched map unchanged.
      */
    def mergeForWriter(spark: org.apache.spark.sql.SparkSession,
        dir: String, kind: String)(
        mutate: => Map[String, Seq[Int]]): Map[String, Seq[Int]] = {
      // both priors read BEFORE the mutation's invalidate drops them;
      // a malformed manifest throws here (external tampering stops
      // the writer loudly — the message names the re-publish remedy —
      // rather than being silently healed or silently dropped)
      val manifestPrior = IndexManifest.readVersioned(spark, dir)
      val prior = read(spark, dir)
      val touched = mutate
      val stores = storesFor(kind, s"stats refresh at '$dir'")
      prior.foreach { p => mergeTouched(spark, dir, stores, p, touched) }
      // manifest maintained-when-present (round 15): re-publish from
      // the prior + this mutation's touched cells, so probes stay
      // manifest-served across API/streaming maintenance — ∝ the
      // batch's routed cells like the stats merge above; an artifact
      // never published pays nothing here (one absent-check)
      manifestPrior.foreach { case (v, pm) =>
        IndexManifest.republishTouched(spark, dir, stores, v, pm, touched)
      }
      touched
    }

    /** Stage-and-swap `computed` into `<dir>/stats`: rows are written
      * COMPLETE to `<dir>/.stats_stage`, then the old stats dir is
      * deleted and the stage renamed in. NOT one atomic swap — the
      * delete + rename pair leaves an absent window of two metadata
      * ops (vs. the full write duration a plain mode("overwrite")
      * would leave, which deletes the target first and then writes
      * into it) — and a lock-free DESCRIBE racing the refresh sees old
      * stats, no stats (→ the honest recompute), or new stats;
      * [[Stats.read]]'s catch-all → None is the load-bearing backstop
      * for a reader landing mid-swap. A crash leaves either the old
      * stats intact or stats absent, never a half-truth; a stale
      * `.stats_stage` from a crash is overwritten on the next refresh.
      */
    private def writeRows(spark: org.apache.spark.sql.SparkSession,
        dir: String, computed: Map[String, Seq[(Int, Long, Long)]])
        : Unit = {
      import spark.implicits._
      val stage = new org.apache.hadoop.fs.Path(s"$dir/.stats_stage")
      val live = new org.apache.hadoop.fs.Path(s"$dir/stats")
      val fs = stage.getFileSystem(spark.sparkContext.hadoopConfiguration)
      computed.toSeq
        .flatMap { case (sub, cs) =>
          cs.map { case (cell, files, rows) => (sub, cell, files, rows) } }
        .toDF("store", "cell", "files", "rows")
        .coalesce(1).write.mode("overwrite").parquet(stage.toString)
      fs.delete(live, true)
      if (!fs.rename(stage, live)) throw new IllegalStateException(
        s"stats refresh: cannot swap $stage into $live — stats are " +
          "absent (DESCRIBE will take the honest full recompute until " +
          "the next mutating statement rewrites them)")
      ()
    }

    /** Drop `<dir>/stats` AND the committed file manifest — the first
      * step of every row-writing mutation step (append row writes,
      * cell rewrites), so both derived layout snapshots can be absent
      * but never stale: a writer that dies mid-mutation leaves them
      * invalidated, and the surviving reads are the honest recompute /
      * live-directory resolution. The wrapping [[mergeForWriter]]
      * epilogue restores stats from the pre-read prior plus the
      * touched-cell recomputes as the mutation's last step, and
      * re-publishes a previously-committed manifest the same way
      * ([[IndexManifest.republishTouched]] — touched cells re-listed,
      * the rest carried over), so both snapshots are MAINTAINED when
      * present and the absent window spans one statement, not operator
      * reaction time. One choke point on purpose: every writer
      * already runs this, so the two snapshots cannot drift apart in
      * which mutations invalidate them. Deliberately NOT swallowed:
      * failing to invalidate before mutating would leave a lying
      * stats store or a stale file list, which is worse than failing
      * the mutation.
      */
    def invalidate(conf: org.apache.hadoop.conf.Configuration,
        dir: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(s"$dir/stats")
      val fs = p.getFileSystem(conf)
      fs.delete(p, true)
      IndexManifest.invalidate(conf, dir)
      ()
    }

    /** The persisted per-cell stats, or None when absent/unreadable
      * (→ the caller takes the full-recompute path). A read racing an
      * invalidation resolves to None, never an error — but the two
      * None causes are DISTINGUISHED (round 15): absent is silent (the
      * expected invalidated state), present-but-unreadable logs a
      * warning to stderr, because on the mutation path
      * ([[mergeForWriter]]) an unreadable prior silently drops the
      * served DESCRIBE path until the next corpus-shaped refresh, and
      * that degradation should be visible, not indistinguishable from
      * "absent". Catches [[scala.util.control.NonFatal]] only — the
      * former catch-all also swallowed OOM/interrupts, converting a
      * dying JVM's symptom into a silent full recompute.
      */
    def read(spark: org.apache.spark.sql.SparkSession, dir: String)
        : Option[Map[String, Seq[(Int, Long, Long)]]] = try {
      val p = new org.apache.hadoop.fs.Path(s"$dir/stats")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) return None
      Some(spark.read.parquet(s"$dir/stats")
        .select(col("store"), col("cell"), col("files"), col("rows"))
        .collect()
        .map(r => (r.getAs[String]("store"), r.getAs[Int]("cell"),
          r.getAs[Long]("files"), r.getAs[Long]("rows")))
        .groupBy(_._1)
        .map { case (sub, rows) =>
          sub -> rows.map(t => (t._2, t._3, t._4)).toSeq.sortBy(_._1) })
    } catch { case scala.util.control.NonFatal(e) =>
      // a reader racing the invalidate → stage → swap window lands
      // here (expected, harmless: stats vanish between the exists check
      // and the parquet read); so does a genuinely corrupt/unreadable
      // stats file (not expected) — log so the degraded served path is
      // visible either way, and let the caller recompute honestly
      System.err.println(
        s"[graft] stats at '$dir/stats' present but unreadable " +
          s"(${e.getClass.getSimpleName}: ${e.getMessage}) — treating " +
          "as absent; DESCRIBE falls back to the full recompute until " +
          "the next maintenance statement (e.g. INDEX COMPACT) " +
          "rewrites them")
      None
    }
  }
  // ----------------------------------------------------------------- INDEX

  /** INDEX ON <col> KEY <keycol> METHOD LSH|IVF|COSINE|TYPO
    *       [THRESHOLD <0-1>] [BANDS <b> ROWS <r>] [CELLS <c>]
    *       [TABLES <t>] [BITS <b>] INTO '<dir>' [APPEND|DELETE]
    *
    * The durable index BUILD step — the language-reachable producer for
    * every stored artifact the probe forms consume (`NEARDEDUP …
    * AGAINST STORED` for LSH/COSINE/TYPO, `KNN … STORED` for IVF).
    * Writes the artifact to the USER-CHOSEN directory `<dir>` — not a
    * self-deleting temp path — so "write once, probe forever" holds
    * across jobs and JVMs: one AQL script builds the corpus index, every
    * later script (batch or streaming) probes the files without ever
    * scanning, shingling, bucketing or assigning the corpus again.
    *
    * Method → artifact (each is the exact layout its probe validates
    * against, shared code with the gate machinery so the verb can never
    * diverge):
    *  - LSH — banded MinHash text index ([[NearDup.bandStoreTo]]):
    *    banding from BANDS/ROWS or auto-chosen from THRESHOLD (default
    *    0.5, the [[NearDup.autoBands]] recall bound); the probe's
    *    banding must match (validated via `meta/`). Corpus texts are
    *    EXACT-FIRST collapsed (one entry per distinct text, keyed by
    *    xxhash64(text)) — membership is all the AGAINST probe asks, and
    *    verification sets are stored as hashed shingles (the q31 key).
    *  - IVF — vector cell index ([[graft.queries.Similarity]]'s
    *    ivfStoreTo, the q136/q147 artifact): KEY becomes the served
    *    vec_id; CELLS defaults to [[IndexGeometry.ivfCells]] = ⌈√n⌉
    *    over the corpus rows (the two-level build quantizer takes over
    *    above 64 cells automatically).
    *  - COSINE — sign-LSH bucket index ([[VecKnn.cosineStoreTo]]):
    *    TABLES defaults to 32; BITS defaults to
    *    [[IndexGeometry.cosineBits]] — 2^bits ∝ distinct entries, the
    *    sizing graft.CosineScale measured flat (a constant bit width
    *    grows probe cost ∝ corpus). Exact-duplicate vectors collapse to
    *    one entry (keyed by xxhash64(v)).
    *  - TYPO — delete-1 variant index ([[NearDup.typoStoreTo]]):
    *    distinct strings keyed by xxhash64(string).
    *
    * CELLS is the artifact's partition-cell count for the non-IVF
    * methods; it defaults to [[IndexGeometry.storeCells]] — cells ∝
    * distinct entries (graft.BandScale's sizing), which keeps a fixed
    * probe batch's scanned ROW count corpus-independent. Deriving needs
    * the entry count before the write, so an un-pinned build pays one
    * extra count job over the collapsed reps — on the build, the one
    * corpus-sized statement of the deployment, never on probes. All
    * derived geometry is frozen into `meta/`; probes adopt it from
    * there (passing TABLES/BITS at probe time is only a cross-check).
    *
    * KEY must name an existing column on every method (symmetry with
    * the probe verbs); for LSH/COSINE/TYPO the stored entries are keyed
    * by content hash (ids never surface from an AGAINST probe), while
    * IVF stores the key itself (KNN returns it as neighbor_id).
    *
    * The build is EAGER (the writes run when the block builds) and the
    * block's output is a one-row summary (path, kind, cells,
    * indexed_rows — the artifact's TOTAL entries after this statement)
    * — pipe it to a console/param destination for logging, or ignore
    * it.
    *
    * `INTO '<dir>' APPEND` is the index-MAINTENANCE form: the block's
    * rows are ADDED to an existing artifact instead of rebuilding it —
    * the growing-corpus story at 100 TB, where re-shingling yesterday's
    * exabyte to ingest today's terabyte is not an option. All geometry
    * (banding, cells, tables/bits, IVF centroids) comes from the
    * artifact's `meta/`, so every geometry option is REJECTED with
    * APPEND (the same algebra as KNN STORED rejecting CELLS), and
    * appending METHOD X onto a kind-Y artifact errors. For LSH, COSINE
    * and TYPO an entry's index rows are pure functions of its own
    * content, so build-then-append is EXACTLY a full build of the union
    * (q156 pins this bit-for-bit against the full-build oracle); IVF
    * appends against the FROZEN centroids (how production IVF ingests —
    * see Similarity.ivfStoreAppend for the drift caveat). Appended rows
    * land as new files in existing cell directories; probe routing is
    * unchanged.
    *
    * `INTO '<dir>' DELETE` completes the maintenance triple: the
    * block's rows are REMOVED from the artifact — the contaminated/
    * opted-out/re-ingested-document path a 100 TB deployment cannot
    * run without (re-shingling the exabyte to forget a terabyte is
    * not an option). Routing reuses each family's own content math
    * (band keys / bucket keys / variant hashes / frozen-centroid
    * assignment — geometry from `meta/`, same option algebra as
    * APPEND), so ONLY the batch's routed cell directories are
    * rewritten (NearDup.deleteFromCellStore's staging + two-rename
    * swap; untouched cells are never listed or read) and the cost is
    * governed by the batch, never the index. LSH/COSINE/TYPO deletes
    * are CONTENT-KEYED like their stores — deleting a text/vector
    * removes its membership however many rows or appends carried it
    * (q159 pins the semantics against an oracle that says the same in
    * SQL); IVF deletes by the user's vec_id within the routed cells
    * (FAISS remove_ids semantics — supply the stored vector so the
    * frozen assignment routes to its cell). Centroids, supers and
    * `meta/` are untouched on every family.
    */
  private[transforms] object IndexParser {
    private val Re =
      raw"(?is)^INDEX\s+ON\s+([A-Za-z_]\w*)\s+KEY\s+([A-Za-z_]\w*)\s+METHOD\s+([A-Za-z]+)(?:\s+THRESHOLD\s+([0-9]*\.?[0-9]+))?(?:\s+BANDS\s+(\d+)\s+ROWS\s+(\d+))?(?:\s+CELLS\s+(\d+))?(?:\s+TABLES\s+(\d+))?(?:\s+BITS\s+(\d+))?(?:\s+PQ\s+(\d+))?(?:\s+PQCODES\s+(\d+))?\s+INTO\s+'([^']+)'(?:\s+(APPEND|DELETE))?\s*$$".r
    private val CompactRe =
      raw"(?is)^INDEX\s+COMPACT\s+'([^']+)'\s*$$".r
    private val DescribeRe =
      raw"(?is)^INDEX\s+DESCRIBE\s+'([^']+)'(?:\s+(VERIFY))?\s*$$".r
    private val ManifestRe =
      raw"(?is)^INDEX\s+MANIFEST\s+'([^']+)'\s*$$".r
    private val RebuildRe =
      raw"(?is)^INDEX\s+REBUILD\s+'([^']+)'(?:\s+THRESHOLD\s+([0-9]*\.?[0-9]+))?(?:\s+CELLS\s+(\d+))?(?:\s+TABLES\s+(\d+))?(?:\s+BITS\s+(\d+))?\s*$$".r

    def parse(t: String): Verb = t.trim match {
      case CompactRe(dir) => IndexCompactVerb(dir)
      case DescribeRe(dir, v) => IndexDescribeVerb(dir, v != null)
      case ManifestRe(dir) => IndexManifestVerb(dir)
      case RebuildRe(dir, th, ce, tb, bi) =>
        val t = Option(th).map(_.toDouble)
        t.foreach(v => if (v <= 0 || v > 1) throw TransformError(
          s"INDEX REBUILD THRESHOLD $v out of range (0, 1]"))
        val cells = Option(ce).map(intOption("INDEX REBUILD", "CELLS", _))
        cells.foreach(v => if (v < 1) throw TransformError(
          s"INDEX REBUILD CELLS $v must be >= 1"))
        val tables = Option(tb).map(intOption("INDEX REBUILD", "TABLES", _))
        val bits = Option(bi).map(intOption("INDEX REBUILD", "BITS", _))
        tables.foreach(v => if (v < 1) throw TransformError(
          s"INDEX REBUILD TABLES $v must be >= 1"))
        bits.foreach(v => if (v < 1 || v > 30) throw TransformError(
          s"INDEX REBUILD BITS $v out of range [1, 30]"))
        // one statement, one family: THRESHOLD re-bands lsh_text,
        // TABLES/BITS re-buckets cosine_vec — a statement carrying both
        // could not mean anything against either artifact kind. CELLS
        // is kind-INDEPENDENT (every store is cell-partitioned) and
        // composes with either form.
        if (t.isDefined && (tables.isDefined || bits.isDefined))
          throw TransformError(
            "INDEX REBUILD THRESHOLD (lsh_text re-banding) and " +
              "TABLES/BITS (cosine_vec re-bucketing) are mutually " +
              "exclusive — pick the form matching the artifact kind")
        IndexRebuildVerb(dir, t, tables, bits, cells)
      case Re(on, key, method, th, bands, rows, cells, tables, bits, pq,
          pqCodes, dir, app) =>
        val m = method.toUpperCase
        if (!Set("LSH", "IVF", "COSINE", "TYPO").contains(m))
          throw TransformError(
            s"INDEX METHOD $m unknown (expected LSH, IVF, COSINE or TYPO)")
        val maint = Option(app).map(_.toUpperCase) // APPEND | DELETE
        val append = maint.contains("APPEND")
        val delete = maint.contains("DELETE")
        if (append || delete) // the artifact fixes ALL geometry — the
          // same option algebra as KNN STORED rejecting CELLS: accepting
          // a knob the store overrides would silently lie about what was
          // built (and a DELETE that accepted different geometry would
          // route to the wrong cells and silently delete nothing)
          for ((v, what) <- Seq((th, "THRESHOLD"), (bands, "BANDS/ROWS"),
              (cells, "CELLS"), (tables, "TABLES"), (bits, "BITS"),
              (pq, "PQ"), (pqCodes, "PQCODES")))
            if (v != null) throw TransformError(
              s"INDEX … ${maint.get}: $what comes from the stored " +
                "artifact's meta and cannot be overridden (drop the option)")
        def rejectUnless(meth: String, what: String, v: String): Unit =
          if (v != null && m != meth) throw TransformError(
            s"INDEX $what only applies to METHOD $meth")
        rejectUnless("LSH", "THRESHOLD", th)
        rejectUnless("LSH", "BANDS/ROWS", bands)
        rejectUnless("COSINE", "TABLES", tables)
        rejectUnless("COSINE", "BITS", bits)
        rejectUnless("IVF", "PQ", pq)
        if (pqCodes != null && pq == null) throw TransformError(
          "INDEX PQCODES requires PQ <m> (the codebook width without " +
            "subspaces sizes nothing)")
        val threshold = Option(th).map(_.toDouble).getOrElse(0.5)
        if (threshold <= 0 || threshold > 1) throw TransformError(
          s"INDEX THRESHOLD $threshold out of range (0, 1]")
        val br = (Option(bands), Option(rows)) match {
          case (Some(b), Some(r)) => Some((intOption("INDEX", "BANDS", b),
            intOption("INDEX", "ROWS", r)))
          case _ => None // regex captures BANDS+ROWS together or not at all
        }
        br.foreach { case (b, r) =>
          if (b < 1 || r < 1 || b * r > 128) throw TransformError(
            s"INDEX BANDS $b ROWS $r invalid (need BANDS ≥ 1, ROWS ≥ 1, " +
              "BANDS × ROWS ≤ 128 signature permutations)")
        }
        if (m == "LSH" && br.isEmpty && maint.isEmpty)
          try NearDup.autoBands(threshold)
          catch { // surface the no-config case at parse time, not mid-job
            case e: IllegalArgumentException => throw TransformError(
              s"INDEX METHOD LSH: ${e.getMessage}")
          }
        val ce = Option(cells).map(intOption("INDEX", "CELLS", _))
        ce.foreach(c => if (c < 1) throw TransformError(
          s"INDEX CELLS $c must be >= 1"))
        val tb = Option(tables).map(intOption("INDEX", "TABLES", _))
          .getOrElse(CosineDefaults._1)
        // BITS stays optional through to the build: absent means DERIVE
        // from the corpus's distinct-entry count (IndexGeometry), so the
        // one-line INDEX scales instead of freezing a toy bucket width
        val bi = Option(bits).map(intOption("INDEX", "BITS", _))
        if (tb < 1 || bi.exists(b => b < 1 || b > 30)) throw TransformError(
          s"INDEX TABLES $tb BITS ${bi.getOrElse("")} invalid (need " +
            "TABLES ≥ 1, 1 ≤ BITS ≤ 30)")
        val pqM = Option(pq).map(intOption("INDEX", "PQ", _))
        pqM.foreach(p => if (p < 1 || p > 512) throw TransformError(
          s"INDEX PQ $p must be in [1, 512] subspaces"))
        // PQCODES stays optional through to the build: absent means
        // DERIVE (IndexGeometry.pqCodes — 256 clamped to the corpus)
        // 32 768, not 65 536: code ids are persisted as SMALLINT (one
        // narrow column per candidate is the whole point of PQ), so ids
        // ≥ 32 768 would wrap negative and the probe-time LUT equi-join
        // would silently skip those subspaces — partial ADC sums, wrong
        // shortlists, no error
        val pqK = Option(pqCodes).map(intOption("INDEX", "PQCODES", _))
        pqK.foreach(k => if (k < 2 || k > 32768) throw TransformError(
          s"INDEX PQCODES $k must be in [2, 32768] (code ids are " +
            "stored as SMALLINT)"))
        IndexVerb(on, key, m, dir, threshold, br, ce, tb, bi, append,
          delete, pqM, pqK)
      case _ => throw TransformError(
        "cannot parse INDEX (expected INDEX ON <col> KEY <keycol> " +
          "METHOD LSH|IVF|COSINE|TYPO [THRESHOLD <0-1>] " +
          "[BANDS <n> ROWS <n>] [CELLS <n>] [TABLES <n>] [BITS <n>] " +
          "[PQ <m>] [PQCODES <n>] " +
          "INTO '<dir>' [APPEND|DELETE], INDEX COMPACT '<dir>', " +
          "INDEX DESCRIBE '<dir>' [VERIFY], INDEX MANIFEST '<dir>', " +
          "or INDEX REBUILD '<dir>' " +
          "[THRESHOLD <0-1> | TABLES <n> BITS <n>] [CELLS <n>])")
    }
  }

  /** Shared artifact-layout resolution for the maintenance statements
    * (COMPACT, DESCRIBE): meta row, artifact kind, and the kind's store
    * sub-directories with their cell columns. Mirrors requireKind's
    * back-compat — a pre-kind artifact (meta without the column) is
    * inferred from its store layout instead of throwing an opaque
    * field-not-found error. Centroids/supers/meta are single small
    * files and never append, so they are not listed as stores.
    */
  private def storedIndexLayout(spark: org.apache.spark.sql.SparkSession,
      dir: String, what: String)
      : (org.apache.spark.sql.Row, String, Seq[(String, String)]) = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(s"$dir/meta"))) throw TransformError(
      s"$what: no stored index at $dir")
    val metaRow = spark.read.parquet(s"$dir/meta").head()
    val kind =
      if (metaRow.schema.fieldNames.contains("kind"))
        metaRow.getAs[String]("kind")
      else if (fs.exists(new Path(s"$dir/bands"))) "lsh_text"
      else if (fs.exists(new Path(s"$dir/buckets"))) "cosine_vec"
      else if (fs.exists(new Path(s"$dir/variants"))) "typo_text"
      else if (fs.exists(new Path(s"$dir/index"))) "ivf_vec"
      else throw TransformError(
        s"$what: artifact at $dir predates kind metadata and " +
          "has no recognizable store layout — rebuild it with INDEX … INTO")
    (metaRow, kind, storesFor(kind, s"$what: at $dir"))
  }

  /** The (store sub-directory, cell column) pairs of an artifact kind —
    * ONE mapping shared by DESCRIBE/COMPACT/REBUILD's layout resolution
    * and the stats refresh, so they can never disagree on what a kind's
    * stores are.
    */
  private[graft] def storesFor(kind: String, ctx: String)
      : Seq[(String, String)] = kind match {
    case "lsh_text" => Seq("bands" -> "pc", "shingles" -> "sc")
    case "cosine_vec" => Seq("buckets" -> "pc", "vectors" -> "sc")
    case "typo_text" => Seq("variants" -> "pc", "strings" -> "sc")
    case "ivf_vec" => Seq("index" -> "cluster", "codes" -> "cluster")
    case other => throw TransformError(
      s"$ctx: unknown artifact kind '$other'")
  }

  /** INDEX DESCRIBE '<dir>' — the operability statement of the
    * maintenance story: an operator running APPEND/DELETE/COMPACT on a
    * shared artifact needs a language-level way to inspect it. One row
    * per store sub-directory answering the operational questions:
    * "what is this?" (kind, geometry — with `derived` naming which
    * fields IndexGeometry sized from the corpus vs. builder pins),
    * "how big?" (entries = store rows; cells_present of cells), "do I
    * need COMPACT?" (multi_file_cells, max_files_per_cell — each
    * APPEND adds one file per touched cell, and a cell reaching
    * [[CompactAdvisoryFiles]] files WARNS naming `INDEX COMPACT` as
    * the remedy), "are my cells skewed?"
    * (rows_min/rows_max/rows_avg per present cell, plus max_cell_skew
    * = rows_max/rows_avg — the factor by which the hottest cell
    * exceeds the balanced share; for ivf_vec index stores a skew ≥ 8
    * additionally WARNS naming `INDEX REBUILD` as the remedy, the
    * DriftScale-measured drift signature made operational), "did this
    * answer come cheap?" (stats_served — true when the row was read
    * from `<dir>/stats`, false when this DESCRIBE paid the ∝-cells
    * full recompute; absent stats additionally WARN naming
    * `INDEX COMPACT` as the statement that restores the served path),
    * "are probes manifest-served?" (manifest_version — the committed
    * [[IndexManifest]] version probes resolve cells from, 0 when none),
    * "is maintenance
    * running?" (lock_holder — the `.maint_lock` holder line, "" when
    * free; a crashed job's leftover lock shows up here before the
    * operator removes it) and "has anything probed this artifact
    * below its contract?" (probe_warnings count + last_warning — the
    * [[Warnings.persist]] events, e.g. a below-derived-bits cosine
    * probe; the ring a spec asserts dies with the probing process, so
    * the artifact carries its own telemetry). Cost (round 13): a
    * routine DESCRIBE reads the per-cell counters in `<dir>/stats`
    * ([[Stats]] — refreshed by every mutating statement as its last
    * step, invalidated by non-verb mutations) — one small parquet
    * read regardless of cell count. When stats are absent, or under
    * `INDEX DESCRIBE '<dir>' VERIFY`, the full recompute runs: ONE
    * recursive listing per store plus one footer-only Spark
    * aggregation per store, measured ∝ cells in SCALING.md round 12
    * (≈ 5 min at half the cell cap on local[32] — the cost the stats
    * path exists to amortize into the mutations, which already pay a
    * footer-order pass for their own summary rows). The per-cell
    * collect is bounded by the 65 536-cell cap. Read-only — no
    * maintenance lock taken: stats are advisory and each concurrent
    * cell swap is atomic, so a racing DESCRIBE sees each cell before
    * or after its rewrite, never half-written.
    */
  final case class IndexDescribeVerb(dir: String,
      verify: Boolean = false) extends Verb {
    def build(sources: Map[String, DataFrame], primary: DataFrame)
        : DataFrame = {
      import org.apache.hadoop.fs.Path
      val spark = primary.sparkSession
      val fs = new Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val (metaRow, kind, stores) = storedIndexLayout(spark, dir,
        "INDEX DESCRIBE")
      // the "is maintenance running?" answer: the lock file's holder
      // line, or "" when free (a crashed job's leftover lock is exactly
      // what an operator needs DESCRIBE to show before removing it) —
      // the SIBLING lock since round 14, with the legacy in-artifact
      // location still read so a pre-upgrade crash stays visible
      val lockHolder = maintLockHolder(
        spark.sparkContext.hadoopConfiguration, dir)
      // "are probes manifest-served?" — the committed IndexManifest
      // version (0 when none: probes resolve cells from the live
      // directory layout, today's default). An artifact that OPTED IN
      // (the surviving `.committed` marker) but has no current version
      // is the crashed-writer degradation — a writer died between
      // invalidation and re-publication — and WARNs naming the restore
      // statement; writers deliberately do NOT self-heal this (a full
      // re-publication is an artifact-sized listing, which would break
      // the batch-shaped mutation contract), so the advisory is the
      // operator's only signal. An artifact never published, or opted
      // out by removing manifest/ wholesale, stays silent.
      val manifestVersion =
        IndexManifest.version(spark, dir).getOrElse(0L)
      if (manifestVersion == 0L && IndexManifest.wasCommitted(spark, dir))
        Warnings.emit(
          s"INDEX DESCRIBE '$dir': this artifact's committed manifest " +
            "is absent (a writer crashed between invalidation and " +
            "re-publication) — probes are falling back to " +
            "live-directory resolution; run " +
            s"INDEX MANIFEST '$dir' to restore manifest-served probes")
      // "has anything probed this artifact below its contract?" — the
      // persisted Warnings.persist events (count + most recent), read
      // from the artifact's SIBLING warnings dir (probes never write
      // inside the artifact — see Warnings.persist), so a
      // below-derived-bits probe run last week is operationally
      // visible today, and survives a REBUILD
      val (probeWarnings, lastWarning) = {
        val wdOpt = Warnings.probeWarningsDir(dir)
        val wd = wdOpt.orNull
        if (wd == null || !fs.exists(wd)) (0L, "")
        else {
          val files = fs.listStatus(wd).toSeq.map(_.getPath)
            .sortBy(_.getName)
          val last = files.lastOption.map { p =>
            try {
              val in = fs.open(p)
              // explicit UTF-8: persist writes UTF-8 and the platform
              // default here may be ASCII (MalformedInputException)
              try scala.io.Source.fromInputStream(in)(
                scala.io.Codec.UTF8).mkString.trim
              finally in.close()
            } catch { case _: Throwable => "" }
          }.getOrElse("")
          (files.size.toLong, last)
        }
      }
      val cells =
        if (metaRow.schema.fieldNames.contains("cells"))
          metaRow.getAs[Int]("cells")
        else -1
      val derived =
        if (metaRow.schema.fieldNames.contains("derived"))
          metaRow.getAs[String]("derived")
        else "" // pre-derived-flag artifact: geometry was pinned
      // every meta field that isn't identity/bookkeeping, rendered as
      // one "k=v …" string so the schema stays kind-independent
      val geometry = metaRow.schema.fieldNames.toSeq
        .filterNot(Set("kind", "cells", "derived"))
        .map(f => s"$f=${metaRow.getAs[Any](f)}")
        .mkString(" ")
      // Round-12 DESCRIBE cost lesson (SCALING.md): one recursive
      // listing + one footer-only aggregation per store, measured
      // ∝ cells (exponent 0.93–0.96) — that body now lives in
      // Stats.storeCells and runs here only as the FALLBACK/VERIFY
      // path. The default serves from `<dir>/stats`, the per-cell
      // counters every mutating statement refreshes as its last step
      // (and every non-verb mutation invalidates — absent means
      // recompute, never lie), so a routine DESCRIBE is one small
      // parquet read regardless of cell count.
      val statsOpt: Option[Map[String, Seq[(Int, Long, Long)]]] =
        if (verify) None else Stats.read(spark, dir)
      // "did this DESCRIBE answer from <dir>/stats, or pay the full
      // footer recompute?" (round 15) — until now only wall-clock told
      // an operator apart the ~0.3 s served read from the ∝-cells full
      // pass (64 s at half the cell cap). Surfaced as a column, and
      // WARNed with the healing statement when stats are absent —
      // completing the advisory discipline (every warning names a real
      // remedy): INDEX COMPACT self-heals absent stats even when no
      // cell is dirty (the `!statsPresent` branch of its epilogue), so
      // it is the cheapest statement that restores the served path.
      // Under VERIFY the column is false and no warning fires — the
      // recompute was the explicit ask, not a degradation.
      val statsServed = statsOpt.isDefined
      if (!verify && statsOpt.isEmpty)
        Warnings.emit(
          s"INDEX DESCRIBE '$dir': per-cell stats are absent — this " +
            "DESCRIBE paid the full footer recompute (one listing + " +
            "one footer aggregation per store, ∝ cells); run " +
            s"INDEX COMPACT '$dir' to rewrite <dir>/stats and restore " +
            "the served path (a no-op rewrite when no cell is dirty)")
      val rows = stores.flatMap { case (sub, cellCol) =>
        val live = new Path(s"$dir/$sub")
        if (!fs.exists(live)) None
        else {
          val per: Seq[(Int, Long, Long)] = statsOpt match {
            case Some(m) => m.getOrElse(sub, Seq.empty)
            case None => Stats.storeCells(spark, dir, sub, cellCol)
          }
          val filesPerCell = per.map(_._2)
          val rowCounts = per.map(_._3)
          val entries = rowCounts.sum
          val rowsAvg =
            if (rowCounts.isEmpty) 0.0
            else entries.toDouble / rowCounts.size
          val rowsMax = if (rowCounts.isEmpty) 0L else rowCounts.max
          // the drift monitor (round 14): the hottest cell's share of
          // the store vs the balanced expectation 1/cells_present —
          // i.e. rows_max/rows_avg, the factor by which a probe routed
          // to that cell scans MORE than the flat-curve promise.
          // Bounded above by cells_present, so a high value always
          // means real concentration, never small-store noise.
          val skew =
            if (rowsAvg <= 0) 0.0
            else math.round(rowsMax / rowsAvg * 100) / 100.0
          Some((dir, kind, sub, cells, per.size.toLong, entries,
            filesPerCell.sum, filesPerCell.count(_ > 1).toLong,
            if (filesPerCell.isEmpty) 0L else filesPerCell.max,
            if (rowCounts.isEmpty) 0L else rowCounts.min,
            rowsMax, rowsAvg, skew, statsServed, manifestVersion,
            geometry, derived, lockHolder, probeWarnings, lastWarning))
        }
      }
      // the drift ADVISORY (round 14, the DriftScale-measured failure
      // mode made operational): drifted IVF appends concentrate into
      // the few frozen cells nearest them, and the cost is probe SCAN
      // MASS ∝ the accumulated drifted fraction until centroids
      // re-train. When the index store's hottest cell crosses 8× the
      // balanced share (DriftScale: a 10% drifted append already
      // reads ≈9×; the isotropic no-drift baseline sits well below),
      // WARN naming the remedy statement — the same
      // warning-names-a-real-statement discipline as the derived-bits
      // serving warning. IVF-only: the hash-partitioned text/cosine
      // stores are balanced by construction, so a warning there would
      // be noise.
      if (kind == "ivf_vec")
        for (r <- rows if r._3 == "index" && r._13 >= 8.0)
          Warnings.emit(
            s"INDEX DESCRIBE '$dir': the hottest index cell holds " +
              s"${r._13}x the balanced per-cell share (rows_max=${r._11} " +
              s"over ${r._5} present cells) — drifted appends are " +
              "concentrating probe scan mass into frozen cells; run " +
              s"INDEX REBUILD '$dir' to re-train centroids and re-balance")
      // the file-growth ADVISORY (same discipline, any kind): every
      // APPEND adds one file per touched cell and a probe pays a
      // parquet footer read PER FILE of each routed cell — the same
      // rows cost max_files_per_cell× the opens until compacted. At
      // 16 (≈ two weeks of daily appends, or 16 streamed microbatches
      // landing in one hot cell) the footer overhead is an order of
      // magnitude over the compacted baseline, so name the remedy.
      for (r <- rows if r._9 >= CompactAdvisoryFiles)
        Warnings.emit(
          s"INDEX DESCRIBE '$dir': store '${r._3}' has a cell with " +
            s"${r._9} files (${r._8} cells hold more than one) — " +
            "probes pay a footer read per file for the same rows; run " +
            s"INDEX COMPACT '$dir' to rewrite multi-file cells")
      import spark.implicits._
      rows.toDF("path", "kind", "store", "cells", "cells_present",
        "entries", "files", "multi_file_cells", "max_files_per_cell",
        "rows_min", "rows_max", "rows_avg", "max_cell_skew",
        "stats_served", "manifest_version", "geometry", "derived",
        "lock_holder", "probe_warnings", "last_warning")
    }
  }

  /** INDEX MANIFEST '<dir>' — commit a versioned file manifest of the
    * artifact's current live layout ([[IndexManifest]]): after this,
    * every stored probe resolves its routed cells from ONE small
    * manifest read (explicit data-file paths — no per-cell existence
    * RPCs, no footer-discovery directory listing, no mixed-cells window
    * while maintenance runs elsewhere), falling back to the live layout
    * automatically once any mutation invalidates the manifest
    * (absent-never-stale, the stats discipline — see
    * [[Stats.invalidate]]). Runs under the single-writer maintenance
    * lock so the snapshot cannot interleave with a writer's cell swap;
    * answers are pinned unchanged (q174 gates manifest-served probe ≡
    * live-layout probe hash-exact, across a writer re-publication).
    * Once committed, the WRITERS maintain it: API/streaming
    * append+delete and COMPACT re-publish incrementally
    * ([[IndexManifest.republishTouched]]), REBUILD re-snapshots after
    * its swap — so this statement is the one-time opt-in (and the
    * recovery statement after a crash left the manifest absent). This
    * is the foundation of the object-store maintenance design
    * (SCALING.md round 15): on S3-style stores — where the per-cell
    * rename swap cannot hold — a one-object manifest commit is the
    * scale-safe write primitive; round 16 swaps the rename commit for
    * a conditional put.
    */
  final case class IndexManifestVerb(dir: String) extends Verb {
    def build(sources: Map[String, DataFrame], primary: DataFrame)
        : DataFrame = {
      val spark = primary.sparkSession
      val (_, kind, stores) = storedIndexLayout(spark, dir,
        "INDEX MANIFEST")
      val (version, files) = withMaintLock(spark, dir, "MANIFEST") {
        IndexManifest.publish(spark, dir, stores)
      }
      import spark.implicits._
      Seq((dir, kind, version, files))
        .toDF("path", "kind", "version", "files")
    }
  }

  /** INDEX REBUILD '<dir>' — re-derive the artifact's geometry for its
    * CURRENT size and rebuild it from its own stores, the remedy the
    * two measured maintenance limits call for (SCALING.md round 11):
    * appends outgrow a derived cell count (per-cell rows — probe cost —
    * grow until re-cell'd; `INDEX DESCRIBE`'s rows_avg is the monitor),
    * and drifted IVF appends concentrate into frozen cells (scan mass
    * ∝ drifted fraction until centroids re-train). Per family:
    *  - lsh_text / typo_text: re-CELL — entries are re-partitioned into
    *    a freshly derived cell count (banding / variant algebra is
    *    threshold-shaped, corpus-independent, and for LSH the original
    *    strings are hashed away by design, so band keys are never
    *    recomputed — rows move, content doesn't);
    *  - cosine_vec: full re-bucket from the vectors store (raw vectors
    *    are stored), re-deriving bits AND cells;
    *  - ivf_vec: full re-TRAIN from the index store's vectors — fresh
    *    centroids over the union, the drift remedy itself.
    * Only fields the artifact's `meta/` marks as DERIVED are re-derived
    * (a builder's pinned CELLS/BITS stay pinned — rebuilding still
    * rebalances files and, for IVF, re-trains centroids). Rebuild is
    * CONTENT-PRESERVING: probe answers before == after (the q162 gate
    * pins it against the shared brute-force oracle across the
    * build → append → rebuild → probe chain).
    *
    * `INDEX REBUILD '<dir>' THRESHOLD <t>` (lsh_text only) additionally
    * RE-BANDS the artifact for the new threshold — the one
    * content-CHANGING rebuild form, and the escape hatch the write-once
    * corpus story needs: banding is threshold-shaped, so without this a
    * threshold change forces a rebuild FROM SOURCE, which may no longer
    * exist as a frame. It works because the shingle store persists each
    * entry's full (hashed) shingle set, from which MinHash signatures
    * and band keys are pure recomputations ([[NearDup.bandKeysFromStored]]
    * — applying the signature directly to the stored hashes; re-hashing
    * hashes would band nonsense). New banding = NearDup.autoBands(t)
    * over the artifact's own num_perm; `meta/` records it (probes at
    * the NEW threshold adopt it, probes at the old one now error on the
    * banding mismatch instead of silently missing pairs — q165 pins the
    * re-thresholded artifact against the brute-force oracle AT the new
    * threshold). Non-LSH kinds reject THRESHOLD: their stores are not
    * threshold-shaped.
    *
    * `INDEX REBUILD '<dir>' [TABLES <t>] [BITS <b>]` (cosine_vec only)
    * re-buckets the artifact at EXPLICIT sign-LSH geometry — the
    * cosine analogue of the THRESHOLD re-band, and the statement the
    * derived-bits serving warning points at: a one-line
    * `INDEX … METHOD COSINE` derives bits for dedup-grade similarity
    * (~8 entries/bucket), which a later KNN top-k serve warns about on
    * every probe because moderate-similarity neighbors can be missed.
    * The `vectors/` store persists raw (id, v, nrm), so buckets at ANY
    * geometry are pure recomputations from the artifact alone — no
    * source corpus needed (the write-once story, q165's shape). Fields
    * given are PINNED in `meta/` (they leave the `derived` list, so
    * the serving warning stops firing); fields omitted keep their
    * current value and derivation status. Old-geometry probes keep
    * working because probes always adopt geometry from meta.
    * THRESHOLD and TABLES/BITS are mutually exclusive (one statement,
    * one artifact family); non-cosine kinds reject TABLES/BITS.
    *
    * `INDEX REBUILD '<dir>' … CELLS <n>` (any kind, round 14 —
    * completing the geometry-pinning symmetry) re-cells the artifact
    * at an EXPLICIT cell count and PINS it: the
    * right-size-ahead-of-growth statement the 65 536-cell-cap build
    * warning's remedy names, for the operator who knows tomorrow's
    * corpus today. `cells` leaves the `derived` list (so later
    * derived-geometry rebuilds keep the pin), every store re-partitions
    * at the new count, and answers are pinned unchanged (cell count is
    * pure layout — q171 rides q162's chain + oracle with the explicit
    * count). Composes with THRESHOLD (lsh re-band at a pinned count)
    * and TABLES/BITS (cosine re-bucket likewise); kind-independent
    * because every store is cell-partitioned.
    *
    * Swap: the new artifact is staged COMPLETE as a sibling
    * (`.rebuild_stage_<name>`), then swapped in with two directory
    * renames (live → `.rebuild_old_<name>`, stage → live). Geometry
    * spans every store plus meta, so unlike DELETE/COMPACT there is no
    * per-cell consistency to offer mid-swap — instead the artifact is
    * ABSENT between the two renames and a racing probe fails loudly
    * ("no stored index") rather than silently mis-routing against
    * half-swapped geometry. A crash between the renames self-heals: the
    * next REBUILD restores `.rebuild_old_` before starting — UNDER the
    * lock (round 15), so the sweep cannot race a live statement's swap
    * and "restore" the doomed old artifact mid-rename; a contender
    * errors naming the holder without touching `.rebuild_old_` (and any
    * maintenance statement in the window reports the artifact missing,
    * pointing at the leftover directories). Runs under the single-writer
    * maintenance lock like every maintenance form — the lock is a
    * SIBLING of the artifact ([[maintLockPath]]), so it survives both
    * renames: the swapped-in artifact stays locked for the statement's
    * tail (a racing streaming append fails fast instead of writing
    * into the doomed `.rebuild_old_`), and a crash between the renames
    * cannot resurrect a stale lock through self-heal.
    */
  final case class IndexRebuildVerb(dir: String,
      reThreshold: Option[Double] = None,
      reTables: Option[Int] = None,
      reBits: Option[Int] = None,
      reCells: Option[Int] = None) extends Verb {
    def build(sources: Map[String, DataFrame], primary: DataFrame)
        : DataFrame = {
      import org.apache.hadoop.fs.Path
      requireAtomicRenameFs(dir, "INDEX REBUILD")
      val spark = primary.sparkSession
      val dirPath = new Path(dir)
      val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val parent = dirPath.getParent
      val stage = new Path(parent, s".rebuild_stage_${dirPath.getName}")
      val oldP = new Path(parent, s".rebuild_old_${dirPath.getName}")
      // The WHOLE statement — crash-recovery sweep included — runs
      // under the single-writer lock (round 15): a second REBUILD
      // sweeping while the first held the lock mid-swap would see
      // live-absent/old-present, "restore" the doomed old artifact
      // between the first's two renames, and make its stage→live
      // rename fail spuriously. COMPACT already swept under its lock;
      // REBUILD now matches: a contender errors naming the holder
      // WITHOUT having touched `.rebuild_old_` (AqlSpec pins this).
      withMaintLock(spark, dir, "REBUILD") {
        // self-heal a crashed swap: live absent + old present ⇒ the crash
        // hit between the two renames — restore the prior artifact first;
        // live present + old present ⇒ crash after swap-in, reap the old
        if (!fs.exists(dirPath) && fs.exists(oldP)) {
          if (!fs.rename(oldP, dirPath)) throw new IllegalStateException(
            s"INDEX REBUILD: cannot restore crashed-rebuild artifact " +
              s"$oldP to $dir — restore it manually, then re-run")
        } else if (fs.exists(oldP)) fs.delete(oldP, true)
        if (fs.exists(stage)) fs.delete(stage, true)
        // manifest maintained-when-present (round 15): the swap carries
        // the old manifest away with the old directory, so a committed
        // artifact re-publishes FRESH after the swap (full snapshot —
        // REBUILD is artifact-sized by construction, so the listing
        // adds nothing asymptotic). Presence checked by version-file
        // name OR the opt-in marker — so a REBUILD issued on the
        // crashed-writer state (marker present, versions absent) heals
        // the manifest along with everything else, instead of silently
        // dropping the opt-in; and by name only, never content:
        // REBUILD replaces every store, so even a tampered manifest's
        // artifact leaves rebuilt-and-republished
        val hadManifest = IndexManifest.version(spark, dir).isDefined ||
          IndexManifest.wasCommitted(spark, dir)
        val (metaRow, kind, _) = storedIndexLayout(spark, dir,
          "INDEX REBUILD")
        if (!metaRow.schema.fieldNames.contains("cells")) throw TransformError(
          s"INDEX REBUILD: artifact at $dir predates cells metadata — " +
            "rebuild it from source with INDEX … INTO")
        if (reThreshold.isDefined && kind != "lsh_text") throw TransformError(
          s"INDEX REBUILD THRESHOLD only applies to lsh_text artifacts " +
            s"(banding is threshold-shaped; the '$kind' store at $dir is " +
            "not) — drop THRESHOLD to rebuild geometry only")
        if ((reTables.isDefined || reBits.isDefined) && kind != "cosine_vec")
          throw TransformError(
            s"INDEX REBUILD TABLES/BITS only applies to cosine_vec " +
              s"artifacts (sign-LSH bucket geometry; the '$kind' store " +
              s"at $dir has none) — drop TABLES/BITS to rebuild geometry " +
              "only")
        val cellsBefore = metaRow.getAs[Int]("cells")
        val derivedSeq =
          if (metaRow.schema.fieldNames.contains("derived"))
            metaRow.getAs[String]("derived").split(",")
              .filter(_.nonEmpty).toSeq
          else Seq.empty
        def reDerive(field: String, old: Int, rule: Long => Int, n: Long)
            : Int = if (derivedSeq.contains(field)) rule(n) else old
        // CELLS given ⇒ re-cell at the EXPLICIT count and PIN it (the
        // field leaves the derived list, exactly as TABLES/BITS pin the
        // cosine geometry) — the right-size-ahead-of-growth statement
        // the 65 536-cell-cap warning's remedy names, kind-independent
        // because every store is cell-partitioned; omitted ⇒ a DERIVED
        // cell count re-derives for the current size, a pinned one stays
        def resolveCells(rule: Long => Int, n: Long): Int =
          reCells.getOrElse(reDerive("cells", cellsBefore, rule, n))
        val derivedMinusCells =
          if (reCells.isDefined) derivedSeq.filterNot(_ == "cells")
          else derivedSeq
        def requireData(sub: String): Unit = {
          val p = new Path(s"$dir/$sub")
          var found = false
          if (fs.exists(p)) {
            val it = fs.listFiles(p, true)
            while (!found && it.hasNext) {
              val nm = it.next().getPath.getName
              if (!nm.startsWith("_") && !nm.startsWith(".")) found = true
            }
          }
          if (!found) throw TransformError(
            s"INDEX REBUILD: artifact at $dir has no entries ($sub is " +
              "empty) — APPEND entries first, or rebuild from source " +
              "with INDEX … INTO")
        }
        val (cellsAfter, entries) = {
          val res: (Int, Long) = kind match {
            case "lsh_text" =>
              requireData("shingles")
              val sh = spark.read.parquet(s"$dir/shingles")
                .select(col("id"), col("shs")).localCheckpoint(false)
              val n = sh.count()
              val c = resolveCells(IndexGeometry.storeCells, n)
              reThreshold match {
                case Some(t) =>
                  // RE-BAND: signatures + band keys are pure functions
                  // of the persisted shingle sets, so a new threshold's
                  // banding recomputes from the artifact alone — the
                  // bands store is REPLACED, not moved
                  val numPerm = metaRow.getAs[Int]("num_perm")
                  val (b, r) =
                    try NearDup.autoBands(t, numPerm)
                    catch { case e: IllegalArgumentException =>
                      throw TransformError(
                        s"INDEX REBUILD THRESHOLD: ${e.getMessage}")
                    }
                  val scheme =
                    if (metaRow.schema.fieldNames
                        .contains("shingle_scheme"))
                      metaRow.getAs[String]("shingle_scheme")
                    else "raw"
                  NearDup.bandKeysFromStored(sh, scheme, numPerm, b, r)
                    .withColumn("pc", pmod(xxhash64(col("band"),
                      col("bh")), lit(c.toLong)).cast("int"))
                    .repartition(cellWriteParts(spark, c), col("pc"))
                    .write.partitionBy("pc").parquet(s"$stage/bands")
                  // banding is auto-chosen from the given threshold —
                  // exactly a fresh `INDEX … THRESHOLD t` build's
                  // derivation, so meta marks bands_rows derived
                  val derivedAfter = (derivedMinusCells :+ "bands_rows")
                    .distinct.mkString(",")
                  spark.read.parquet(s"$dir/meta")
                    .withColumn("cells", lit(c))
                    .withColumn("num_bands", lit(b))
                    .withColumn("rows_per_band", lit(r))
                    .withColumn("derived", lit(derivedAfter))
                    .coalesce(1).write.parquet(s"$stage/meta")
                case None =>
                  spark.read.parquet(s"$dir/bands")
                    .select(col("id"), col("band"), col("bh"))
                    .withColumn("pc", pmod(xxhash64(col("band"),
                      col("bh")), lit(c.toLong)).cast("int"))
                    .repartition(cellWriteParts(spark, c), col("pc"))
                    .write.partitionBy("pc").parquet(s"$stage/bands")
                  val metaBase = spark.read.parquet(s"$dir/meta")
                    .withColumn("cells", lit(c))
                  // a pinned CELLS leaves the derived list; legacy
                  // pre-derived-flag metas are left schema-unchanged
                  // unless the pin demands the column
                  (if (reCells.isDefined)
                     metaBase.withColumn("derived",
                       lit(derivedMinusCells.mkString(",")))
                   else metaBase)
                    .coalesce(1).write.parquet(s"$stage/meta")
              }
              sh.withColumn("sc",
                  pmod(xxhash64(col("id")), lit(c.toLong)).cast("int"))
                .repartition(cellWriteParts(spark, c), col("sc"))
                .write.partitionBy("sc").parquet(s"$stage/shingles")
              (c, n)
            case "typo_text" =>
              requireData("strings")
              val strs = spark.read.parquet(s"$dir/strings")
                .select(col("id"), col("txt")).localCheckpoint(false)
              val n = strs.count()
              val c = resolveCells(IndexGeometry.storeCells, n)
              NearDup.typoStoreTo(stage.toString, strs, c,
                derived = derivedMinusCells)
              (c, n)
            case "cosine_vec" =>
              requireData("vectors")
              val vecs = spark.read.parquet(s"$dir/vectors")
                .select(col("id"), col("v"), col("nrm"))
                .localCheckpoint(false)
              val n = vecs.count()
              val c = resolveCells(IndexGeometry.storeCells, n)
              // TABLES/BITS given ⇒ re-bucket at EXPLICIT geometry and
              // PIN it in meta (the field leaves the derived list, so
              // the derived-bits serving warning stops firing — this is
              // the statement that warning's remedy text names). The
              // vectors store holds raw (id, v, nrm), so any geometry
              // is a pure recomputation from the artifact alone —
              // q165's re-band story for the cosine family.
              val bi = reBits.getOrElse(
                reDerive("bits", metaRow.getAs[Int]("bits"),
                  IndexGeometry.cosineBits, n))
              val tb = reTables.getOrElse(metaRow.getAs[Int]("tables"))
              val derivedAfter = derivedMinusCells.filterNot(f =>
                (reBits.isDefined && f == "bits") ||
                  (reTables.isDefined && f == "tables"))
              VecKnn.cosineStoreTo(stage.toString, vecs,
                tb, bi, c, derived = derivedAfter)
              (c, n)
            case "ivf_vec" =>
              requireData("index")
              val e = spark.read.parquet(s"$dir/index")
                .select(col("vec_id"), col("v"), col("nrm"))
                .localCheckpoint(false)
              val n = e.count()
              val c = resolveCells(IndexGeometry.ivfCells, n)
              // PQ rides the rebuild: codebooks are re-PICKED from the
              // current corpus exactly as centroids re-train (the
              // frozen-codebook drift remedy), with pq_codes re-derived
              // only if the build derived it
              val pqOpt =
                if (metaRow.schema.fieldNames.contains("pq_m"))
                  Some((metaRow.getAs[Int]("pq_m"),
                    reDerive("pq_codes", metaRow.getAs[Int]("pq_codes"),
                      IndexGeometry.pqCodes, n)))
                else None
              graft.queries.Similarity.ivfStoreTo(stage.toString, e, c,
                derived = derivedMinusCells, pq = pqOpt)
              (c, n)
            case other => throw TransformError(
              s"INDEX REBUILD: unknown artifact kind '$other' at $dir")
          }
          // the staged artifact swaps in COMPLETE, fresh stats
          // included — a crash before the swap leaves the live
          // artifact (and its stats) untouched
          Stats.write(spark, stage.toString,
            storesFor(kind, "INDEX REBUILD"))
          // two renames; between them the artifact is absent and a
          // racing probe fails loudly instead of mis-routing
          if (!fs.rename(dirPath, oldP)) throw new IllegalStateException(
            s"INDEX REBUILD: cannot stage out $dir — the rebuild was " +
              s"NOT applied (the staged artifact remains at $stage)")
          // defensive: nothing internal writes into the live path
          // between the two renames (probe warnings go to a SIBLING
          // for exactly this reason — Warnings.persist), so a
          // resurrected live dir means external interference; renaming
          // onto an existing directory would move the staged artifact
          // INTO it (Hadoop semantics) and silently lose the store —
          // fail loudly instead, with both recovery paths named
          if (fs.exists(dirPath)) throw new IllegalStateException(
            s"INDEX REBUILD: $dir reappeared between the swap renames " +
              s"(external writer?) — the prior artifact is at $oldP " +
              s"and the rebuilt one at $stage; remove the junk $dir " +
              "and restore one of them manually")
          if (!fs.rename(stage, dirPath)) {
            val restored = fs.rename(oldP, dirPath)
            throw new IllegalStateException(
              s"INDEX REBUILD: cannot swap the rebuilt artifact into " +
                s"$dir — " + (if (restored)
                  "the prior artifact was restored unchanged"
                else s"and restoring failed: the prior artifact is at " +
                  s"$oldP; restore it manually") +
                s" (the rebuilt artifact remains at $stage)")
          }
          fs.delete(oldP, true)
          res
        }
        // the rebuilt artifact starts manifest-absent (fresh stage);
        // restore the serving contract the operator had committed to
        if (hadManifest)
          IndexManifest.publish(spark, dir,
            storesFor(kind, "INDEX REBUILD"))
        import spark.implicits._
        Seq((dir, kind, cellsBefore, cellsAfter, entries))
          .toDF("path", "kind", "cells_before", "cells_after",
            "indexed_rows")
      }
    }
  }

  /** INDEX COMPACT '<dir>' — rewrite MULTI-FILE cells of a stored
    * artifact back to one file per cell. Every `INDEX … APPEND`
    * statement adds one file per touched cell directory (the
    * repartition-then-partitionBy write), so N appends leave N files
    * per cell and probe tasks pay N footer reads where one would do;
    * COMPACT is the maintenance statement that caps that growth — run
    * it on whatever cadence appends accumulate (the small-file
    * compaction every warehouse format schedules, as an explicit
    * language operator). Cells already holding ≤ 1 data file are
    * NEVER listed into the rewrite, read, or touched — so compaction
    * cost is ∝ the cells appends actually dirtied since the last
    * COMPACT, not the artifact size (at 100 TB a full-artifact rewrite
    * per invocation would be a corpus-sized job; the AqlSpec case pins
    * the skip by running COMPACT twice — the second pass rewrites
    * nothing and every file path survives byte-identical). Rows, cells
    * and `meta/` are untouched — probe answers are IDENTICAL before
    * and after (q158 pins this bit-for-bit on the oracle of the
    * build→append→probe chain; the AqlSpec case additionally pins
    * files_after < files_before after a double append). Dirty cells
    * are rewritten through [[NearDup.rewriteCellsInPlace]]'s staging +
    * two-phase swap (DELETE's machinery with an identity transform) —
    * atomic per cell on HDFS/posix; object-store schemes without
    * atomic rename are REFUSED up front ([[requireAtomicRenameFs]]).
    * The stats epilogue is incremental like APPEND/DELETE's (round
    * 14): the dirty set IS the touched set, so with prior stats
    * present only the rewritten cells are recomputed
    * ([[Stats.mergeTouched]]) and the whole statement — listing,
    * rewrite, AND refresh — is ∝ the cells appends dirtied.
    * A crash mid-swap leaves `.old_…`
    * cells intact and re-running COMPACT completes the rest. The
    * block's input frame is ignored (the artifact is the operand);
    * output is a one-row summary (path, kind, files_before,
    * files_after).
    */
  /** One store's COMPACT scan (sweep crashed cells → list dirty cells)
    * — extracted so [[IndexCompactVerb]] can decide up front whether
    * ANY rewrite is coming (the idempotent no-op contract: a re-COMPACT
    * with nothing dirty must leave every byte alone, stats included)
    * and then run the two stores' rewrites concurrently. Returns
    * (files before, restored cells, dirty cells). Sweeping FIRST
    * matters: a restored cell participates in this COMPACT's own dirty
    * listing and joins the touched set so the incremental stats merge
    * recomputes it.
    */
  private def compactScan(spark: org.apache.spark.sql.SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, dir: String, sub: String,
      cellCol: String,
      dataFiles: org.apache.hadoop.fs.Path => Long)
      : (Long, Seq[Int], Seq[Int]) = {
    import org.apache.hadoop.fs.Path
    val live = new Path(s"$dir/$sub")
    if (!fs.exists(live)) return (0L, Seq.empty, Seq.empty)
    val restored = NearDup.sweepOldCells(spark, live.toString, cellCol)
    val before = dataFiles(live)
    // dirty = cells with ≥ 2 data files; one directory listing per
    // cell dir (cheap metadata ops ∝ cells, no data read)
    val dirty = fs.listStatus(live).toSeq
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith(s"$cellCol="))
      .filter(st => dataFiles(st.getPath) > 1)
      .map(_.getPath.getName.stripPrefix(s"$cellCol=").toInt)
      .sorted
    (before, restored, dirty)
  }

  final case class IndexCompactVerb(dir: String) extends Verb {
    def build(sources: Map[String, DataFrame], primary: DataFrame)
        : DataFrame = {
      import org.apache.hadoop.fs.Path
      requireAtomicRenameFs(dir, "INDEX COMPACT")
      val spark = primary.sparkSession
      val fs = new Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val (metaRow, kind, stores) = storedIndexLayout(spark, dir,
        "INDEX COMPACT")
      val _ = metaRow // COMPACT needs only the layout
      def dataFiles(p: Path): Long = {
        val it = fs.listFiles(p, true)
        var n = 0L
        while (it.hasNext) {
          val nm = it.next().getPath.getName
          if (!nm.startsWith("_") && !nm.startsWith(".")) n += 1
        }
        n
      }
      var before = 0L
      var after = 0L
      var rewrote = false
      var touched = Map.empty[String, Seq[Int]]
      withMaintLock(spark, dir, "COMPACT") {
        // priors read UNDER the lock, before any rewrite invalidates
        // them — the incremental-refresh inputs (round 14: COMPACT's
        // cost contract is ∝ the cells appends dirtied, and its stats
        // epilogue matches — the dirty set IS the touched set; round
        // 15: a committed manifest rides the same discipline)
        val manifestPrior = IndexManifest.readVersioned(spark, dir)
        val prior = Stats.read(spark, dir)
        // phase 1, SERIAL per store: sweep crashed cells + list dirty
        // cells (cheap metadata ops). Serial because the sweep/listing
        // decides whether anything will be rewritten at all — an
        // idempotent re-COMPACT must stay a byte-stable no-op, stats
        // file included, so the invalidate below only happens when a
        // rewrite is actually coming.
        val scans = stores.map { case (sub, cellCol) =>
          (sub, cellCol, compactScan(spark, fs, dir, sub, cellCol,
            dataFiles))
        }
        val anyRewrite = scans.exists { case (_, _, (_, restored, dirty)) =>
          restored.nonEmpty || dirty.nonEmpty }
        // invalidate ONCE, serially, before the concurrent rewrites
        // (each rewrite re-invalidates defensively against an
        // already-absent path — the bandStoreDelete pattern)
        if (anyRewrite)
          Stats.invalidate(spark.sparkContext.hadoopConfiguration, dir)
        // phase 2, CONCURRENT: the dirty-cell rewrites touch disjoint
        // store directories (round 15, the same inParallel the writers
        // ride). Generic over the store list (round 16, advisor
        // finding): the old two-leg form silently skipped any third
        // store a future kind might add — scanned and counted but never
        // rewritten, with stats refreshed as if compacted. Every kind
        // today has ≤ 2 stores, so the pairwise fold degenerates to the
        // same two concurrent legs.
        def rewriteLeg(sub: String, cellCol: String,
            dirty: Seq[Int]): Unit =
          if (dirty.nonEmpty)
            NearDup.rewriteCellsInPlace(spark, s"$dir/$sub", cellCol,
              dirty, "INDEX COMPACT",
              "re-running COMPACT completes the rest (compacting a " +
                "compacted cell is a no-op)")(identity)
        scans.grouped(2).foreach {
          case Seq((sub, cellCol, (_, _, dirty))) =>
            rewriteLeg(sub, cellCol, dirty)
          case Seq((subA, colA, (_, _, dirtyA)),
              (subB, colB, (_, _, dirtyB))) =>
            inParallel(rewriteLeg(subA, colA, dirtyA),
              rewriteLeg(subB, colB, dirtyB))
            ()
          case _ => ()
        }
        for ((sub, _, (b, restored, dirty)) <- scans) {
          before += b
          val live = new Path(s"$dir/$sub")
          if (fs.exists(live)) after += dataFiles(live)
          if (restored.nonEmpty || dirty.nonEmpty) rewrote = true
          val t = (dirty ++ restored).distinct.sorted
          if (t.nonEmpty) touched += sub -> t
        }
        // refresh stats LAST (still under the lock): the compacted
        // per-cell file counts are exactly what the next DESCRIBE
        // asks. With prior stats present the refresh merges recomputed
        // rows for the DIRTY cells only (rows never change under
        // COMPACT's identity rewrite, but file counts do — and only
        // there), keeping the epilogue ∝ dirtied cells like the
        // rewrite itself. Skipped when nothing was rewritten AND
        // stats are already present — an idempotent re-COMPACT must
        // stay a byte-stable no-op (the q158 contract); when no cell
        // was dirty but stats are ABSENT (a prior API mutation
        // invalidated them), the statement still self-heals the fast
        // path
        val statsPresent = fs.exists(new Path(s"$dir/stats"))
        if (rewrote || !statsPresent) prior match {
          case Some(p) if rewrote =>
            Stats.mergeTouched(spark, dir, stores, p, touched)
          case _ => Stats.write(spark, dir, stores)
        }
        // manifest maintained-when-present (round 15): the rewrite
        // invalidated it; re-publish incrementally with the dirty set.
        // An idempotent re-COMPACT (nothing rewritten) left the
        // committed manifest untouched and exact — no new version
        if (rewrote) manifestPrior.foreach { case (v, pm) =>
          IndexManifest.republishTouched(spark, dir, stores, v, pm,
            touched)
        }
      }
      import spark.implicits._
      Seq((dir, kind, before, after))
        .toDF("path", "kind", "files_before", "files_after")
    }
  }

  /** Single-writer mutual exclusion for stored-index MAINTENANCE —
    * every mutation of an existing artifact, whether issued as a verb
    * statement (APPEND / DELETE / COMPACT / REBUILD) or through the
    * Scala-API writers the streaming ingest path calls per microbatch
    * (NearDup.bandStoreAppend/Delete, typoStoreAppend/Delete, VecKnn's
    * cosine append/delete, Similarity's IVF append/delete — each
    * acquires this lock itself since round 14, so the README's
    * single-writer contract is MECHANICALLY held rather than left to
    * operator discipline; before that, a streaming appender racing
    * REBUILD's two-rename swap could land a microbatch in the doomed
    * `.rebuild_old_` directory and silently lose it). Two concurrent
    * writers interleaving their cell writes or rename swaps on one
    * artifact is undefined, so each acquires the artifact's lock
    * first — an atomic create-if-absent (create-exclusive on HDFS-like
    * schemes; on local filesystems a pre-populated hard link, since
    * Hadoop's LocalFileSystem create is exists-then-create and not
    * atomic; object-store schemes with NEITHER primitive are refused
    * before any work — [[requireAtomicRenameFs]]), held for the
    * statement and released on every exit path. Acquisition is
    * RE-ENTRANT per thread (the verb statement holds the lock when its
    * inner API writer re-acquires — one file create per statement, or
    * per microbatch on the streaming path). Contention is a clear
    * error naming the holder, not a corrupted artifact. The lock
    * guards WRITERS against each other only: probes stay lock-free —
    * each cell swap is atomic, so a probe racing maintenance sees each
    * cell either before or after its rewrite (never half-written), but
    * may see a MIX of old and new cells across one scan; deployments
    * that need a fully consistent view schedule probes around
    * maintenance windows. A crashed maintenance job leaves the lock
    * behind by design — the error tells the operator to verify no job
    * is running and remove it (a TTL that silently self-expired
    * mid-job would be worse than the ask).
    */
  /** Schemes with no atomic rename / create-exclusive contract. The
    * maintenance statements' correctness rests on BOTH: the
    * single-writer `.maint_lock` is an atomic create (or hard link),
    * and every cell/artifact swap is a rename that a racing probe sees
    * entirely or not at all. On S3-style stores neither holds —
    * "rename" is copy+delete and create is last-writer-wins — so two
    * concurrent writers could silently interleave and a probe could
    * read a half-copied cell. Refusing with a clear contract statement
    * beats undefined behavior a user only discovers as corruption.
    * Probes and DESCRIBE stay scheme-agnostic: they are read-only.
    */
  private val nonAtomicRenameSchemes = Set(
    "s3", "s3a", "s3n", "gs", "abfs", "abfss", "wasb", "wasbs", "oss",
    "cos", "swift")

  private[graft] def requireAtomicRenameFs(dir: String, what: String)
      : Unit = {
    val scheme = scala.util.Try(
      Option(new java.net.URI(dir).getScheme)).toOption.flatten
      .map(_.toLowerCase).getOrElse("file")
    if (nonAtomicRenameSchemes(scheme)) throw TransformError(
      s"$what: stored-index MAINTENANCE requires atomic-rename storage " +
        s"(HDFS/posix) and $dir is on '$scheme', where rename is " +
        "copy+delete and create is last-writer-wins — the single-writer " +
        "lock and the per-cell swap cannot hold. Keep maintained " +
        "artifacts on HDFS-like storage, or rebuild from source with " +
        "INDEX … INTO (a plain overwrite) in a scheduled maintenance " +
        "window and copy the finished artifact out")
  }

  /** The artifact's maintenance-lock path: `<parent>/.maint_lock_<name>`
    * for an artifact at `<parent>/<name>` — a SIBLING of the artifact,
    * not a file inside it (round 14, mirroring
    * [[Warnings.probeWarningsDir]]): the lock must survive INDEX
    * REBUILD's two-rename swap. A lock INSIDE the directory rides the
    * live → `.rebuild_old_` rename, leaving the swapped-in artifact
    * unlocked for the statement's tail, and a crash between the
    * renames would have self-heal restore a STALE lock that then
    * blocks the healing rebuild. A filesystem-root artifact has no
    * parent to hold a sibling; the lock degrades to
    * `<dir>/.maint_lock` there (such an artifact cannot be REBUILT
    * anyway — the swap needs the parent for its stage/old siblings).
    */
  private[graft] def maintLockPath(dir: String)
      : org.apache.hadoop.fs.Path = {
    val b = new org.apache.hadoop.fs.Path(dir)
    Option(b.getParent)
      .map(p => new org.apache.hadoop.fs.Path(p,
        s".maint_lock_${b.getName}"))
      .getOrElse(new org.apache.hadoop.fs.Path(b, ".maint_lock"))
  }

  /** The current lock holder's line, or "" when the artifact is
    * unlocked — DESCRIBE's "is maintenance running?" answer, shared
    * with [[withMaintLock]]'s contention error so the two can never
    * report different holders. Checks the sibling lock first, then the
    * legacy in-artifact `<dir>/.maint_lock` (pre-round-14 layout — a
    * crashed old-version job's leftover lock must stay visible, and
    * held, until the operator removes it).
    */
  private[graft] def maintLockHolder(
      conf: org.apache.hadoop.conf.Configuration, dir: String): String = {
    def holderOf(p: org.apache.hadoop.fs.Path): Option[String] = {
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) None
      else Some(
        try {
          val in = fs.open(p)
          try scala.io.Source.fromInputStream(in)(
            scala.io.Codec.UTF8).mkString.trim
          finally in.close()
        } catch { case _: Throwable => "unknown holder" })
    }
    holderOf(maintLockPath(dir))
      .orElse(holderOf(new org.apache.hadoop.fs.Path(s"$dir/.maint_lock")))
      .getOrElse("")
  }

  /** Lock paths held by the CURRENT thread — [[withMaintLock]]'s
    * re-entrancy record, so a verb statement's inner API writer call
    * re-enters instead of self-deadlocking on the statement's own
    * lock. Thread-confined by construction: every maintenance
    * statement runs its writers on the thread that acquired (Spark
    * actions inside fan out to executors, but the DRIVER-side writer
    * sequence is one thread).
    */
  private val heldLocks = new ThreadLocal[Set[String]] {
    override def initialValue(): Set[String] = Set.empty
  }

  private[graft] def withMaintLock[A](
      spark: org.apache.spark.sql.SparkSession,
      dir: String, what: String)(f: => A): A = {
    requireAtomicRenameFs(dir, s"INDEX … $what")
    import org.apache.hadoop.fs.Path
    val lock = maintLockPath(dir)
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val reentryKey = fs.makeQualified(lock).toString
    if (heldLocks.get.contains(reentryKey)) return f
    val holderLine = s"$what @ ${java.time.Instant.now()}\n"
    def contended(at: Path): Nothing = {
      val holder = {
        val h = maintLockHolder(
          spark.sparkContext.hadoopConfiguration, dir)
        if (h.isEmpty) "unknown holder" else h
      }
      throw TransformError(
        s"INDEX … $what: stored-index maintenance is single-writer " +
          s"and $at is held ($holder) — wait for the running " +
          "APPEND/DELETE/COMPACT/REBUILD (or streaming ingest batch) " +
          "to finish, or if it crashed, verify no job is running and " +
          "remove the lock file")
    }
    def contendedHere(): Nothing = contended(lock)
    // legacy in-artifact lock (pre-round-14 layout): never written by
    // this version, but a crashed old-version job's leftover lock must
    // still exclude new writers until the operator removes it
    val legacy = new Path(s"$dir/.maint_lock")
    if (fs.exists(legacy)) contended(legacy)
    def withHeld(body: => A): A = {
      heldLocks.set(heldLocks.get + reentryKey)
      try body finally heldLocks.set(heldLocks.get - reentryKey)
    }
    val qlock = fs.makeQualified(lock)
    if (qlock.toUri.getScheme == "file") {
      // Hadoop's LocalFileSystem create(…, overwrite=false) is an
      // exists-check-then-create — NOT atomic — so on local
      // filesystems acquire via link(2) instead: pre-populate a unique
      // temp file with the holder line, then hard-link it to
      // .maint_lock. link fails with EEXIST when held (atomic in the
      // kernel), and a won lock appears atomically WITH its holder
      // content, so a contender can never observe an empty lock.
      import java.nio.file.{Files, Paths, FileAlreadyExistsException}
      val lockNio = Paths.get(qlock.toUri.getPath)
      Files.createDirectories(lockNio.getParent)
      val tmp = lockNio.resolveSibling(
        s".maint_lock_tmp_${java.util.UUID.randomUUID()}")
      Files.write(tmp, holderLine.getBytes("UTF-8"))
      try {
        try Files.createLink(lockNio, tmp)
        catch { case _: FileAlreadyExistsException => contendedHere() }
      } finally Files.deleteIfExists(tmp)
      withHeld(try f finally Files.deleteIfExists(lockNio))
    } else {
      // HDFS-like schemes: create(…, overwrite=false) IS atomic. The
      // holder line follows on the same stream (closed on every path);
      // a contender racing the create-to-write window reads
      // "unknown holder", which is honest.
      val out =
        try fs.create(lock, false)
        catch { case _: java.io.IOException => contendedHere() }
      try out.write(holderLine.getBytes("UTF-8"))
      finally out.close()
      withHeld(try f finally fs.delete(lock, false))
    }
  }

  final case class IndexVerb(onCol: String, key: String, method: String,
      dir: String, threshold: Double, bandsRows: Option[(Int, Int)],
      cells: Option[Int], tables: Int, bits: Option[Int],
      append: Boolean = false, delete: Boolean = false,
      pqM: Option[Int] = None, pqCodes: Option[Int] = None) extends Verb {

    def build(sources: Map[String, DataFrame], primary: DataFrame): DataFrame = {
      def named(n: String): StructField =
        primary.schema.find(_.name.equalsIgnoreCase(n)).getOrElse(
          throw TransformError(s"INDEX: unknown column $n"))
      named(key) // must exist on every method (see scaladoc)
      val onField = named(onCol)
      val spark = primary.sparkSession
      val par = spark.sparkContext.defaultParallelism
      val maintWord = if (append) "APPEND" else "DELETE"
      // APPEND/DELETE pre-flight: a clear error beats Spark's "path does
      // not exist" mid-job — and the artifact's meta supplies the cell
      // count for the summary row (the maintenance writers re-read it
      // for their own geometry + kind validation)
      val appendMeta: Option[org.apache.spark.sql.Row] =
        if (!append && !delete) None
        else {
          // scheme check FIRST: on an object store the meta read below
          // might work fine and the statement would only fall over (or
          // worse, silently interleave) at the lock/swap
          requireAtomicRenameFs(dir, s"INDEX … $maintWord")
          val mp = new org.apache.hadoop.fs.Path(s"$dir/meta")
          val fs = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
          if (!fs.exists(mp)) throw TransformError(
            s"INDEX … $maintWord: no stored index at $dir (build one " +
              "first with INDEX … INTO)")
          Some(spark.read.parquet(s"$dir/meta").head())
        }
      // cells: meta for maintenance, the user's pin for a fresh build,
      // else DERIVED from the corpus's distinct-entry count (the
      // IndexGeometry rules the scale harnesses measured flat) — a
      // constant default would hand big corpora a probe cost growing
      // ∝ corpus. Deriving needs the entry count BEFORE the store
      // write, so the auto path checkpoints the collapsed reps and
      // counts them (one extra narrow job on the one corpus-sized
      // statement of the deployment — the build — never on probes).
      val metaCells = appendMeta.map(_.getAs[Int]("cells"))
      // a derivation that HITS the cell cap has left cells ∝ corpus
      // territory: per-cell rows resume growing with the corpus, so the
      // probe cost the flat curves promise no longer holds — tell the
      // user at build time, not after probes degrade
      def capWarn(n: Long, c: Int): Int = {
        if (c == IndexGeometry.maxCells) Warnings.emit(
          s"INDEX INTO '$dir': derived cell count hit the " +
            s"${IndexGeometry.maxCells} cap at $n entries — past the " +
            "cap per-cell rows grow with the corpus and probe cost " +
            "with them; pin CELLS explicitly and shard the artifact " +
            "across multiple INDEX statements at this scale")
        c
      }
      def resolveCells(reps: DataFrame, derive: Long => Int)
          : (DataFrame, Int) =
        metaCells.orElse(cells) match {
          case Some(c) => (reps, c)
          case None =>
            val r = reps.localCheckpoint(false)
            val n = r.count()
            (r, capWarn(n, derive(n)))
        }
      // meta's derived-vs-pinned record (ask: an operator reading an
      // artifact must be able to tell whether its geometry was sized
      // by IndexGeometry or pinned by the builder)
      def derivedFields(moreDerived: (String, Boolean)*): Seq[String] =
        (Seq("cells" -> cells.isEmpty) ++ moreDerived)
          .collect { case (f, true) => f }
      // the entry-count scan after each build reads parquet footers only.
      // Returns (kind, entries store path, cell count, touched cells):
      // APPEND/DELETE writers hand back their own routing — and have
      // already merged it into the stats via their own
      // Stats.mergeForWriter epilogue (under this statement's
      // re-entrant lock); builds return empty and take the full refresh
      def writeStores(): (String, String, Int, Map[String, Seq[Int]]) =
        method match {
        case "LSH" =>
          if (onField.dataType != StringType) throw TransformError(
            s"INDEX METHOD LSH ON ${onField.name} must be string, got " +
              onField.dataType.simpleString)
          // EXACT-FIRST: one entry per distinct text (membership is all
          // an AGAINST probe asks), keyed by the text hash — the same
          // collapse the two-source AGAINST applies to its corpus side
          // distinct on (th, txt) — a pure HashAggregate (th determines
          // txt), not the SortAggregate a first(txt) buffer would force
          // on every index build
          val reps = spreadForCpu(primary,
              primary.select(xxhash64(col(onField.name)).as("th"),
                col(onField.name).as("txt")))
            .distinct()
            .repartition(par)
          val sh0 = NearDup.shingled(reps, "th", "txt")
          val (cc, tch) =
            if (delete) (metaCells.get, NearDup.bandStoreDelete(dir, sh0))
            else if (append) (metaCells.get, NearDup.bandStoreAppend(dir, sh0))
            else {
              // count the SHINGLED entries (short texts never store)
              val (sh, c) = resolveCells(sh0, IndexGeometry.storeCells)
              val (b, r) = bandsRows.getOrElse(NearDup.autoBands(threshold))
              NearDup.bandStoreTo(dir, sh, numPerm = b * r, numBands = b,
                rowsPerBand = r, cells = c,
                derived = derivedFields(
                  "bands_rows" -> bandsRows.isEmpty))
              (c, Map.empty[String, Seq[Int]])
            }
          ("lsh_text", s"$dir/shingles", cc, tch)
        case "IVF" =>
          // mirrors the q136 store's frame prep (Similarity.ivfStore) so
          // an INDEX-built artifact serves byte-identical answers
          val e = spreadForCpu(primary,
              primary.select(col(named(key).name).as("vec_id"),
                col(onField.name).cast("array<double>").as("v")))
            .withColumn("nrm", graft.functions.Vectors.l2norm(col("v")))
            .localCheckpoint(false)
          val (ivfCc, ivfTch) =
            if (delete)
              (metaCells.get, graft.queries.Similarity.ivfStoreDelete(dir, e))
            else if (append)
              (metaCells.get, graft.queries.Similarity.ivfStoreAppend(dir, e))
            else {
              // e is already checkpointed, so the derive-count is cheap
              val needN = cells.isEmpty ||
                (pqM.isDefined && pqCodes.isEmpty)
              val n = if (needN) e.count() else 0L
              val c = cells.getOrElse(capWarn(n, IndexGeometry.ivfCells(n)))
              // PQ pre-flight: a clear parse-adjacent error beats the
              // engine's require() mid-write. The subspace count must
              // divide the corpus's vector dimension.
              val pqOpt = pqM.map { pm =>
                val dim = e.select(size(col("v")).as("d")).limit(1)
                  .collect().headOption.map(_.getInt(0)).getOrElse(
                    throw TransformError(
                      "INDEX … PQ: cannot derive the subspace width " +
                        "from an empty corpus"))
                if (dim % pm != 0) throw TransformError(
                  s"INDEX PQ $pm must divide the vector dimension $dim " +
                    s"(got remainder ${dim % pm})")
                (pm, pqCodes.getOrElse(IndexGeometry.pqCodes(n)))
              }
              graft.queries.Similarity.ivfStoreTo(dir, e, c,
                derived = derivedFields(
                  "pq_codes" -> (pqM.isDefined && pqCodes.isEmpty)),
                pq = pqOpt)
              (c, Map.empty[String, Seq[Int]])
            }
          ("ivf_vec", s"$dir/index", ivfCc, ivfTch)
        case "COSINE" =>
          onField.dataType match {
            case ArrayType(FloatType | DoubleType, _) => ()
            case other => throw TransformError(
              s"INDEX METHOD COSINE ON ${onField.name} must be " +
                s"array<float|double>, got ${other.simpleString}")
          }
          // degenerate vectors (null/empty/zero/NaN/Inf norm) leave the
          // index exactly as they leave every cosine probe side — they
          // can never verify, so storing them would only add dead bytes
          val vf = spreadForCpu(primary,
              primary.select(col(onField.name).cast("array<double>").as("v")))
            .where(col("v").isNotNull && size(col("v")) > 0)
            .withColumn("nrm", graft.functions.Vectors.l2norm(col("v")))
            .where(col("nrm") > 0 && !isnan(col("nrm")) &&
              col("nrm") < lit(Double.PositiveInfinity))
          val reps = vf.withColumn("vh", xxhash64(col("v")))
            .select(col("vh"), col("v"), col("nrm")).distinct()
            .select(col("vh").as("id"), col("v"), col("nrm"))
            .repartition(par)
          val (cosCc, cosTch) =
            if (delete) (metaCells.get, VecKnn.cosineStoreDelete(dir, reps))
            else if (append)
              (metaCells.get, VecKnn.cosineStoreAppend(dir, reps))
            else {
              // BITS derives with cells when absent: 2^bits ∝ entries is
              // what CosineScale measured flat (fixed bits grew +0.36)
              val needN = bits.isEmpty || cells.isEmpty
              val (r2, n) =
                if (needN) {
                  val r = reps.localCheckpoint(false); (r, r.count())
                } else (reps, 0L)
              val c = cells.getOrElse(capWarn(n, IndexGeometry.storeCells(n)))
              val bi = bits.getOrElse(IndexGeometry.cosineBits(n))
              VecKnn.cosineStoreTo(dir, r2, tables, bi, c,
                derived = derivedFields("bits" -> bits.isEmpty))
              (c, Map.empty[String, Seq[Int]])
            }
          ("cosine_vec", s"$dir/vectors", cosCc, cosTch)
        case "TYPO" =>
          if (onField.dataType != StringType) throw TransformError(
            s"INDEX METHOD TYPO ON ${onField.name} must be string, got " +
              onField.dataType.simpleString)
          val reps = spreadForCpu(primary,
              primary.select(col(onField.name).as("txt")))
            .where(col("txt").isNotNull).distinct()
            .select(xxhash64(col("txt")).as("id"), col("txt"))
            .repartition(par)
          val (typoCc, typoTch) =
            if (delete) (metaCells.get, NearDup.typoStoreDelete(dir, reps))
            else if (append)
              (metaCells.get, NearDup.typoStoreAppend(dir, reps))
            else {
              val (r2, c) = resolveCells(reps, IndexGeometry.storeCells)
              NearDup.typoStoreTo(dir, r2, c, derived = derivedFields())
              (c, Map.empty[String, Seq[Int]])
            }
          ("typo_text", s"$dir/strings", typoCc, typoTch)
        case other => throw new IllegalStateException(
          s"INDEX METHOD $other unreachable (parser validates)")
      }
      // maintenance serializes on the artifact's lock; fresh builds
      // don't lock (overwrite is the statement's whole point, and two
      // concurrent builds into one dir is the same user error as two
      // concurrent non-index writes to one path)
      // stats refresh is the statement's LAST step (under the same
      // lock for maintenance): the summary row's entry count is read
      // from the refreshed per-cell stats instead of a separate full
      // count. A build pays ONE full footer pass (it rewrote every
      // cell); APPEND/DELETE ride the API writers' own
      // Stats.mergeForWriter epilogue (prior read under this
      // statement's re-entrant lock, recompute ∝ the batch's routed
      // cells, merge — one stats body for verb and direct-API
      // callers), so here the refreshed stats are simply READ BACK,
      // falling back to the full pass when they are absent (stats
      // were already absent before the mutation — this statement
      // self-heals the fast path). The read-back is one small
      // driver-side parquet read bounded by the 65 536-cell cap — a
      // deliberate trade against widening every wrapper's public
      // return type to carry the merged map out.
      def writeAndCount(): (String, Int, Long) = {
        val (kind, entriesPath, cellCount, _) = writeStores()
        val stores = storesFor(kind, s"INDEX INTO '$dir'")
        val st =
          if (append || delete)
            Stats.read(spark, dir)
              .getOrElse(Stats.write(spark, dir, stores))
          else Stats.write(spark, dir, stores)
        val entriesSub =
          new org.apache.hadoop.fs.Path(entriesPath).getName
        val n = st.getOrElse(entriesSub, Seq.empty).map(_._3).sum
        (kind, cellCount, n)
      }
      val (kind, cellCount, entryCount) =
        if (append || delete) withMaintLock(spark, dir, maintWord)(
          writeAndCount())
        else writeAndCount()
      import spark.implicits._
      Seq((dir, kind, cellCount, entryCount))
        .toDF("path", "kind", "cells", "indexed_rows")
    }
  }

}
