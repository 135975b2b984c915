package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.{GraftExtensions, SparkEntry}
import graft.engine.Aql
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The benchmark's JVM side: sets up the session, runs one workload as a
  * single closed-loop client and writes what it measured to
  * `<out>/result.json`. The rows the output check compares are written
  * under `<out>/check`. run.py generates the inputs, launches this and
  * checks the outputs.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *          --data DIR --out DIR
  */
object Main {

  /** The shipped session configuration, as `graft.Bench` builds it;
    * `counting` sets [[CountingFs]] as the local file system.
    */
  def session(cores: Int, localDir: String, counting: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", localDir)
    val s = (if (counting) b.config("spark.hadoop.fs.file.impl",
      classOf[CountingFs].getName) else b).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** A warmed session: extensions and table views registered and one
    * registry query run. The check pass warms each statement's own path.
    */
  private def warm(spark: SparkSession, data: String): Unit = {
    GraftExtensions.register(spark)
    SparkEntry.queries("q01_agg_pricing_summary")(spark, data).count()
    ()
  }

  private def deliver(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).sum
  private def jitMs: Long =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Bytes read and written through Hadoop's local file system. */
  @annotation.nowarn("cat=deprecation")
  private def fsBytes: (Long, Long) = {
    val st = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    (st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum)
  }

  private def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
  }

  private def treeStats(path: String): (Long, Long) = {
    val p = Paths.get(path)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val files = Files.walk(p).iterator.asScala
        .filter(f => Files.isRegularFile(f)).toSeq
      (files.size.toLong, files.map(f => Files.size(f)).sum)
    }
  }

  private def error(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
      .linesIterator.take(3).mkString(" ")

  /** Heap used after full collections with pauses between them, in which
    * Spark's cleaner (polling every 100 ms) drops the blocks and broadcasts
    * the collections freed. It collects until two pauses in a row free no
    * more than 1 MB (at most 20), so a cleaner that lags on a loaded host
    * is waited for: the heap left is what is still live.
    */
  private def settledHeap(): Long = {
    def collect() = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var used = collect()
    var steady = 0
    var rounds = 0
    while (steady < 2 && rounds < 20) {
      Thread.sleep(100)
      val u = collect()
      steady = if (u < used - (1L << 20)) 0 else steady + 1
      used = math.min(used, u)
      rounds += 1
    }
    used
  }

  def main(args: Array[String]): Unit = {
    val beforeMain =
      (System.currentTimeMillis - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val o = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = o("workload")
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val trace = o("trace") == "1"
    val data = o("data")
    val out = o("out")
    val cores = Runtime.getRuntime.availableProcessors
    val stmts = Workloads.statements(workload, data, seed)
    val result = mutable.LinkedHashMap.empty[String, Any]
    result("cores") = cores
    result("heap_max_mb") = Runtime.getRuntime.maxMemory / 1048576.0

    // Set-up: JVM start to a warmed session.
    val t0 = System.nanoTime()
    var spark = session(cores, s"$out/spark-local", counting = false)
    warm(spark, data)
    result("setup_s") = beforeMain + (System.nanoTime() - t0) / 1e9
    result("conf") = Seq("spark.master", "spark.sql.shuffle.partitions",
      "spark.sql.sources.parallelPartitionDiscovery.threshold",
      "spark.ui.enabled", "spark.sql.session.timeZone")
      .map(k => k -> spark.conf.get(k)).toMap
    result("statements") = stmts.map { s =>
      Map("name" -> s.name, "write" -> s.write,
        "oracle" -> SparkEntry.oracleSql.get(s.name).orNull)
    }
    if (workload == "index_lifecycle") {
      val r = Workloads.residues(seed)
      result("residues") = Map("build" -> r.build, "append" -> r.append,
        "batch" -> r.batch)
    }

    // Check pass: every statement once, untimed, its rows kept for the
    // output check. It also warms code paths and caches for the timed passes.
    val failures = mutable.LinkedHashMap.empty[String, String]
    val checkDirs = PassDirs(s"$out/index-check", s"$out/check")
    val c0 = System.nanoTime()
    stmts.foreach { s =>
      try s.run(spark, checkDirs).foreach(
        _.coalesce(1).write.mode("overwrite").parquet(s"${checkDirs.out}/${s.name}"))
      catch { case e: Throwable => failures(s.name) = error(e) }
    }
    result("check_s") = (System.nanoTime() - c0) / 1e9

    val (idxFiles, idxBytes) = treeStats(checkDirs.index)
    result("index_files") = idxFiles
    result("index_bytes") = idxBytes

    def runPass(n: Int, each: (Stmt, () => Option[DataFrame]) => Unit): Double = {
      val dirs = PassDirs(s"$out/index-$n", s"$out/pass-$n")
      val t0 = System.nanoTime()
      stmts.foreach(s => each(s, () => s.run(spark, dirs)))
      val secs = (System.nanoTime() - t0) / 1e9
      deleteTree(dirs.index)
      deleteTree(dirs.out)
      secs
    }

    // Timed passes, tracing off: whole passes, at least two and more until
    // `seconds` have elapsed; a statement's latency is its least over them.
    // The heap is settled once, after the first: what the statements left
    // live grows over a pass (caches), so its end holds the peak, and a
    // settle after every statement would cost about 0.9 s each.
    val lat = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passSecs = mutable.ArrayBuffer.empty[Double]
    val timedStart = System.nanoTime()
    while (passSecs.size < 2 || (System.nanoTime() - timedStart) / 1e9 < seconds) {
      passSecs += runPass(passSecs.size, { (s, run) =>
        val t0 = System.nanoTime()
        try {
          run().foreach(deliver)
          lat += Map("name" -> s.name, "s" -> (System.nanoTime() - t0) / 1e9)
        } catch { case e: Throwable => failures.getOrElseUpdate(s.name, error(e)) }
      })
      if (passSecs.size == 1) result("heap_peak_mb") = settledHeap() / 1048576.0
    }
    result("passes") = passSecs.size
    result("timed_s") = passSecs.sum
    result("latencies") = lat.toSeq

    // The traced pass runs in a new session whose local file system counts
    // its calls; the timed passes above ran without it.
    if (trace) {
      spark.stop()
      FileSystem.closeAll()
      spark = session(cores, s"$out/spark-local", counting = true)
      warm(spark, data)
      val tr = new Traced(spark, stmts, data, cores)
      result("trace") = tr.run(runPass(passSecs.size, _))
      tr.failures.foreach { case (k, v) => failures.getOrElseUpdate(k, v) }
    }
    result("failures") = failures.toMap
    spark.stop()
    val om = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(Paths.get(s"$out/result.json"), om.writeValueAsString(result))
  }

  /** The traced pass and the kernel probe of `--trace 1`. */
  private final class Traced(spark: SparkSession, stmts: Seq[Stmt],
      data: String, cores: Int) {
    val failures = mutable.LinkedHashMap.empty[String, String]
    private val sc = spark.sparkContext

    def run(pass: ((Stmt, () => Option[DataFrame]) => Unit) => Double)
        : Map[String, Any] = {
      val rec = new Recorder
      sc.addSparkListener(rec)
      spark.listenerManager.register(rec)
      val rows = mutable.ArrayBuffer.empty[Map[String, Any]]
      val gc0 = gcMs
      val jit0 = jitMs
      pass { (s, run) =>
        PerfbenchBus.drain(sc)
        val tag = s"perfbench-${rows.size}"
        sc.setLocalProperty("spark.jobGroup.id", tag)
        val (fs0, fsNs0) = CountingFs.snapshot()
        val (r0, w0) = fsBytes
        val validateMs = s.script(PassDirs("index", "out")).map { t =>
          val v0 = System.nanoTime()
          val errs = Aql.validate(t)
          if (errs.nonEmpty) failures(s.name) = errs.mkString("; ")
          (System.nanoTime() - v0) / 1e6
        }.getOrElse(0.0)
        val start = System.currentTimeMillis
        val t0 = System.nanoTime()
        var df: Option[DataFrame] = None
        var tb = 0L
        var built = 0L
        try {
          df = run()
          tb = System.nanoTime()
          built = System.currentTimeMillis
          df.foreach(deliver)
        } catch { case e: Throwable => failures.getOrElseUpdate(s.name, error(e)) }
        val t1 = System.nanoTime()
        if (tb == 0L) { tb = t1; built = System.currentTimeMillis }
        PerfbenchBus.drain(sc)
        sc.setLocalProperty("spark.jobGroup.id", null)
        // Every event of this statement is stamped before the drain ended;
        // the pause puts the window's end, and the next statement's start,
        // in a later millisecond.
        Thread.sleep(2)
        val until = System.currentTimeMillis
        val w = rec.window(start, until)
        val (fs1, fsNs1) = CountingFs.snapshot()
        val (r1, w1) = fsBytes
        val row = mutable.LinkedHashMap[String, Any](
          "name" -> s.name, "write" -> s.write, "tag" -> tag,
          "window" -> (start, until),
          "s" -> (t1 - t0) / 1e9, "validate_ms" -> validateMs,
          "build_s" -> (tb - t0) / 1e9, "deliver_s" -> (t1 - tb) / 1e9,
          "jobs" -> w.jobs.size, "build_jobs" -> w.jobs.count(_.time < built),
          "job_ids" -> w.jobs.map(_.id),
          "listing_jobs" -> w.jobs.count(_.desc.startsWith("Listing leaf files")),
          "stages" -> w.stages, "tasks" -> w.tasks.size,
          "sched_delay_s" -> w.tasks.map(_.schedMs).sum / 1000.0,
          "task_run_s" -> w.tasks.map(_.runMs).sum / 1000.0,
          "task_cpu_s" -> w.tasks.map(_.cpuNs).sum / 1e9,
          "shuffle_write_mb" -> w.tasks.map(_.shuffleWrite).sum / 1048576.0,
          "shuffle_read_mb" -> w.tasks.map(_.shuffleRead).sum / 1048576.0,
          "spill_mb" -> w.tasks.map(_.spill).sum / 1048576.0,
          "input_mb" -> w.tasks.map(_.input).sum / 1048576.0,
          "materialized_blocks" -> w.blockBytes.size,
          "materialized_mb" -> w.blockBytes.sum / 1048576.0,
          "analysis_ms" -> w.qes.map(_.analysisMs).sum,
          "optimization_ms" -> w.qes.map(_.optimizationMs).sum,
          "planning_ms" -> w.qes.map(_.planningMs).sum,
          "plan_nodes" -> w.qes.map(_.nodes).sum,
          "fs_calls" -> CountingFs.Names.indices.map(i => fs1(i) - fs0(i)),
          "fs_ms" -> (fsNs1 - fsNs0) / 1e6,
          "fs_read_mb" -> (r1 - r0) / 1048576.0,
          "fs_written_mb" -> (w1 - w0) / 1048576.0)
        df.foreach { d =>
          // The noop write must execute the built frame's own optimized
          // plan; count() may prune it, which the plan sizes show.
          val delivered = d.queryExecution.optimizedPlan
          val ran = w.qes.flatMap(_.noopQuery).lastOption
          if (!ran.exists(_.sameResult(delivered)))
            failures.getOrElseUpdate(s.name, "noop delivery ran " +
              ran.fold("no plan")(p => s"another plan (${p.nodeName})"))
          row("plan_chars_count") =
            d.groupBy().count().queryExecution.optimizedPlan.toString.length
          row("plan_chars_delivered") = delivered.toString.length
        }
        rows += row.toMap
      }
      val gc = (gcMs - gc0) / 1000.0
      val jit = (jitMs - jit0).toDouble
      sc.removeSparkListener(rec)
      spark.listenerManager.unregister(rec)
      Map("statements" -> rows.toSeq, "gc_s" -> gc, "jit_ms" -> jit,
        "selftest" -> selfTest(rec, rows.toSeq),
        "kernels_ns_row" -> kernels())
    }

    /** Window attribution on the chain's append, which writes the
      * two stores of the LSH index in parallel on pooled threads. Its
      * window, read right after the drain, must equal the same window read
      * at the end of the pass (no event arrived late); it must hold every
      * job that carries the append's job group and started while it ran
      * (both legs copy the caller's group); and it shares no job with the
      * next statement. Jobs of later statements that still carry the
      * append's group (pooled threads keep it) are counted: attribution by
      * job group would charge them to the append.
      */
    private def selfTest(rec: Recorder, rows: Seq[Map[String, Any]]): Map[String, Any] = {
      def ids(r: Map[String, Any]) = r("job_ids").asInstanceOf[Seq[Int]].toSet
      val i = rows.indexWhere(_("name") == "append")
      if (i < 0) Map("ran" -> false)
      else {
        val row = rows(i)
        val (from, until) = row("window").asInstanceOf[(Long, Long)]
        val mine = ids(row)
        val later = rec.window(from, until).jobs.map(_.id).toSet
        val tagged = rec.jobsInGroup(row("tag").toString)
        val during = tagged.filter(j => j.time >= from && j.time < until).map(_.id).toSet
        val next = rows.lift(i + 1).map(ids).getOrElse(Set.empty[Int])
        val ok = during.nonEmpty && mine == later && during.subsetOf(mine) &&
          (mine & next).isEmpty
        if (!ok) failures("selftest") =
          s"append: window ${mine.size} jobs, ${later.size} at the end of the " +
            s"pass, ${during.size} tagged while it ran, ${(mine & next).size} " +
            "shared with the next statement"
        Map("ran" -> true, "ok" -> ok, "window_jobs" -> mine.size,
          "stale_group_jobs" -> (tagged.size - during.size))
      }
    }

    /** ns per row of each graft kernel over this workload's documents and
      * embeddings, repeated to at least 100k rows, delivered to noop.
      */
    private def kernels(): Map[String, Double] = {
      def grown(df: DataFrame) = {
        val n = df.count()
        val reps = math.max(1L, (100000L + n - 1) / n)
        val g = df.crossJoin(spark.range(reps)).drop("id")
          .repartition(cores).cache()
        g.count()
        g
      }
      val text = grown(spark.read.parquet(s"$data/documents.parquet").select("text"))
      val hs = grown(text.select(
        expr("transform(split(text, ' '), t -> xxhash64(t))").as("hs")))
      val vecs = grown(spark.read.parquet(s"$data/embeddings.parquet")
        .select(col("embedding").cast("array<double>").as("v")))
      def nsRow(df: DataFrame, e: String): Double = {
        val rows = df.count()
        val q = df.select(expr(e))
        val t = (1 to 3).map { _ =>
          val t0 = System.nanoTime(); deliver(q); System.nanoTime() - t0
        }.sorted.apply(1)
        t.toDouble / rows
      }
      val m = Map(
        "minhash_sig" -> nsRow(hs, "minhash_sig(hs, 128)"),
        "graft_simhash" -> nsRow(hs, "graft_simhash(hs)"),
        "lsh_buckets" -> nsRow(vecs, "lsh_buckets(v, 16, 8, 64)"),
        "vec_dot" -> nsRow(vecs, "vec_dot(v, v)"),
        "text_normalize" -> nsRow(text, "text_normalize(text)"))
      Seq(text, hs, vecs).foreach(_.unpersist())
      m
    }
  }
}
