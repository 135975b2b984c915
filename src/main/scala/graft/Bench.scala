package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.immutable.ListMap
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()
    // SPARK_GRAFT_ONLY="q32,q39" restricts to matching queries (local
    // profiling aid; the driver never sets it).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1).filter {
      case (name, _) => only.forall(_.exists(name.startsWith))
    }
    // JVM/codegen/parquet-footer warmup so the first measured query isn't
    // charged ~5s of one-time session cost (it would dominate run-to-run
    // ordering noise at this scale factor). Streaming and MLlib load whole
    // subsystems (state stores, breeze/netlib) on first use, so warm those
    // with self-contained tiny inputs too.
    try {
      spark.range(1000000).selectExpr("sum(id * 2)").collect()
      SparkEntry.queries("q01_agg_pricing_summary")(spark, sfDir).count()
    } catch { case _: Throwable => () }
    try {
      // One-time ICU collation table build: the first collation-aware
      // string op (lower/upper with spark.sql.icu.caseMappings.enabled)
      // class-loads CollationAwareUTF8String, whose static init title-cases
      // the entire Unicode codepoint space. Paid here, with a fresh JIT,
      // it costs ~1 s; paid lazily deep into a 100-query run it can run
      // interpreted (compile queue saturated by generated codegen classes)
      // for 20-100 s and get charged to whichever query touched it first
      // (observed: q49 24-114 s). Non-literal input so constant folding
      // can't skip the executor-side path.
      spark.range(4)
        .selectExpr("count(distinct lower(concat('Warm', id)))",
          "count(distinct upper(concat('Up', id)))")
        .collect()
    } catch { case _: Throwable => () }
    try { // Structured Streaming machinery (microbatch exec, state store)
      import org.apache.spark.sql.functions._
      val tmp = java.nio.file.Files.createTempDirectory("graft_warm").toString
      spark.range(100).selectExpr("id", "timestamp_micros(id * 1000000) AS ts")
        .write.mode("overwrite").parquet(s"$tmp/in")
      val q = spark.readStream
        .schema("id LONG, ts TIMESTAMP").parquet(s"$tmp/in")
        .groupBy(window(col("ts"), "10 seconds")).count()
        .writeStream.outputMode("complete").format("memory")
        .queryName("graft_warm_stream")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(30000); q.stop()
    } catch { case _: Throwable => () }
    try { // MLlib KMeans path (breeze, netlib BLAS probing)
      import spark.implicits._
      val pts = (0 until 64).map(i => Tuple1(Array(i.toDouble, (i % 7).toDouble)))
        .toDF("v")
        .select(org.apache.spark.ml.functions.array_to_vector($"v").as("features"))
      new org.apache.spark.ml.clustering.KMeans()
        .setK(2).setSeed(42L).setMaxIter(1).setInitMode("random").fit(pts)
    } catch { case _: Throwable => () }
    // Contention tolerance: the driver box runs other work during bench
    // windows (observed: identical code 83 s vs 307 s minutes apart). Run
    // the whole suite N times inside one JVM and report the per-query MIN
    // and the total-of-mins — the min is the least-contended observation
    // of an identical plan, so the recorded artifact tracks the code, not
    // the box's load average at driver time.
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "2").toInt.max(1)
    // One observation: (seconds, succeeded). A pass where the query threw
    // must NOT contribute its (fast) failure time to the min — that would
    // record a failing query as a good benchmark number.
    def observe(fn: (SparkSession, String) => DataFrame): (Double, Boolean) = {
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).count(); true }
        catch { case _: Throwable => false }
      ((System.nanoTime() - t0) / 1e9, ok)
    }
    val timed = (1 to passes).map { _ =>
      selected.map { case (name, fn) =>
        val (sec, ok) = observe(fn)
        (name, sec, ok)
      }
    }
    val byPass = timed.map(_.map(t => t._1 -> (t._2, t._3)).toMap)
    // Contention retry: a min-of-N is only a calm observation if SOME
    // pass was calm — when the box is loaded during BOTH passes the min
    // is itself a contended floor (observed: q124 8.3/26.8 s across
    // passes on unchanged code). Queries whose pass spread exceeds 3×
    // get ONE extra solo observation each (bounded extra work — only
    // the noisy tail re-runs, serially, after the bulk passes finished
    // competing for the box) and the min is taken over all three.
    val spreadFactor = 3.0
    val retried = selected.filter { case (name, _) =>
      val good = byPass.map(_.apply(name)).filter(_._2).map(_._1)
      good.size >= 2 && good.max > good.min * spreadFactor
    }.map { case (name, fn) => name -> observe(fn) }.toMap
    val results = selected.map(_._1).map { name =>
      val obs = byPass.map(_.apply(name)) ++ retried.get(name)
      val good = obs.filter(_._2).map(_._1)
      // all passes failed → record -1 so the artifact shows the failure
      // instead of a plausible-looking duration
      name -> (if (good.nonEmpty) good.min else -1.0)
    }
    // A failed query records -1 per-query; summing that into the headline
    // would make a FAILING run look FASTER than a clean one to a harness
    // scraping only the total. Any failure → total = -1 (unmistakably
    // broken) + the failed names, never a plausible-looking number.
    val failed = results.filter(_._2 < 0).map(_._1)
    val total = if (failed.nonEmpty) -1.0 else results.map(_._2).sum
    // Family split so cross-round totals compare like-for-like: the
    // stored-index LIFECYCLE gates are multi-engine-run chains by
    // construction (q159 alone is four full engine invocations) and the
    // streaming gates run real microbatch loops — their wall-clock is
    // dominated by runs-per-gate, not per-query plan cost, so folding
    // them into one headline makes the per-query average drift up as
    // lifecycle coverage grows. 'query' is the single-plan remainder.
    def isLifecycle(n: String): Boolean =
      n.contains("stream") || n.contains("stored") || n.contains("index")
    def famTotal(p: String => Boolean): Double = {
      val fam = results.filter(r => p(r._1))
      if (fam.exists(_._2 < 0)) -1.0 else fam.map(_._2).sum
    }
    val lifecycleN = results.count(r => isLifecycle(r._1))
    val lifecycleSec = famTotal(isLifecycle)
    val querySec = famTotal(n => !isLifecycle(n))
    // Durable PER-RUN full map (round 16): BENCH_LATEST.json is
    // overwritten by every invocation, so when the driver benches twice
    // (32-core then low-core scaling run) the second run clobbers the
    // first's per-query map before any comparator reads it — that is
    // exactly how PERF_r15's per_query/scaling blocks came up empty.
    // A core-count-derived sibling name keeps the two runs' maps
    // side by side; same JSON line, no contract change.
    val runFile = s"BENCH_LATEST_c${GraftSession.cpus}.json"
    val headline = ListMap("metric" -> "total", "value" -> total,
      "unit" -> "sec")
    val families = ListMap("lifecycle_sec" -> lifecycleSec,
      "lifecycle_n" -> lifecycleN, "query_sec" -> querySec,
      "query_n" -> (results.size - lifecycleN))
    // Contention honesty: record every pass's per-query time (not just
    // the min) so a reader can separate a code regression (slow in ALL
    // passes) from co-tenant load (slow in one) without a re-run. A
    // failed observation records -1 in its pass.
    def observed(sec: Double, ok: Boolean): Double = if (ok) sec else -1.0
    val passesRaw = timed.map(pass =>
      ListMap(pass.map { case (n, sec, ok) => n -> observed(sec, ok) }: _*))
    // retried queries' third (solo) observation, for the same audit
    val retriedRaw = ListMap(retried.toSeq.sortBy(_._1)
      .map { case (n, (sec, ok)) => n -> observed(sec, ok) }: _*)
    val json = Json(headline ++ ListMap("queries" -> ListMap(results: _*),
      "failed" -> failed, "sf" -> sfDir, "passes" -> passes, "agg" -> "min")
      ++ families ++ ListMap("passes_raw" -> passesRaw,
        "spread_retries" -> retriedRaw))
    println(json)
    // Belt-and-braces for harnesses that scrape logged (prefixed) stdout:
    // leave the same line in a well-known file too, and in the per-run
    // file above. A SPARK_GRAFT_ONLY subset run only prints: its partial
    // map must not overwrite the full-run maps.
    if (only.isEmpty) Seq("BENCH_LATEST.json", runFile).foreach { f =>
      try java.nio.file.Files.write(java.nio.file.Paths.get(f),
        (json + "\n").getBytes("UTF-8"))
      catch { case _: Throwable => () }
    }
    // The full line above has outgrown tail-capture windows (~2 KB):
    // every per-round artifact since the query count passed ~60 records
    // "parsed": null because the window holds only a fragment of it.
    // Print a COMPACT summary LAST — same headline numbers, family
    // split, failure list, and a pointer to the committed full map —
    // so a tail capture always ends with one complete JSON object.
    println(Json(headline ++ ListMap("sf" -> sfDir, "passes" -> passes,
      "agg" -> "min", "queries_n" -> results.size, "failed" -> failed)
      ++ families ++ ListMap("full_map" -> "BENCH_LATEST.json",
        "full_map_run" -> runFile)))
    spark.stop()
  }
}
