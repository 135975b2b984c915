package graft.queries

import graft.{QueryDef, Tables}
import graft.engine.Aql
import graft.transforms.MetaParquet
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming coverage. The reference has no unbounded streaming
  * (SURVEY.md §2.10) — this is the beyond-parity extension: the same events
  * table driven through `readStream` → event-time tumbling windows →
  * memory sink, so the identical aggregation can later run against a real
  * unbounded source (Kafka, file drop) unchanged.
  */
object StreamingQ {
  import Tables.dec2

  // ZOH window shared with q20 (Timeseries): [2024-01-10, 2024-01-25) UTC.
  // Must precede `entries`: the oracle SQL strings interpolate these at
  // object init, and Scala vals initialize in declaration order.
  private val ZohStartUs = 1704844800000000L
  private val ZohEndUs = 1706140800000000L

  /** events.parquet stream with `ts` normalized to microsecond
    * TimestampType. The generator's physical ts type has varied across
    * rounds (see Tables.load): TIMESTAMP(NANOS) — readable only as raw
    * int64 via nanosAsLong — or TIMESTAMP(MICROS) isAdjustedToUTC=false
    * (TIMESTAMP_NTZ). readStream needs an explicit schema up front, so
    * probe the batch footer (schema-only, no data scan) and build the
    * matching stream schema + conversion.
    */
  private def eventsStream(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val tsType =
      MetaParquet.scan(s, s"$dir/events.parquet").schema("ts").dataType
    val raw = StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", tsType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)))
    val stream = s.readStream.schema(raw)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    stream.withColumn("ts", graft.Tables.tsColumn(tsType))
  }

  /** Start `df` as an AvailableNow memory-sink stream, block until the
    * bounded input is drained, and return the sink table.
    *
    * The fixed per-query floor of a microbatch run is dominated by
    * small-file I/O in the checkpoint tree (offset log, commit log, one
    * state-store directory per shuffle partition per batch) plus state-
    * store instance setup — so (a) the checkpoint goes on tmpfs when the
    * box has one (/dev/shm; the gate's checkpoint is ephemeral by
    * definition — durable checkpoints on a real cluster go on shared
    * storage and this option simply isn't set), and (b) the stateful
    * shuffle runs at 8 partitions: the window/key sets here are tiny, so 8
    * state stores beat 32; on a real cluster partition count follows key
    * cardinality instead. AvailableNow processes the bounded input and
    * terminates without processAllAvailable's poll loop.
    */
  private def runAvailableNow(s: SparkSession, df: DataFrame, mode: String,
      viewName: String, noDataBatch: Boolean = false): DataFrame = {
    drainAvailableNow(s, viewName, noDataBatch) { ckpt =>
      df.writeStream
        .outputMode(mode)
        .format("memory")
        .queryName(viewName)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    s.table(viewName)
  }

  /** The shared bounded-drain harness behind [[runAvailableNow]] and the
    * foreachBatch sink gate (q138): tmpfs checkpoint, 8 state partitions,
    * optional trailing no-data batch, hard 120 s hang guard, checkpoint
    * cleanup. `start` receives the checkpoint path and must return the
    * started query.
    */
  private def drainAvailableNow(s: SparkSession, label: String,
      noDataBatch: Boolean)(
      start: String => org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    import java.nio.file.{Files, Paths}
    val shm = Paths.get("/dev/shm")
    val base = if (Files.isDirectory(shm) && Files.isWritable(shm)) shm
      else Paths.get(System.getProperty("java.io.tmpdir"))
    val ckpt = Files.createTempDirectory(base, "graft_ckpt_")
    val savedParts = s.conf.get("spark.sql.shuffle.partitions")
    val noDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val savedNoData = s.conf.get(noDataKey)
    s.conf.set("spark.sql.shuffle.partitions", "8")
    // The trailing no-data microbatch exists to advance the watermark and
    // flush operators whose OUTPUT waits on it (append-mode joins/aggs).
    // Complete/update-mode sinks and immediate-emit dedup produce their
    // full result in the data batch, so that extra plan+commit round is
    // pure floor — skip it unless the caller's semantics need it.
    s.conf.set(noDataKey, noDataBatch.toString)
    try {
      val q = start(ckpt.toString)
      // a false return = the stream is still running after the timeout; the
      // partially-drained sink would surface as a confusing cross-engine
      // mismatch instead of a clear failure — fail loudly
      try {
        if (!q.awaitTermination(120000))
          throw new IllegalStateException(
            s"stream $label did not terminate within 120 s " +
              "(AvailableNow drain hung); sink contents are partial")
      } finally {
        if (sys.env.contains("GRAFT_STREAM_DEBUG"))
          q.recentProgress.foreach(p => System.err.println(
            s"[stream-debug] $label batch=${p.batchId} rows=${p.numInputRows} " +
            s"durationMs=${p.durationMs}"))
        q.stop()
      }
    } finally {
      s.conf.set("spark.sql.shuffle.partitions", savedParts)
      s.conf.set(noDataKey, savedNoData)
      try {
        import scala.jdk.CollectionConverters._
        Files.walk(ckpt).iterator().asScala.toSeq
          .sortBy(-_.getNameCount).foreach(p => Files.deleteIfExists(p))
      } catch { case _: Throwable => () }
    }
  }

  /** The shared streaming-serving scaffold of the two stored-ANN gates
    * (q139 full-vector, q166 ADC): the 8-query panel arrives as 4 real
    * microbatches (maxFilesPerTrigger = 1 over a 4-file panel write)
    * and each batch is answered ENTIRELY from the stored artifact by
    * `probe`, landing in a batchId-keyed idempotent sink — a
    * re-executed microbatch OVERWRITES its own directory instead of
    * appending a duplicate answer set (the standard deterministic-path
    * pattern a transactional MERGE-on-batchId sink generalizes); the
    * union is read back as the gate's answer. ONE copy of the
    * in/out/foreachBatch/read-back machinery so the serving gates can
    * never drift on the sink or drain pattern.
    */
  /** The generalized stream-serving scaffold all KNN serving gates
    * share (q139 IVF, q166 ADC, q173 JACCARD): write the query panel
    * as 4 files ⇒ 4 microbatches, answer each via `probe` inside
    * foreachBatch, land results in a batchId-keyed idempotent parquet
    * store, read the union back projected to `outCols`. ONE copy of
    * the in/out/foreachBatch/read-back machinery so the serving gates
    * can never drift on the sink or drain pattern.
    */
  private def streamServe(s: SparkSession, label: String,
      panel: DataFrame, outCols: Seq[String])(
      probe: DataFrame => DataFrame): DataFrame = {
    val qBase = java.nio.file.Files.createTempDirectory(s"graft_${label}_")
    Advanced.registerTmpDir(qBase)
    val inDir = s"$qBase/in"
    val resDir = s"$qBase/out"
    panel.repartition(4).write.mode("overwrite").parquet(inDir)
    val schema = MetaParquet.scan(s, inDir).schema
    drainAvailableNow(s, label, noDataBatch = false) { ckpt =>
      s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(inDir)
        .writeStream
        .outputMode("append")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          probe(batch)
            .write.mode("overwrite").parquet(s"$resDir/batch=$batchId")
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    MetaParquet.scan(s, resDir).select(outCols.map(col): _*)
  }

  /** The mutation-sink variant of [[streamServe]] (round 15): the SAME
    * in/drain scaffolding — 4-file feed write ⇒ 4 real microbatches,
    * schema read-back, maxFilesPerTrigger = 1, AvailableNow drain — but
    * each batch runs a maintenance SIDE EFFECT against a durable
    * artifact instead of landing rows in a result sink, so there is no
    * batchId-keyed store or read-back (replay safety comes from the
    * maintenance steps being content-keyed idempotent: re-appending or
    * re-deleting the same content cannot change the artifact). q161
    * (streamed ingest) and q172 (streamed forget) ride this one copy,
    * so the two streaming-mutation gates cannot drift from each other —
    * or from the serving gates — on the drain pattern.
    */
  private def streamMutate(s: SparkSession, label: String,
      feed: DataFrame)(action: DataFrame => Unit): Unit = {
    val inBase = java.nio.file.Files
      .createTempDirectory(s"graft_${label}_in_")
    Advanced.registerTmpDir(inBase)
    val inDir = s"$inBase/in"
    feed.repartition(4).write.mode("overwrite").parquet(inDir)
    val schema = MetaParquet.scan(s, inDir).schema
    drainAvailableNow(s, label, noDataBatch = false) { ckpt =>
      s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(inDir)
        .writeStream
        .outputMode("append")
        .foreachBatch { (batch: DataFrame, _: Long) => action(batch) }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
  }

  private def streamPanelServe(s: SparkSession, dir: String, label: String,
      probe: (SparkSession, DataFrame) => DataFrame): DataFrame = {
    import graft.functions.Vectors.l2norm
    streamServe(s, label,
      Similarity.emb(s, dir)
        .where(col("vec_id") < Similarity.StoredQueries),
      Seq("qid", "neighbor_id", "cosine", "rank")) { batch =>
      probe(batch.sparkSession,
        batch.select(col("vec_id").as("qid"),
          col("v").as("qv"), l2norm(col("v")).as("qnrm")))
    }
  }

  val entries: Seq[QueryDef] = Seq(

    // Tumbling 6h event-time windows over the events stream; complete-mode
    // memory sink so bounded parquet input yields the full window set.
    QueryDef(
      "q22_stream_window",
      """SELECT time_bucket(INTERVAL '6 hours', CAST(ts AS TIMESTAMP)) AS win_start,
        |  event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val viewName = s"q22_mem_${java.util.UUID.randomUUID().toString.take(8)}"
      val stream = eventsStream(s, dir)
      val agg = stream
        .groupBy(window(col("ts"), "6 hours"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(dec2(col("value"))).cast("double").as("total"))
        .select(col("window.start").as("win_start"), col("event_type"),
                col("n"), col("total"))
      runAvailableNow(s, agg, "complete", viewName)
    },

    // Event-time session windows (8h inactivity gap) per user. Runs in
    // batch here — the identical groupBy(session_window(...)) works on a
    // readStream source with a watermark; DuckDB oracles it as a classic
    // gaps-and-islands. Session merge is strict (<) in Spark vs ≤ in the
    // oracle — indistinguishable at microsecond timestamps.
    QueryDef(
      "q23_session_window",
      """WITH e AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
        |         CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events),
        |m AS (
        |  SELECT user_id, ts, v,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch(ts) - epoch(lag(ts) OVER w) > 28800
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (
        |  SELECT user_id, ts, v,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |                     ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m)
        |SELECT user_id, MIN(ts) AS session_start,
        |  COUNT(*) AS n_events, CAST(SUM(v) AS DOUBLE) AS total_value
        |FROM s GROUP BY user_id, sid""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "events")
        .groupBy(col("user_id"), session_window(col("ts"), "8 hours"))
        .agg(count(lit(1)).as("n_events"),
          sum(dec2(col("value"))).cast("double").as("total_value"))
        .select(col("user_id"),
          col("session_window.start").as("session_start"),
          col("n_events"), col("total_value"))
    },

    // Watermarked stream-stream interval join: each purchase matched to the
    // same user's clicks in the preceding hour. The canonical stateful
    // two-stream op: both sides carry watermarks and the join condition
    // bounds event time on both sides, so state is evicted as the watermark
    // advances — constant memory on an unbounded source. Bounded parquet
    // input + AvailableNow yields the complete deterministic pair set,
    // which a plain range-join oracles.
    QueryDef(
      "q50_stream_stream_join",
      """SELECT p.event_id AS purchase_id, c.event_id AS click_id
        |FROM events p JOIN events c
        |  ON p.user_id = c.user_id
        | AND p.event_type = 'purchase' AND c.event_type = 'click'
        | AND CAST(c.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP) - INTERVAL 1 HOUR
        | AND CAST(c.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)""".stripMargin) { (s, dir) =>
      val viewName = s"q50_mem_${java.util.UUID.randomUUID().toString.take(8)}"
      // ONE source self-joined (not two readStream instances): both sides
      // share a single file-source log and listing per microbatch — the
      // second source would double the per-batch source bookkeeping.
      val src = eventsStream(s, dir)
      val purchases = src.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
                col("ts").as("p_ts"))
        .withWatermark("p_ts", "1 hour")
      val clicks = src.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
                col("ts").as("c_ts"))
        .withWatermark("c_ts", "2 hours")
      val joined = purchases.join(clicks,
          col("user_id") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
          col("c_ts") <= col("p_ts"))
        .select(col("purchase_id"), col("click_id"))
      // append-mode INNER join emits matches in the batch they arrive —
      // the watermark/event-time bounds only drive state EVICTION (outer
      // joins and append aggs are the shapes whose emission waits on the
      // watermark) — so the trailing no-data batch would be pure floor
      runAvailableNow(s, joined, "append", viewName)
    },

    // Stream-static dimension enrichment: the events stream joined to the
    // static customer table — the single most common production streaming
    // shape (enrich-then-aggregate), and the stateless sibling of q50's
    // stream-stream join: no watermark, no join state store, because the
    // static side is fully available every microbatch. Spark re-plans the
    // static side per batch, so a dimension refreshed under the same path
    // is picked up between batches — the Structured Streaming contract
    // for slowly-changing dims. The dim broadcasts (customer ≪ stream);
    // at 100 TB an over-broadcast-size dim swaps to pre-bucketing both
    // sides on the key, the join itself stays stateless either way.
    // Complete-mode agg emits its full result in the data batch.
    QueryDef(
      "q113_stream_static_join",
      """SELECT c_mktsegment, event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val viewName = s"q113_mem_${java.util.UUID.randomUUID().toString.take(8)}"
      val stream = eventsStream(s, dir)
      val dim = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      val agg = stream
        .join(broadcast(dim), col("user_id") === col("c_custkey"))
        .groupBy(col("c_mktsegment"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(dec2(col("value"))).cast("double").as("total"))
      runAvailableNow(s, agg, "complete", viewName)
    },

    // Streaming dedup: one output row per (user, event_type, day) key —
    // the training-pipeline "first occurrence wins" filter as a streaming
    // op. Output is the key set itself, so the result is deterministic
    // and a DISTINCT oracles it. State is keyed per (user, type, day); on
    // an unbounded source add the watermark column to the key (or
    // dropDuplicatesWithinWatermark) so per-key state evicts once the
    // day has passed — noted rather than done here because the bounded
    // gate input arrives as one microbatch.
    QueryDef(
      "q52_stream_dedup",
      """SELECT DISTINCT user_id, event_type,
        |  strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day
        |FROM events""".stripMargin) { (s, dir) =>
      val viewName = s"q52_mem_${java.util.UUID.randomUUID().toString.take(8)}"
      val stream = eventsStream(s, dir)
        .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
        .withWatermark("ts", "1 day")
        .dropDuplicates("user_id", "event_type", "day")
        .select(col("user_id"), col("event_type"), col("day"))
      runAvailableNow(s, stream, "append", viewName)
    },

    // Streaming ZOH: the reference's signature aggregate (§2.6) as
    // arbitrary per-key streaming state — flatMapGroupsWithState keeps each
    // user's (time, value) points, emits the current window mean per
    // microbatch (update mode), and the read-back keeps each user's
    // highest-point-count emission = the final state. Exact-decimal
    // integration makes the result identical to batch ZOH, so q20's oracle
    // applies verbatim — the strongest correctness statement a stateful
    // streaming op can get. On an unbounded source the same code runs with
    // a watermark + state timeout evicting idle users; state is O(points
    // per user), the same contract as the reference's in-memory reducer
    // (zoh.go:175-236).
    QueryDef(
      "q61_stream_zoh",
      s"""WITH pts AS (
         |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t_us,
         |         CAST(value AS DECIMAL(18,2)) AS v
         |  FROM events WHERE event_type = 'purchase'
         |), seg AS (
         |  SELECT user_id, t_us, v,
         |    greatest(t_us, $ZohStartUs) AS seg_start,
         |    least(coalesce(lead(t_us) OVER (PARTITION BY user_id ORDER BY t_us, v),
         |                   $ZohEndUs), $ZohEndUs) AS seg_end
         |  FROM pts)
         |SELECT user_id,
         |  CASE WHEN min(t_us) <= $ZohStartUs THEN
         |    round(CAST(SUM(CASE WHEN seg_end > seg_start
         |                  THEN v * CAST(seg_end - seg_start AS DECIMAL(16,0)) END) AS DOUBLE)
         |      / ${(ZohEndUs - ZohStartUs).toDouble}, 6)
         |  END AS zoh_mean
         |FROM seg GROUP BY user_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
      val viewName = s"q61_mem_${java.util.UUID.randomUUID().toString.take(8)}"
      val stream = eventsStream(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"),
          unix_micros(col("ts")).as("t_us"),
          col("value"))
        .as[(Long, Long, Double)]
      val update = (user: Long, rows: Iterator[(Long, Long, Double)],
                    state: GroupState[Seq[(Long, Double)]]) => {
        val pts = (state.getOption.getOrElse(Seq.empty) ++
          rows.map(r => (r._2, r._3))).sortBy(identity)
        state.update(pts)
        Iterator.single((user, pts.size.toLong,
          Option(StreamingQ.zohExact(pts, ZohStartUs, ZohEndUs))
            .map(_.doubleValue)))
      }
      val perBatch = stream.groupByKey(_._1)
        .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(update)
        .toDF("user_id", "n_points", "zoh_mean")
      val emissions = runAvailableNow(s, perBatch, "update", viewName)
      // final state = the emission with the most points per user (point
      // counts strictly increase across a user's emissions)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("n_points").desc)
      emissions
        .withColumn("__rn", row_number().over(w)).where(col("__rn") === 1)
        .select(col("user_id"), col("zoh_mean"))
    },

    // Stream-stream LEFT OUTER interval join — the watermark-SEMANTICS
    // gate. Inner matches emit in the batch they arrive (q50); the outer
    // null rows are the part whose emission is governed by the watermark:
    // an unmatched purchase emits (purchase_id, NULL) only once the
    // global watermark — min over both sides of (max event time − delay),
    // advanced by the trailing no-data batch — passes the last instant a
    // matching click could still arrive (= the purchase time, since the
    // click window is [p_ts − 1h, p_ts]). Purchases newer than the final
    // watermark stay in state, unreported — exactly what an unbounded
    // run would do — and the oracle replays that rule: unmatched rows are
    // kept only when p_ts < the final watermark, computed in SQL from the
    // same per-side max-minus-delay min. This pins Spark's outer-emission
    // boundary (strict: a purchase AT the watermark is not yet closed)
    // cross-engine, not just the pair set.
    QueryDef(
      "q121_stream_outer_join",
      """WITH p AS (
        |  SELECT event_id AS purchase_id, user_id, CAST(ts AS TIMESTAMP) AS p_ts
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT event_id AS click_id, user_id, CAST(ts AS TIMESTAMP) AS c_ts
        |  FROM events WHERE event_type = 'click'),
        |wm AS (
        |  -- Spark's EventTimeWatermark tracks max event time truncated to
        |  -- whole MILLISECONDS before subtracting the delay; mirror that
        |  -- or a purchase inside the sub-ms gap flips its null-emission
        |  SELECT least(
        |    date_trunc('milliseconds', (SELECT max(p_ts) FROM p))
        |      - INTERVAL 1 HOUR,
        |    date_trunc('milliseconds', (SELECT max(c_ts) FROM c))
        |      - INTERVAL 2 HOUR) AS w),
        |j AS (
        |  SELECT p.purchase_id, c.click_id, p.p_ts
        |  FROM p LEFT JOIN c ON p.user_id = c.user_id
        |    AND c.c_ts >= p.p_ts - INTERVAL 1 HOUR
        |    AND c.c_ts <= p.p_ts)
        |SELECT purchase_id, click_id FROM j
        |WHERE click_id IS NOT NULL OR p_ts < (SELECT w FROM wm)""".stripMargin) {
      (s, dir) =>
      val viewName = s"q121_mem_${java.util.UUID.randomUUID().toString.take(8)}"
      // one source self-joined, as in q50 (single file-source log/listing)
      val src = eventsStream(s, dir)
      val purchases = src.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
                col("ts").as("p_ts"))
        .withWatermark("p_ts", "1 hour")
      val clicks = src.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
                col("ts").as("c_ts"))
        .withWatermark("c_ts", "2 hours")
      val joined = purchases.join(clicks,
          col("user_id") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
          col("c_ts") <= col("p_ts"),
          "left_outer")
        .select(col("purchase_id"), col("click_id"))
      // noDataBatch = true: outer-null emission WAITS on the watermark, so
      // the trailing no-data batch (which advances it to the final value)
      // is load-bearing here — the exact flush q50 gets to skip.
      runAvailableNow(s, joined, "append", viewName, noDataBatch = true)
    },

    // Streaming near-dedup against a FROZEN corpus index — the continuous-
    // ingestion twin of q85: documents arrive as a stream (even doc_ids
    // here), and each is checked for near-duplication (3-gram Jaccard
    // ≥ 0.8) against a static corpus (odd doc_ids) whose banded-MinHash
    // index was built ONCE batch-side. This is the production shape of
    // "dedup the incoming crawl against the training corpus": the
    // per-document work — shingle, 128-perm MinHash, 32×4 band keys — is
    // stateless and map-side; candidates come from a stream-static
    // equi-join on (band, band-hash) against the prebuilt index, so
    // per-arriving-doc cost ∝ its own band collisions, never corpus size;
    // verification is exact Jaccard on the carried shingle set. The ONLY
    // stateful operator is the final per-doc aggregation (complete mode;
    // on an unbounded source this becomes update mode + watermark once
    // docs carry arrival time). Identical band parameters to q85 ⇒
    // identical candidate recall ⇒ the same batch oracle is hash-exact.
    //
    // 100 TB: the corpus band index is corpus-sized — it stays a shuffled
    // equi-join (NOT broadcast) and is SLIM ((doc_b, band, bh), ~24
    // bytes/row, q85's index shape): corpus shingles live in a separate
    // once-per-doc frame joined only for candidate verification, never
    // fanned ×32 through the index. The stream side shuffles its own 32
    // band keys per arriving doc with the doc's shingle payload carried —
    // bounded per-arrival work (a stream row cannot re-join its own
    // shingles statelessly). Candidate pairs may repeat across bands (no
    // stateless distinct exists mid-stream); the terminal collect_set
    // dedupes them, trading a few re-verified pairs for zero extra state.
    //
    // The gate is MULTI-microbatch by construction: the arriving docs are
    // pre-split into 4 files and the source capped at maxFilesPerTrigger
    // = 1, so the aggregation state genuinely accumulates across 4
    // batches (a single-file source would collapse the whole gate into
    // one batch and never exercise cross-batch state). The final result
    // must be batch-boundary-invariant — that invariance is what the
    // batch oracle checks.
    QueryDef(
      "q137_stream_neardedup",
      s"""${Dedup.oracleShingles},
         |bt AS (SELECT * FROM s WHERE doc_id % 2 = 0),
         |cp AS (SELECT * FROM s WHERE doc_id % 2 = 1),
         |m AS (
         |  SELECT bt.doc_id, cp.doc_id AS dup
         |  FROM bt JOIN cp ON round(CAST(len(list_intersect(bt.sh, cp.sh)) AS DOUBLE)
         |    / (len(bt.sh) + len(cp.sh) - len(list_intersect(bt.sh, cp.sh))), 6) >= 0.8)
         |SELECT bt.doc_id, count(m.dup) AS n_dups, count(m.dup) > 0 AS is_dup
         |FROM bt LEFT JOIN m USING (doc_id)
         |GROUP BY bt.doc_id""".stripMargin) { (s, dir) =>
      import graft.transforms.NearDup
      val viewName = s"q137_mem_${java.util.UUID.randomUUID().toString.take(8)}"
      // static corpus index (odd ids), built once, SLIM: band keys only —
      // shingles live in a separate once-per-doc frame joined at
      // verification. localCheckpoint = the stored artifact (a real
      // deployment reads both back from parquet, q136's pattern).
      // Shingle projection, band keys, and Jaccard all ride the shared
      // NearDup machinery so this gate can never diverge from the batch
      // paths on the algebra.
      // ONE corpus scan: the shingle frame materializes once and feeds
      // both stored artifacts (the band index derives from it in memory)
      val corpusSh = NearDup.shingled(
        Tables.load(s, dir, "documents")
          .where(col("doc_id") % 2 === 1)
          .repartition(s.sparkContext.defaultParallelism),
        "doc_id", "text")
        .localCheckpoint(false)
      // q85's banding parameters — ONE definition for both sides
      val (perms, nBands, nRows) = (128, 32, 4)
      val corpusBands = NearDup.bandKeys(corpusSh,
          numPerm = perms, numBands = nBands, rowsPerBand = nRows)
        .toDF("doc_b", "band", "bh")
        .localCheckpoint(false)
      val corpusShingles = corpusSh.toDF("doc_b", "sh_b")
      // arriving stream: the even-id docs pre-split into 4 parquet files
      // so maxFilesPerTrigger=1 yields 4 real microbatches; per-doc
      // signature + band keys stay stateless. Stream schema comes from
      // the files this very function just wrote — correct by construction.
      val streamDir = java.nio.file.Files.createTempDirectory("graft_stream_")
      Advanced.registerTmpDir(streamDir)
      Tables.load(s, dir, "documents")
        .where(col("doc_id") % 2 === 0)
        .repartition(4)
        .write.mode("overwrite").parquet(streamDir.toString)
      val schema = MetaParquet.scan(s, streamDir.toString).schema
      val stream = NearDup.shingled(
          s.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1").parquet(streamDir.toString),
          "doc_id", "text")
      val matched = NearDup.bandKeysWith(stream,
          numPerm = perms, numBands = nBands, rowsPerBand = nRows,
          carryShingles = true)
        .withColumnRenamed("id", "doc_id")
        .join(corpusBands, Seq("band", "bh"))
        .join(corpusShingles, Seq("doc_b"))
        .withColumn("jaccard", NearDup.jaccardCol(col("shs"), col("sh_b")))
        .where(col("jaccard") >= 0.8)
        .select(col("doc_id"), col("doc_b"))
      // zero-match docs must still report (n_dups = 0): union a null
      // marker per arriving doc; collect_set skips nulls
      val agg = matched
        .unionByName(stream.select(col("id").as("doc_id"),
          lit(null).cast("long").as("doc_b")))
        .groupBy(col("doc_id"))
        .agg(size(collect_set(col("doc_b"))).cast("long").as("n_dups"))
        .withColumn("is_dup", col("n_dups") > 0)
      runAvailableNow(s, agg, "complete", viewName)
    },

    // Streaming upsert sink — the "streaming materialized view" shape: a
    // running keyed aggregation maintained in a PERSISTENT store by
    // update-mode foreachBatch MERGE, the pattern every warehouse
    // ingestion pipeline runs (Delta/Iceberg MERGE INTO per microbatch).
    // Events arrive across 4 real microbatches (pre-split files +
    // maxFilesPerTrigger=1); each batch emits only the keys whose running
    // totals CHANGED in that batch (update mode reads the agg state), and
    // the sink upserts them into a keyed parquet table: delete-matched +
    // insert (left_anti ∪ updates) — last write per key wins. The final
    // store must equal the one-shot batch aggregate no matter how the
    // input was sliced into batches: per-batch emissions depend on batch
    // boundaries, the upserted RESULT must not. That boundary-invariance
    // is exactly what the batch oracle pins.
    //
    // 100 TB: the store rewrite here is whole-table because plain parquet
    // has no transactional row-level MERGE — a real deployment swaps the
    // foreachBatch body for MERGE INTO on a table format (or partitions
    // the store by key range and rewrites touched partitions only);
    // update-mode emission keeps the per-batch upsert ∝ changed keys, not
    // store size, which is what makes the pattern viable. The
    // localCheckpoint before the overwrite is the q81 rule: materialize
    // the merged frame BEFORE truncating the directory it lazily reads.
    QueryDef(
      "q138_stream_upsert",
      """SELECT event_type, strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val base = java.nio.file.Files.createTempDirectory("graft_upsert_")
      Advanced.registerTmpDir(base)
      val inDir = s"$base/in"
      val store = s"$base/store"
      // pre-split the (ts-normalized) events into 4 files = 4 microbatches
      Tables.load(s, dir, "events")
        .select(col("ts"), col("event_type"), col("value"))
        .repartition(4)
        .write.mode("overwrite").parquet(inDir)
      val schema = MetaParquet.scan(s, inDir).schema
      val agg = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(inDir)
        .groupBy(col("event_type"),
          date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n"),
          sum(dec2(col("value"))).cast("double").as("total"))
      drainAvailableNow(s, "q138_upsert", noDataBatch = false) { ckpt =>
        agg.writeStream
          .outputMode("update")
          .foreachBatch { (batch: DataFrame, _: Long) =>
            val sp = batch.sparkSession
            val upd = batch.localCheckpoint(true)
            val merged =
              if (!new java.io.File(store).exists) upd
              else MetaParquet.scan(sp, store)
                .join(upd.select("event_type", "day"),
                  Seq("event_type", "day"), "left_anti")
                .unionByName(upd)
                .localCheckpoint(true)
            merged.write.mode("overwrite").parquet(store)
          }
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      }
      MetaParquet.scan(s, store)
        .select(col("event_type"), col("day"), col("n"), col("total"))
    },

    // Streaming ANN serving — the ONLINE consumer of q136's stored IVF
    // index: query vectors arrive as a stream (the 8-query panel sliced
    // into 4 real microbatches) and each microbatch is answered entirely
    // from the stored artifact via foreachBatch running the SAME serving
    // step q136 runs once (Similarity.ivfProbeStored): centroids re-read
    // from disk pick probe cells, the batch's cells are collected
    // driver-side (|batch|×nprobe rows by contract) and pushed as a
    // static partition filter, so each microbatch reads ONLY its probed
    // cells' files — per-batch work ∝ batch size × cell size, never
    // index size. Results append to a parquet store; no streaming state
    // at all (a query is fully answered in its arrival batch — ANN
    // serving is stateless by nature, which is why foreachBatch + batch
    // API is the right shape, not a stateful agg).
    //
    // The gate: the union of per-batch answers must equal the one-shot
    // batch probe no matter how the panel was sliced — q136's oracle
    // verbatim (same stored-index algebra, same panel), checked
    // hash-exact. 100 TB: the index build amortizes across every later
    // batch; per-batch cost is the routing collect (bounded) + a pruned
    // scan; the append-only result store is the serving log.
    QueryDef(
      "q139_stream_knn",
      Similarity.storedIvfOracleSql) { (s, dir) =>
      // once-per-corpus: the SHARED index build (identical to q136's)
      val base = Similarity.ivfStore(s, dir)
      streamPanelServe(s, dir, "q139_stream_knn",
        (sp, queries) => Similarity.ivfProbeStored(sp, base, queries))
    },

    // Streaming ADC serving from the stored IVF-PQ artifact — q139's
    // shape over the round-12 serving path: the query panel arrives as
    // 4 real microbatches and each is answered ENTIRELY from the
    // PQ-coded files (routed CODE cells → broadcast LUT → DECIMAL-exact
    // ADC → shortlist → full vectors only for the rerank — the q163
    // machinery, byte-identical because it IS the same
    // ivfProbeStoredAdc). Every ADC stage is per-query independent
    // (per-qid LUT, per-qid shortlist window, per-qid rerank), so the
    // union of per-batch answers must equal the one-shot panel — the
    // gate shares q163's oracle, hash-exact. batchId-keyed idempotent
    // sink, per-batch cost ∝ the batch's own routed cells.
    QueryDef(
      "q166_stream_knn_adc",
      Similarity.storedIvfPqOracleSql) { (s, dir) =>
      val base = Similarity.ivfPqStore(s, dir)
      streamPanelServe(s, dir, "q166_stream_knn_adc",
        (sp, queries) => Similarity.ivfProbeStoredAdc(sp, base, queries,
          Similarity.StoredProbes, Similarity.StoredPqShortlist))
    },

    // Streaming TYPO dedup from the STORED delete-1 variant index —
    // the last stored family to gain a streaming consumer (text q149,
    // cosine q157, IVF q139, ADC q166, TYPO here): dirty strings
    // arrive as 4 real microbatches and each is answered ENTIRELY from
    // q154's artifact shape via foreachBatch running the SAME probe
    // step (NearDup.typoCrossMatchesStored — routed variant cells read
    // as explicit paths, broadcast batch variants, length-capped
    // levenshtein verify against the pruned string store). Per-batch
    // work ∝ the batch's own variant keys, never corpus size; no
    // streaming state (a string's verdict depends only on itself and
    // the frozen index); batchId-keyed idempotent sink. Batch-boundary
    // invariance IS the gate: the union of per-batch kept sets must
    // equal the one-shot q154 answer — shared brute-force oracle,
    // hash-exact.
    QueryDef(
      "q169_stream_stored_typo_dedup",
      AqlQ.typoAgainstKeptOracleSql) { (s, dir) =>
      import graft.transforms.NearDup
      val qBase = java.nio.file.Files
        .createTempDirectory("graft_typostream_")
      Advanced.registerTmpDir(qBase)
      val base = s"$qBase/typo_index"
      val cust = Tables.load(s, dir, "customer")
        .where(col("c_custkey") < 300)
        .select(col("c_custkey"), col("c_name"))
      // the write-once artifact, q154's corpus cut (odd keys < 100),
      // stored with the INDEX verb's own exact-first collapse: entries
      // are distinct texts keyed by content hash
      val corpusReps = cust
        .where(col("c_custkey") % 2 === 1 && col("c_custkey") < 100)
        .select(col("c_name").as("txt"))
        .where(col("txt").isNotNull).distinct()
        .select(xxhash64(col("txt")).as("id"), col("txt"))
      NearDup.typoStoreTo(base, corpusReps, cells = 32)
      val inDir = s"$qBase/in"
      val resDir = s"$qBase/out"
      cust.where(col("c_custkey") % 2 === 0)
        .repartition(4)
        .write.mode("overwrite").parquet(inDir)
      val schema = MetaParquet.scan(s, inDir).schema
      drainAvailableNow(s, "q169_stored_typo", noDataBatch = false) {
        ckpt =>
        s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(inDir)
          .writeStream
          .outputMode("append")
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            val sp = batch.sparkSession
            val bReps = batch
              .select(col("c_custkey").as("id"), col("c_name").as("txt"))
              .where(col("txt").isNotNull)
            val matched = NearDup.typoCrossMatchesStored(sp, base, bReps)
              .toDF("c_custkey")
            // idempotent under at-least-once: batchId-keyed overwrite
            batch.select(col("c_custkey"))
              .join(matched, Seq("c_custkey"), "left_anti")
              .write.mode("overwrite").parquet(s"$resDir/batch=$batchId")
          }
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      }
      MetaParquet.scan(s, resDir).select(col("c_custkey"))
    },

    // Streaming incremental dedup from the STORED band index — the
    // continuous-ingestion consumer of q144's artifact, completing the
    // triangle q139 drew for ANN (one write-once index; q144 = batch
    // probe, q148 = language-layer probe, THIS = streaming probe). The
    // even-doc batch arrives as 4 real microbatches; each is shingled,
    // signed, and answered ENTIRELY from the stored files via
    // foreachBatch running the SAME probe step
    // (NearDup.minhashCrossMatchesStored): routed cells read as
    // explicit paths, broadcast batch bands, exact verify against the
    // pruned shingle store — per-batch work ∝ the batch's own band
    // keys, NEVER corpus size or a corpus re-scan (the q137 shape with
    // the in-plan frozen index swapped for the on-disk artifact). No
    // streaming state: a doc's verdict depends only on itself and the
    // frozen index, so foreachBatch + batch API is the right shape.
    // Batch-boundary invariance IS the gate: the union of per-batch
    // kept sets must equal the one-shot q144/q128 answer — shared
    // oracle, checked hash-exact.
    QueryDef(
      "q149_stream_stored_neardedup",
      Dedup.againstKeptOracleSql) { (s, dir) =>
      import graft.functions.Text
      import graft.transforms.NearDup
      // once-per-corpus: the SHARED stored band index (identical to
      // q144's — memoized, so the two gates probe one artifact)
      val base = Dedup.bandStore(s, dir)
      val qBase = java.nio.file.Files
        .createTempDirectory("graft_dedupstream_")
      Advanced.registerTmpDir(qBase)
      val inDir = s"$qBase/in"
      val resDir = s"$qBase/out"
      // the batch side arrives as a stream: pre-split into 4 files so
      // maxFilesPerTrigger=1 yields 4 real microbatches
      Tables.load(s, dir, "documents")
        .where(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
        .repartition(4)
        .write.mode("overwrite").parquet(inDir)
      val schema = MetaParquet.scan(s, inDir).schema
      drainAvailableNow(s, "q149_stored_dedup", noDataBatch = false) { ckpt =>
        s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(inDir)
          .writeStream
          .outputMode("append")
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            val sp = batch.sparkSession
            val shB = batch
              .select(col("doc_id"), Text.tokens(col("text")).as("ws"))
              .where(size(col("ws")) >= 3)
              .select(col("doc_id").as("id"),
                Text.shinglesFromTokens(col("ws")).as("shs"))
            val matched = NearDup.minhashCrossMatchesStored(sp, base,
                shB, 0.5, numPerm = 128, numBands = 64, rowsPerBand = 2)
              .toDF("doc_id")
            // idempotent under at-least-once: batchId-keyed overwrite
            // (q139's pattern)
            batch.join(matched, Seq("doc_id"), "left_anti")
              .select(col("doc_id"), col("lang"), col("source"),
                col("n_chars"))
              .write.mode("overwrite").parquet(s"$resDir/batch=$batchId")
          }
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      }
      MetaParquet.scan(s, resDir)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    },

    // Streaming embedding decontamination from the STORED sign-LSH
    // bucket index — the VECTOR triangle completed, mirroring the text
    // one (q142 = in-plan two-source, q153 = language-layer probe of
    // the verb-built artifact, THIS = streaming probe; one write-once
    // index shape serves all three). The even-vec batch arrives as 4
    // real microbatches; each is bucketed and answered ENTIRELY from
    // the stored files via foreachBatch running the SAME probe step
    // (VecKnn.cosineCrossMatchesStored): routed bucket cells read as
    // explicit paths, broadcast batch buckets, exact round-6 cosine
    // verify against the pruned vector store — per-batch work ∝ the
    // batch's own bucket keys, never corpus size. No streaming state
    // (a vector's verdict depends only on itself and the frozen
    // index); batchId-keyed idempotent sink. Batch-boundary invariance
    // IS the gate: the union of per-batch kept sets must equal the
    // one-shot q142/q153 answer — shared brute-force oracle,
    // hash-exact.
    QueryDef(
      "q157_stream_stored_cosine_dedup",
      AqlQ.cosineAgainstKeptOracleSql) { (s, dir) =>
      import graft.functions.Vectors.l2norm
      import graft.transforms.VecKnn
      // once-per-corpus: the SHARED stored bucket index (memoized —
      // repeat runs probe one artifact, the deployment model)
      val base = Similarity.cosineStore(s, dir)
      val qBase = java.nio.file.Files
        .createTempDirectory("graft_cosstream_")
      Advanced.registerTmpDir(qBase)
      val inDir = s"$qBase/in"
      val resDir = s"$qBase/out"
      Similarity.emb(s, dir)
        .where(col("vec_id") % 2 === 0)
        .repartition(4)
        .write.mode("overwrite").parquet(inDir)
      val schema = MetaParquet.scan(s, inDir).schema
      drainAvailableNow(s, "q157_stored_cosine", noDataBatch = false) {
        ckpt =>
        s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(inDir)
          .writeStream
          .outputMode("append")
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            val sp = batch.sparkSession
            val b = batch
              .select(col("vec_id").as("id"), col("v"))
              .withColumn("nrm", l2norm(col("v")))
            val matched = VecKnn
              .cosineCrossMatchesStored(sp, base, b, 0.45)
              .toDF("vec_id")
            // idempotent under at-least-once: batchId-keyed overwrite
            batch.select(col("vec_id"))
              .join(matched, Seq("vec_id"), "left_anti")
              .write.mode("overwrite").parquet(s"$resDir/batch=$batchId")
          }
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      }
      MetaParquet.scan(s, resDir).select(col("vec_id"))
    },

    // Streaming INDEX APPEND — the WRITE side of the streaming triangle
    // (q137/q139/q149/q157 consume stored indexes from streams; this
    // gate PRODUCES one): q156's exact protocol — build doc_id%4==1 via
    // the engine's INDEX statement, add doc_id%4==3, probe the evens —
    // but the appended slice arrives as 4 REAL microbatches, each
    // ingested into the durable artifact by foreachBatch running the
    // SAME family step the INDEX … APPEND verb drives
    // (NearDup.bandStoreAppend after the verb's own exact-first
    // collapse), with geometry from the artifact's meta/ as always.
    // Batch-boundary invariance IS the gate: 4 streamed appends must
    // answer the shared brute-force oracle exactly like one engine-run
    // append (q156) and like one full build (q151) — a batch boundary
    // that dropped, re-keyed or re-banded an entry fails the hash.
    // Replay safety is CONTENT-KEYED rather than batchId-keyed: entries
    // are one per distinct text (id = xxhash64(text)), so an
    // at-least-once redelivery re-appends postings that are duplicates
    // of themselves — probe answers are invariant (candidates distinct,
    // verify per-pair; the wasted bytes are COMPACT's job), which is
    // why an append sink needs no idempotent-overwrite dance. The
    // microbatch engine serializes batches, so the single-writer
    // contract holds within the stream; cross-JOB writers still take
    // the artifact lock via the verb.
    QueryDef(
      "q161_stream_index_append",
      Dedup.againstKeptOracleSql) { (s, dir) =>
      import graft.transforms.NearDup
      val qBase = java.nio.file.Files
        .createTempDirectory("graft_q161_")
      Advanced.registerTmpDir(qBase)
      val idx = s"$qBase/band_index"
      val out = s"$qBase/kept"
      // run A: the engine builds the base artifact (q156's geometry)
      Aql.run(s,
        s"""CONNECTION 'Docs' (
           |  DRIVER = 'file', FILE = '$dir/documents.parquet',
           |  FORMAT = 'parquet'
           |)
           |QUERY 'Corpus' FROM CONNECTION Docs (
           |  SELECT * FROM Docs WHERE doc_id % 4 = 1
           |)
           |TRANSFORM 'Built' FROM BLOCK Corpus (
           |  INDEX ON text KEY doc_id METHOD LSH THRESHOLD 0.5 CELLS 64
           |    INTO '$idx'
           |) INTO CONSOLE""".stripMargin)
      // the %4==3 slice arrives as a stream: 4 files ⇒ 4 microbatches
      // (streamMutate's shared scaffold). Each append maintains the
      // artifact's layout record itself (IndexManifest.maintained, ∝
      // this batch's reports), so INDEX DESCRIBE stays record-served
      // across the whole streaming window.
      streamMutate(s, "q161_index_append",
        Tables.load(s, dir, "documents")
          .where(col("doc_id") % 4 === 3)
          .select(col("doc_id"), col("text"))) { batch =>
        // the INDEX verb's own exact-first collapse + shingle prep
        val reps = batch
          .select(xxhash64(col("text")).as("th"), col("text").as("txt"))
          .distinct()
        NearDup.bandStoreAppend(idx, NearDup.shingled(reps, "th", "txt"))
        ()
      }
      // run B: a separate engine invocation probes the streamed-into
      // artifact — q156's probe script verbatim
      Aql.run(s,
        s"""CONNECTION 'Docs' (
           |  DRIVER = 'file', FILE = '$dir/documents.parquet',
           |  FORMAT = 'parquet'
           |)
           |CONNECTION 'Out' (
           |  DRIVER = 'file', FILE = '$out', FORMAT = 'parquet'
           |)
           |QUERY 'Batch' FROM CONNECTION Docs (
           |  SELECT * FROM Docs WHERE doc_id % 2 = 0
           |)
           |TRANSFORM 'Kept' FROM BLOCK Batch (
           |  NEARDEDUP Batch AGAINST STORED '$idx' ON text KEY doc_id
           |    THRESHOLD 0.5 METHOD LSH
           |)
           |QUERY 'Final' FROM BLOCK Kept (
           |  SELECT doc_id, lang, source, n_chars FROM Kept
           |) INTO CONNECTION Out""".stripMargin).outputs("FINAL")
    },

    // Streaming INDEX DELETE — the FORGET side of the streaming story
    // (q161 streams ingest IN; this gate streams entries OUT):
    // right-to-forget requests arrive continuously in a real
    // deployment, and re-building the index per request is exactly
    // the cost DELETE exists to avoid. q159's protocol — build the
    // odd corpus, APPEND the evens in a second engine run, DELETE the
    // evens, probe the evens — with the DELETE leg arriving as 4 REAL
    // microbatches, each removed from the durable artifact by
    // foreachBatch running the SAME family step the INDEX … DELETE
    // verb drives (NearDup.bandStoreDelete after the verb's
    // exact-first collapse), geometry from the artifact's meta/ as
    // always. Batch-boundary invariance IS the gate: 4 streamed
    // deletes must answer q159's oracle exactly like one engine-run
    // delete — a boundary that left a posting behind matches its own
    // batch doc back (false retention), one that took a neighbor with
    // it un-drops near-matching batch docs (over-deletion); both fail
    // the hash. Replay safety is CONTENT-KEYED like the append side:
    // deleting already-deleted ids is a no-op (the delete's own
    // recovery contract), so at-least-once redelivery cannot change
    // the artifact. Each microbatch takes the artifact's maintenance
    // lock and maintains the layout record (IndexManifest.maintained)
    // — the production forget-stream leaves DESCRIBE record-served too.
    QueryDef(
      "q172_stream_index_delete",
      Dedup.deleteKeptOracleSql) { (s, dir) =>
      import graft.transforms.NearDup
      val qBase = java.nio.file.Files
        .createTempDirectory("graft_q172_")
      Advanced.registerTmpDir(qBase)
      val idx = s"$qBase/band_index"
      val out = s"$qBase/kept"
      def maintScript(parity: Int, opts: String, maintKw: String) =
        s"""CONNECTION 'Docs' (
           |  DRIVER = 'file', FILE = '$dir/documents.parquet',
           |  FORMAT = 'parquet'
           |)
           |QUERY 'Corpus' FROM CONNECTION Docs (
           |  SELECT * FROM Docs WHERE doc_id % 2 = $parity
           |)
           |TRANSFORM 'Built' FROM BLOCK Corpus (
           |  INDEX ON text KEY doc_id METHOD LSH$opts
           |    INTO '$idx'$maintKw
           |) INTO CONSOLE""".stripMargin
      // runs A+B: the engine builds odds, appends evens (q159's setup)
      Aql.run(s, maintScript(1, " THRESHOLD 0.5 CELLS 64", ""))
      Aql.run(s, maintScript(0, "", " APPEND"))
      // the evens arrive as a forget-stream: 4 files ⇒ 4 microbatches
      // (streamMutate — the same scaffold the ingest gate rides)
      streamMutate(s, "q172_index_delete",
        Tables.load(s, dir, "documents")
          .where(col("doc_id") % 2 === 0)
          .select(col("doc_id"), col("text"))) { batch =>
        // the INDEX verb's own exact-first collapse + shingle prep
        val reps = batch
          .select(xxhash64(col("text")).as("th"), col("text").as("txt"))
          .distinct()
        NearDup.bandStoreDelete(idx, NearDup.shingled(reps, "th", "txt"))
        ()
      }
      // final engine run: q159's probe script verbatim
      Aql.run(s,
        s"""CONNECTION 'Docs' (
           |  DRIVER = 'file', FILE = '$dir/documents.parquet',
           |  FORMAT = 'parquet'
           |)
           |CONNECTION 'Out' (
           |  DRIVER = 'file', FILE = '$out', FORMAT = 'parquet'
           |)
           |QUERY 'Batch' FROM CONNECTION Docs (
           |  SELECT * FROM Docs WHERE doc_id % 2 = 0
           |)
           |TRANSFORM 'Kept' FROM BLOCK Batch (
           |  NEARDEDUP Batch AGAINST STORED '$idx' ON text KEY doc_id
           |    THRESHOLD 0.5 METHOD LSH
           |)
           |QUERY 'Final' FROM BLOCK Kept (
           |  SELECT doc_id, lang, source, n_chars FROM Kept
           |) INTO CONNECTION Out""".stripMargin).outputs("FINAL")
    },

    // Streaming JACCARD retrieval from the stored band artifact — the
    // last SERVING form to gain a streaming consumer (IVF q139, ADC
    // q166 for vectors; this is the text analogue of those two over
    // q168's machinery): query docs arrive as 4 real microbatches and
    // each is answered ENTIRELY from the lsh_text artifact by
    // foreachBatch running the KNN verb's OWN statement
    // (TransformParser.parse — panel prep, content keying, banded
    // candidate routing, exact-Jaccard rerank and per-qid fan-back are
    // the verb's single jaccardServe body, so the streamed serve can
    // never drift from q168's). Every stage is per-query independent
    // (per-qid candidates, per-qid rank window), so the union of
    // per-batch answers must equal the one-shot panel — shared with
    // q168's brute-force oracle, hash-exact on the tie-invariant
    // (qid, jaccard, rank) projection. batchId-keyed idempotent sink;
    // per-batch cost ∝ the batch's own band keys, never corpus size.
    QueryDef(
      "q173_stream_knn_jaccard",
      Dedup.jaccardKnnOracleSql) { (s, dir) =>
      val qBase = java.nio.file.Files
        .createTempDirectory("graft_q173_")
      Advanced.registerTmpDir(qBase)
      val idx = s"$qBase/band_index"
      // run A: the engine builds q168's artifact (odd docs)
      Aql.run(s,
        s"""CONNECTION 'Docs' (
           |  DRIVER = 'file', FILE = '$dir/documents.parquet',
           |  FORMAT = 'parquet'
           |)
           |QUERY 'Corpus' FROM CONNECTION Docs (
           |  SELECT * FROM Docs WHERE doc_id % 2 = 1
           |)
           |TRANSFORM 'Built' FROM BLOCK Corpus (
           |  INDEX ON text KEY doc_id METHOD LSH THRESHOLD 0.5 CELLS 64
           |    INTO '$idx'
           |) INTO CONSOLE""".stripMargin)
      // the verb's statement, parsed ONCE at stream definition (a
      // parse error surfaces here, not inside the first microbatch);
      // build(…) binds each batch's frame at call time
      val knn = graft.transforms.TransformParser
        .parse(s"KNN ON text KEY doc_id TOP 10 METHOD JACCARD " +
          s"THRESHOLD 0.5 STORED '$idx'")
      // the even docs arrive as a query stream: 4 files ⇒ 4 microbatches
      streamServe(s, "q173_knn_jaccard",
        Tables.load(s, dir, "documents")
          .where(col("doc_id") % 2 === 0)
          .select(col("doc_id"), col("text")),
        Seq("qid", "jaccard", "rank")) { batch =>
        knn.build(Map.empty, batch)
      }
    },

    // Streaming ingest against a record-served artifact: q161's exact
    // streamed-append protocol with an INDEX MANIFEST between the build
    // and the stream (a no-op on the build's readable v1). Each of the
    // 4 real microbatches then commits the next version of the layout
    // record as its own last step (bandStoreAppend →
    // IndexManifest.maintained: this batch's file reports folded into
    // the prior record, every other cell carried over), so the artifact
    // stays record-served across the whole streaming window, and the
    // final probe run resolves its routed cells from a record the
    // STREAM's last microbatch committed. A microbatch commit that
    // dropped a carried file, missed its own appended files, or
    // mis-parsed a cell id changes the probe's
    // candidate set and fails hash-exactly against q156/q161/q174's
    // shared brute-force oracle. With q174 (engine-run append) and
    // this gate (streamed append), both writer cadences of the
    // manifest contract are gated end to end.
    QueryDef(
      "q175_stream_manifest_append",
      Dedup.againstKeptOracleSql) { (s, dir) =>
      import graft.transforms.NearDup
      val qBase = java.nio.file.Files
        .createTempDirectory("graft_q175_")
      Advanced.registerTmpDir(qBase)
      val idx = s"$qBase/band_index"
      val out = s"$qBase/kept"
      // run A: build the base artifact (q156's geometry, record v1),
      // then INDEX MANIFEST, which returns the readable v1 unchanged
      Aql.run(s,
        s"""CONNECTION 'Docs' (
           |  DRIVER = 'file', FILE = '$dir/documents.parquet',
           |  FORMAT = 'parquet'
           |)
           |QUERY 'Corpus' FROM CONNECTION Docs (
           |  SELECT * FROM Docs WHERE doc_id % 4 = 1
           |)
           |TRANSFORM 'Built' FROM BLOCK Corpus (
           |  INDEX ON text KEY doc_id METHOD LSH THRESHOLD 0.5 CELLS 64
           |    INTO '$idx'
           |) INTO CONSOLE""".stripMargin)
      Aql.run(s,
        s"""DATA 'One' ([[1]]) WITH (COLUMNS = 'X')
           |TRANSFORM 'Committed' FROM BLOCK One (
           |  INDEX MANIFEST '$idx'
           |) INTO CONSOLE""".stripMargin)
      // the %4==3 slice arrives as a stream: 4 files ⇒ 4 microbatches,
      // each committing the next version of the record
      streamMutate(s, "q175_manifest_append",
        Tables.load(s, dir, "documents")
          .where(col("doc_id") % 4 === 3)
          .select(col("doc_id"), col("text"))) { batch =>
        val reps = batch
          .select(xxhash64(col("text")).as("th"), col("text").as("txt"))
          .distinct()
        NearDup.bandStoreAppend(idx, NearDup.shingled(reps, "th", "txt"))
        ()
      }
      // run B: the probe resolves from the stream-committed record
      // (build v1 + 4 microbatch commits = v5; asserted here so the
      // gate cannot silently degrade to live-layout resolution)
      val v = graft.transforms.IndexManifest.read(s, idx).map(_.version)
      require(v.contains(5L),
        s"q175: expected manifest v5 after the build + 4 microbatch " +
          s"commits, got $v — the stream did not maintain the record")
      Aql.run(s,
        s"""CONNECTION 'Docs' (
           |  DRIVER = 'file', FILE = '$dir/documents.parquet',
           |  FORMAT = 'parquet'
           |)
           |CONNECTION 'Out' (
           |  DRIVER = 'file', FILE = '$out', FORMAT = 'parquet'
           |)
           |QUERY 'Batch' FROM CONNECTION Docs (
           |  SELECT * FROM Docs WHERE doc_id % 2 = 0
           |)
           |TRANSFORM 'Kept' FROM BLOCK Batch (
           |  NEARDEDUP Batch AGAINST STORED '$idx' ON text KEY doc_id
           |    THRESHOLD 0.5 METHOD LSH
           |)
           |QUERY 'Final' FROM BLOCK Kept (
           |  SELECT doc_id, lang, source, n_chars FROM Kept
           |) INTO CONNECTION Out""".stripMargin).outputs("FINAL")
    },
  )

  /** Exact-decimal ZOH fold over sorted points (the reference reducer's
    * semantics, zoh.go:175-236): BigDecimal.valueOf(v) recovers the 2-dp
    * decimal exactly, so the streaming result is bit-identical to the
    * batch/oracle decimal pipeline. Returns null when the series starts
    * after the window (zoh.go:176-181).
    */
  def zohExact(pts: Seq[(Long, Double)], startUs: Long, endUs: Long): java.lang.Double = {
    if (pts.isEmpty || endUs <= startUs || pts.head._1 > startUs) return null
    var integral = java.math.BigDecimal.ZERO
    var i = 0
    while (i < pts.length) {
      val segStart = math.max(pts(i)._1, startUs)
      val segEnd =
        if (i + 1 < pts.length) math.min(pts(i + 1)._1, endUs) else endUs
      if (segEnd > segStart)
        integral = integral.add(java.math.BigDecimal.valueOf(pts(i)._2)
          .multiply(java.math.BigDecimal.valueOf(segEnd - segStart)))
      i += 1
    }
    val mean = integral.doubleValue() / (endUs - startUs).toDouble
    // mirror round(x, 6) as Spark/DuckDB round doubles (half-up on the
    // shortest decimal representation)
    java.lang.Double.valueOf(java.math.BigDecimal.valueOf(mean)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue())
  }
}
