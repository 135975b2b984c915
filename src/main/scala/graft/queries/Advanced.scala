package graft.queries

import graft.{QueryDef, Tables}
import graft.transforms.MetaParquet
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Advanced relational operators beyond the reference's native surface
  * (reference docs-src/docs/transforms.md: "only equality join conditions are
  * supported"; no windows/sorts/set-ops outside delegated SQL — SURVEY.md
  * §2.5/§2.7). These are the operators a 100 TB training-data pipeline reaches
  * for constantly, each expressed with the Spark plan shape that survives
  * scale-up, and each hash-checked against a DuckDB oracle.
  */
object Advanced {
  import Tables.{dec2, dsum}

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Temp dirs removed by ONE shared JVM shutdown hook. A hook per
    * invocation would accumulate a thread per call in long-lived sessions
    * (server mode, multi-pass bench).
    */
  private val tmpDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]
  private lazy val cleanupHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      import scala.jdk.CollectionConverters._
      tmpDirs.asScala.foreach { d =>
        try java.nio.file.Files.walk(d).iterator().asScala.toSeq
          .sortBy(-_.getNameCount)
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
        catch { case _: Throwable => () }
      }
    }))
  private[graft] def registerTmpDir(d: java.nio.file.Path): Unit = {
    cleanupHook
    tmpDirs.add(d)
    ()
  }

  val entries: Seq[QueryDef] = Seq(

    // ---- As-of join: for each purchase, the most recent click of the same
    // user at or before the purchase time. The naive formulation is a range
    // self-join (quadratic in events-per-user); the scale-correct plan is a
    // single shuffle on user_id + one window sort — O(n log n) per user,
    // no join blow-up, AQE-splittable partitions. Reference has no as-of
    // operator (equality joins only, transforms/lookup.go).
    QueryDef(
      "q24_asof_join",
      """SELECT e.event_id, e.user_id,
        |  (SELECT max(CAST(c.ts AS TIMESTAMP)) FROM events c
        |   WHERE c.user_id = e.user_id AND c.event_type = 'click'
        |     AND CAST(c.ts AS TIMESTAMP) <= CAST(e.ts AS TIMESTAMP)) AS prior_click_ts
        |FROM events e WHERE e.event_type = 'purchase'
        |  AND EXISTS (SELECT 1 FROM events c WHERE c.user_id = e.user_id
        |    AND c.event_type = 'click'
        |    AND CAST(c.ts AS TIMESTAMP) <= CAST(e.ts AS TIMESTAMP))""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events")
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
      // Same-timestamp click must be visible to a same-timestamp purchase
      // (<= semantics) — order clicks before purchases within a tie.
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), when(col("event_type") === "click", 0).otherwise(1))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.withColumn("prior_click_ts",
          last(when(col("event_type") === "click", col("ts")), ignoreNulls = true)
            .over(w))
        .filter(col("event_type") === "purchase" && col("prior_click_ts").isNotNull)
        .select(col("event_id"), col("user_id"), col("prior_click_ts"))
    },

    // ---- Range (band) join: assign each part to a price band via interval
    // containment. Bands are a tiny dimension → broadcast nested-loop join,
    // the right physical plan at any scale (the probe side never shuffles).
    QueryDef(
      "q25_range_join",
      """WITH bands(band, lo, hi) AS (VALUES
        |  ('b1', 900.0, 940.0), ('b2', 940.0, 970.0), ('b3', 970.0, 1000.0))
        |SELECT band, COUNT(*) AS n_parts,
        |  CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM part JOIN bands ON p_retailprice >= lo AND p_retailprice < hi
        |GROUP BY band""".stripMargin) { (s, dir) =>
      import s.implicits._
      val bands = Seq(("b1", 900.0, 940.0), ("b2", 940.0, 970.0),
                      ("b3", 970.0, 1000.0)).toDF("band", "lo", "hi")
      t(s, dir, "part")
        .join(broadcast(bands),
              col("p_retailprice") >= col("lo") && col("p_retailprice") < col("hi"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_parts"), dsum(col("p_retailprice")).as("total_price"))
    },

    // ---- Sliding (hopping) event-time windows: 1h windows every 30min, so
    // each event lands in exactly 2 windows. Spark's window() generates the
    // window set per row map-side (no self-join), then one shuffle on
    // (window, event_type) — the shape that holds at 100 TB. Oracle unrolls
    // the two epoch-aligned starts per event.
    QueryDef(
      "q26_sliding_window",
      """SELECT CAST(to_timestamp(ws) AS TIMESTAMP) AS win_start, event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM (
        |  SELECT unnest([floor(epoch(CAST(ts AS TIMESTAMP)) / 1800) * 1800,
        |                 floor(epoch(CAST(ts AS TIMESTAMP)) / 1800) * 1800 - 1800]) AS ws,
        |         event_type, value
        |  FROM events)
        |GROUP BY ws, event_type""".stripMargin) { (s, dir) =>
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"),
             sum(dec2(col("value"))).cast("double").as("total"))
        .select(col("window.start").as("win_start"), col("event_type"),
                col("n"), col("total"))
    },

    // ---- Pivot: wide conditional aggregation (one shuffle; each output
    // column is a map-side partial agg, no per-value scans).
    QueryDef(
      "q27_pivot",
      """SELECT l_linestatus,
        |  COUNT(CASE WHEN l_returnflag = 'A' THEN 1 END) AS A_n,
        |  CAST(SUM(CASE WHEN l_returnflag = 'A' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS A_qty,
        |  COUNT(CASE WHEN l_returnflag = 'N' THEN 1 END) AS N_n,
        |  CAST(SUM(CASE WHEN l_returnflag = 'N' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS N_qty,
        |  COUNT(CASE WHEN l_returnflag = 'R' THEN 1 END) AS R_n,
        |  CAST(SUM(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS R_qty
        |FROM lineitem GROUP BY l_linestatus""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_linestatus"))
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(count(lit(1)).as("n"),
             sum(dec2(col("l_quantity"))).cast("double").as("qty"))
    },

    // ---- Cube: all grouping-set combinations in one pass (Catalyst expands
    // to a single Expand + hash agg — one shuffle regardless of set count).
    QueryDef(
      "q28_cube",
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("total"))
    },

    // ---- Explicit grouping sets via the SQL surface (distinct from
    // rollup/cube: arbitrary set list).
    QueryDef(
      "q29_grouping_sets",
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin) { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT l_returnflag, l_linestatus, COUNT(*) AS n
          |FROM lineitem
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin)
    },

    // ---- Salted join: the skew-mitigation pattern for hot keys at scale.
    // Probe rows get a deterministic salt in [0,8); the build side is
    // replicated once per salt value, and the join key becomes (key, salt) —
    // a hot key's rows now spread over 8 reducers instead of one straggler.
    // Results are identical to the plain join (oracle is the unsalted SQL).
    // shuffle_hash hint forces the shuffle path so the pattern is actually
    // exercised (a broadcast would hide it at this dimension size).
    QueryDef(
      "q48_salted_join",
      """SELECT s_nationkey, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_nationkey""".stripMargin) { (s, dir) =>
      val salts = 8
      val l = t(s, dir, "lineitem")
        .withColumn("salt", pmod(col("l_orderkey") + col("l_linenumber"), lit(salts)))
      val sup = t(s, dir, "supplier")
        .withColumn("salt", explode(array((0 until salts).map(lit): _*)))
      l.hint("shuffle_hash")
        .join(sup, l("l_suppkey") === sup("s_suppkey") && l("salt") === sup("salt"))
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_items"), dsum(col("l_extendedprice")).as("revenue"))
    },

    // ---- Semi-structured extraction: parse the JSON props column with a
    // declared schema (from_json → typed struct, codegen'd) and aggregate
    // the extracted field. The scan stays columnar and the parse is one
    // map-side projection — at 100 TB the schema declaration is what
    // keeps this a single pass (schema inference would need its own scan).
    QueryDef(
      "q53_json_extract",
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        |  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type""".stripMargin) { (s, dir) =>
      t(s, dir, "events")
        .withColumn("k",
          from_json(col("props"),
            org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
            .getField("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
             min(col("k")).as("min_k"), max(col("k")).as("max_k"))
    },

    // ---- Pattern scrubbing: the text-normalization pass every corpus
    // pipeline runs (strip numbers / ids / PII-shaped spans before dedup
    // and tokenization). Pure map-side regexp_replace (codegen'd), zero
    // shuffle except the verification aggregate.
    QueryDef(
      "q57_text_scrub",
      """SELECT scrubbed, COUNT(*) AS n,
        |  CAST(SUM(length(props)) AS BIGINT) AS total_raw_len
        |FROM (
        |  SELECT props, regexp_replace(props, '[0-9]+', '#', 'g') AS scrubbed
        |  FROM events)
        |GROUP BY scrubbed""".stripMargin) { (s, dir) =>
      t(s, dir, "events")
        .withColumn("scrubbed", regexp_replace(col("props"), "[0-9]+", "#"))
        .groupBy(col("scrubbed"))
        .agg(count(lit(1)).as("n"),
             sum(length(col("props"))).cast("bigint").as("total_raw_len"))
    },

    // ---- Histogram / binning: fixed-width buckets as one map-side
    // projection + one shuffle on the (tiny) bucket set — the scalable
    // shape for distribution profiling (no sort, no per-row window).
    QueryDef(
      "q58_histogram",
      """SELECT event_type, CAST(floor(value / 10) AS BIGINT) AS bucket,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events GROUP BY event_type, bucket""".stripMargin) { (s, dir) =>
      t(s, dir, "events")
        .withColumn("bucket", floor(col("value") / 10).cast("bigint"))
        .groupBy(col("event_type"), col("bucket"))
        .agg(count(lit(1)).as("n"),
             sum(dec2(col("value"))).cast("double").as("total"))
    },

    // ---- Argmax via struct max: top customer per nation WITHOUT a
    // window — max(struct(orderCol, payload)) is an ordinary aggregate, so
    // it partial-aggregates map-side and never sorts a partition. For k=1
    // this beats the row_number window (which must shuffle + sort every
    // group); the oracle is the window formulation, proving equivalence.
    QueryDef(
      "q59_argmax",
      """SELECT c_nationkey, c_custkey AS top_custkey, c_acctbal AS top_acctbal
        |FROM (
        |  SELECT c_nationkey, c_custkey, c_acctbal, row_number() OVER (
        |    PARTITION BY c_nationkey
        |    ORDER BY c_acctbal DESC, c_custkey DESC) AS rn
        |  FROM customer) WHERE rn = 1""".stripMargin) { (s, dir) =>
      t(s, dir, "customer")
        .groupBy(col("c_nationkey"))
        .agg(max(struct(col("c_acctbal"), col("c_custkey"))).as("m"))
        .select(col("c_nationkey"),
          col("m.c_custkey").as("top_custkey"),
          col("m.c_acctbal").as("top_acctbal"))
    },

    // ---- Bucketed co-located join: both sides written bucketed+sorted on
    // the join key, so the sort-merge join runs with ZERO exchanges — the
    // technique that makes repeated fact-fact joins affordable at 100 TB
    // (pay the shuffle once at write time, never again). merge hint pins
    // the SMJ so the bucket layout is actually exercised; PlanSpec asserts
    // the no-Exchange plan, this gate asserts result parity with DuckDB.
    QueryDef(
      "q55_bucketed_join",
      """SELECT c_nationkey, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_nationkey""".stripMargin) { (s, dir) =>
      val tag = java.util.UUID.randomUUID().toString.take(8)
      val whPath = java.nio.file.Files.createTempDirectory("graft_q55")
      registerTmpDir(whPath)
      val wh = whPath.toString
      def bucketize(name: String, key: String): String = {
        val table = s"${name}_b_$tag"
        t(s, dir, name).write
          .bucketBy(8, key).sortBy(key)
          .option("path", s"$wh/$table")
          .mode("overwrite").saveAsTable(table)
        table
      }
      val ob = s.table(bucketize("orders", "o_custkey"))
      val cb = s.table(bucketize("customer", "c_custkey"))
      ob.join(cb.hint("merge"), ob("o_custkey") === cb("c_custkey"))
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total_price"))
    },

    // ---- TF-IDF: top-5 scoring terms per document. Three scale-shaped
    // stages: tf = agg on (doc, term) — shuffle ∝ distinct pairs; df = agg
    // on term — shuffle ∝ |vocab|, broadcast back (vocab ≪ corpus); then a
    // per-doc window for top-k. Integer tf/df feed ln(N/df), so the score
    // is bit-identical across engines (rounded 1e-6 like all float gates).
    // n_docs is computed in-plan (1-row count aggregate, broadcast
    // cross-join — the oracle's CROSS JOIN n shape) rather than a
    // driver-side count() action, so the whole query is one job and the
    // count scan is a zero-column parquet metadata read.
    QueryDef(
      "q56_tfidf",
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS term
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, term, COUNT(*) AS tf FROM toks
        |  WHERE term <> '' GROUP BY doc_id, term),
        |df AS (
        |  SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term,
        |    round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
        |  FROM tf JOIN df USING (term) CROSS JOIN n)
        |SELECT doc_id, term, tfidf, rank FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
        |  FROM scored)
        |WHERE rank <= 5""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val nDocs = docs.agg(count(lit(1)).cast("double").as("n_docs"))
      val toks = docs
        .select(col("doc_id"),
          explode(split(lower(col("text")), "[^a-z]+")).as("term"))
        .filter(col("term") =!= "")
      val tf = toks.groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("tfidf").desc, col("term"))
      tf.join(broadcast(df), "term")
        .crossJoin(broadcast(nDocs))
        .withColumn("tfidf",
          round(col("tf") * log(col("n_docs") / col("df")), 6))
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= 5)
        .select(col("doc_id"), col("term"), col("tfidf"), col("rank"))
    },

    // ---- Bloom-filtered semi-join: the 100 TB pattern for "keep fact rows
    // whose key appears in a filtered dimension" without shuffling the fact
    // side's non-matches. Build a bloom filter over the qualifying keys
    // (bloom_filter_agg — one tiny aggregate), broadcast it, prune the big
    // side map-side with might_contain, THEN verify with the exact semi
    // join. The bloom pass is pure candidate pruning (false positives
    // allowed), so the result equals the plain semi join and the oracle
    // holds — candidates-then-verify, like the dedup family. Spark's AQE
    // injects the same shape automatically for some joins; this gate keeps
    // the explicit technique pinned.
    QueryDef(
      "q63_bloom_semi_join",
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE c_custkey IN (
        |  SELECT o_custkey FROM orders WHERE o_totalprice > 300000)""".stripMargin) { (s, dir) =>
      graft.GraftExtensions.register(s) // bloom_filter_agg / might_contain
      val hot = t(s, dir, "orders")
        .filter(col("o_totalprice") > 300000)
        .select(col("o_custkey"))
      hot.createOrReplaceTempView("q63_hot")
      t(s, dir, "customer").createOrReplaceTempView("q63_cust")
      // might_contain requires the filter as a scalar subquery (or
      // constant): the 1-row aggregate is computed once and broadcast as
      // a value — the same plan shape Spark's runtime-filter injection
      // produces
      val pruned = s.sql(
        """SELECT c_custkey, c_name, c_mktsegment FROM q63_cust
          |WHERE might_contain(
          |  (SELECT bloom_filter_agg(xxhash64(o_custkey), 100000L, 1048576L)
          |   FROM q63_hot),
          |  xxhash64(c_custkey))""".stripMargin)
      pruned
        .join(hot.distinct(), col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
    },

    // ---- Unpivot (melt): wide metric columns → long (metric, value) rows,
    // then per-group stats. Map-side row expansion (a Generate/Expand node,
    // no shuffle until the aggregate); decimal sums keep the means exact
    // under any partitioning.
    QueryDef(
      "q64_unpivot",
      """SELECT l_returnflag, metric,
        |  round(CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) / COUNT(v), 6) AS avg_v
        |FROM (
        |  SELECT l_returnflag, 'quantity' AS metric, l_quantity AS v FROM lineitem
        |  UNION ALL
        |  SELECT l_returnflag, 'extendedprice', l_extendedprice FROM lineitem
        |  UNION ALL
        |  SELECT l_returnflag, 'discount', l_discount FROM lineitem)
        |GROUP BY l_returnflag, metric""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .unpivot(
          Array(col("l_returnflag")),
          Array(col("l_quantity").as("quantity"),
            col("l_extendedprice").as("extendedprice"),
            col("l_discount").as("discount")),
          "metric", "v")
        .groupBy(col("l_returnflag"), col("metric"))
        .agg(round(dsum(col("v")) / count(col("v")), 6).as("avg_v"))
    },

    // ---- Deterministic train/val/test split: hash-bucket each document
    // into 100 buckets via md5 (engine-portable — Spark's conv(hex) and
    // DuckDB's '0x' cast agree bit-for-bit on the same 15-hex-char
    // prefix), then 80/10/10 by bucket range. The reproducibility
    // contract every training pipeline needs: assignment depends only on
    // the key, never on partitioning, sampling order, or engine. Pure
    // map-side, no shuffle; 15 hex chars = 60 bits, safely inside BIGINT
    // in both engines.
    QueryDef(
      "q66_split_assign",
      """SELECT doc_id,
        |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |    % 100 AS bucket,
        |  CASE
        |    WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |      % 100 < 80 THEN 'train'
        |    WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |      % 100 < 90 THEN 'val'
        |    ELSE 'test'
        |  END AS split
        |FROM documents""".stripMargin) { (s, dir) =>
      val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 15),
        16, 10).cast("bigint") % 100
      t(s, dir, "documents")
        .select(col("doc_id"), bucket.as("bucket"),
          when(bucket < 80, "train").when(bucket < 90, "val")
            .otherwise("test").as("split"))
    },

    // ---- Corpus top-terms: tokenize → explode → count → top-k. The
    // map-side-combine partial agg keeps the shuffle at |vocab| not |tokens|,
    // and TakeOrderedAndProject caps the sort at k rows per partition.
    QueryDef(
      "q49_top_terms",
      """SELECT term, COUNT(*) AS n FROM (
        |  SELECT unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS term
        |  FROM documents)
        |WHERE term <> '' GROUP BY term ORDER BY n DESC, term LIMIT 20""".stripMargin) { (s, dir) =>
      t(s, dir, "documents")
        .select(explode(split(lower(col("text")), "[^a-z]+")).as("term"))
        .filter(col("term") =!= "")
        .groupBy(col("term"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("term"))
        .limit(20)
    },

    // ---- BM25 document scoring — the lexical-retrieval complement to
    // the ANN family (q34/q35/q46/q82): Lucene-form BM25 (k1=1.2, b=0.75,
    // idf = ln((N-df+0.5)/(df+0.5)+1) so common terms never go negative)
    // of every document against a query derived IN-PLAN (top-3 terms by
    // document frequency, deterministic tiebreak — self-contained, no
    // fixture vocabulary). Shapes: tf agg ∝ (doc,term) pairs; doc-length
    // frame is a partial-aggregatable doc_id rollup of tf (corpus
    // tokenized once); df ∝ vocab; the 3-term query frame broadcasts, so
    // the scoring join prunes tf to ≤3 rows/doc before touching the
    // length frame; N/avgdl ride a 1-row cross-join. Exactness: tf/df/dl
    // are integers, avgdl and each term score are identical IEEE
    // expression trees on both engines, each score quantized to
    // DECIMAL(28,12) before the per-doc sum (q78's trick) so the ranking
    // key is exact and partition-order-independent; top-20 is
    // TakeOrderedAndProject.
    QueryDef(
      "q112_bm25",
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS term
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM toks
        |  WHERE term <> '' GROUP BY 1, 2),
        |d AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
        |c AS (SELECT count(*) AS n_docs,
        |  CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM d),
        |dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |q AS (SELECT term, df FROM dfr ORDER BY df DESC, term LIMIT 3),
        |sc AS (
        |  SELECT tf.doc_id,
        |    CAST(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) *
        |      (tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)))
        |      AS DECIMAL(28,12)) AS s
        |  FROM tf JOIN q USING (term) JOIN d USING (doc_id) CROSS JOIN c)
        |SELECT doc_id, count(*) AS n_terms,
        |  round(CAST(sum(s) AS DOUBLE), 6) AS bm25
        |FROM sc GROUP BY doc_id
        |ORDER BY sum(s) DESC, doc_id LIMIT 20""".stripMargin) { (s, dir) =>
      val toks = t(s, dir, "documents")
        .select(col("doc_id"),
          explode(split(lower(col("text")), "[^a-z]+")).as("term"))
        .filter(col("term") =!= "")
      val tf = toks.groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val d = tf.groupBy(col("doc_id"))
        .agg(sum(col("tf")).cast("bigint").as("dl"))
      val consts = d.agg(count(lit(1)).as("n_docs"),
        (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
      val dfr = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val q = dfr.orderBy(col("df").desc, col("term")).limit(3)
      val score =
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
          (col("tf") * 2.2 /
            (col("tf") +
              lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
      tf.join(broadcast(q), "term")
        .join(d, "doc_id")
        .crossJoin(broadcast(consts))
        .select(col("doc_id"), score.cast("decimal(28,12)").as("s"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_terms"), sum(col("s")).as("ssum"))
        .orderBy(col("ssum").desc, col("doc_id"))
        .limit(20)
        .select(col("doc_id"), col("n_terms"),
          round(col("ssum").cast("double"), 6).as("bm25"))
    },

    // ---- Per-key sequence analysis via lag/first_value: inter-event
    // gaps per user (avg/max) plus the user's first event type — the
    // funnel/latency shape. One shuffle on user_id, then the lag and the
    // aggregation ride the same partitioning (Catalyst collapses the
    // window sort and the hash agg onto one exchange). Gap math in integer
    // milliseconds end-to-end: sums stay < 2^53 so the double average is
    // exact and partition-order-independent.
    QueryDef(
      "q79_event_gaps",
      """WITH e AS (
        |  SELECT user_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS tms,
        |    event_id, event_type
        |  FROM events),
        |g AS (
        |  SELECT user_id, event_id,
        |    tms - lag(tms) OVER (PARTITION BY user_id ORDER BY tms, event_id)
        |      AS gap_ms,
        |    first_value(event_type) OVER (
        |      PARTITION BY user_id ORDER BY tms, event_id) AS first_type
        |  FROM e)
        |SELECT user_id, count(*) AS n_events, count(gap_ms) AS n_gaps,
        |  round(avg(gap_ms), 6) AS avg_gap_ms, max(gap_ms) AS max_gap_ms,
        |  min(first_type) AS first_type
        |FROM g GROUP BY user_id""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("tms"), col("event_id"))
      t(s, dir, "events")
        .select(col("user_id"), unix_millis(col("ts")).as("tms"),
          col("event_id"), col("event_type"))
        .withColumn("gap_ms", col("tms") - lag(col("tms"), 1).over(w))
        .withColumn("first_type", first(col("event_type")).over(w))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          count(col("gap_ms")).as("n_gaps"),
          round(avg(col("gap_ms")), 6).as("avg_gap_ms"),
          max(col("gap_ms")).as("max_gap_ms"),
          min(col("first_type")).as("first_type"))
    },

    // ---- Batch sessionization: gap-based session assignment — q23's
    // streaming session window recomputed over data at rest (the backfill
    // / reprocessing path every production sessionizer needs next to its
    // streaming one). A session breaks when >30 min separates consecutive
    // events of a user: lag marks boundaries, a running sum over the same
    // (user_id; tms, event_id) order numbers the sessions, and the
    // per-session rollup groups on the same key — so the lag window, the
    // cumulative sum, and the final aggregation all collapse onto ONE
    // user_id exchange and one sort (PlanSpec pins it). Gap math in
    // integer milliseconds (engine-exact); output ∝ sessions, never
    // events. Per-user state at 100 TB is one prior row — no skew risk
    // beyond a single user's history, which range-partitions evenly.
    QueryDef(
      "q110_sessionize",
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS tms
        |  FROM events),
        |f AS (
        |  SELECT user_id, event_id, tms,
        |    CASE WHEN lag(tms) OVER
        |        (PARTITION BY user_id ORDER BY tms, event_id) IS NULL
        |      OR tms - lag(tms) OVER
        |        (PARTITION BY user_id ORDER BY tms, event_id) > 1800000
        |      THEN 1 ELSE 0 END AS new_sess
        |  FROM e),
        |g AS (
        |  SELECT user_id, tms,
        |    CAST(sum(new_sess) OVER (PARTITION BY user_id
        |      ORDER BY tms, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |      AS sess_no
        |  FROM f)
        |SELECT user_id, sess_no, count(*) AS n_events,
        |  min(tms) AS start_ms, max(tms) AS end_ms,
        |  max(tms) - min(tms) AS dur_ms
        |FROM g GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("tms"), col("event_id"))
      val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val prev = lag(col("tms"), 1).over(w)
      t(s, dir, "events")
        .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("tms"))
        .withColumn("new_sess",
          when(prev.isNull || col("tms") - prev > 1800000L, 1).otherwise(0))
        .withColumn("sess_no", sum(col("new_sess")).over(cum))
        .groupBy(col("user_id"), col("sess_no"))
        .agg(count(lit(1)).as("n_events"),
          min(col("tms")).as("start_ms"),
          max(col("tms")).as("end_ms"),
          (max(col("tms")) - min(col("tms"))).as("dur_ms"))
    },

    // ---- Robust outlier detection: median/MAD (median absolute
    // deviation) per group — the outlier rule that, unlike mean/stddev,
    // isn't dragged by the outliers it's hunting. Two exact-percentile
    // aggregations over the group key plus one broadcast join back; the
    // per-group medians frame is |groups|-sized, so both joins broadcast
    // and the fact side never shuffles except for the two group aggs.
    // At 100 TB swap percentile() for approx_percentile(..., 0.5, 10k) —
    // MAD thresholding tolerates sketch error by construction — which
    // makes both aggs partial+final and spill-free.
    QueryDef(
      "q80_mad_outliers",
      """WITH m AS (
        |  SELECT o_orderpriority, median(o_totalprice) AS med
        |  FROM orders GROUP BY 1),
        |d AS (
        |  SELECT o.o_orderpriority, abs(o.o_totalprice - m.med) AS adev, m.med
        |  FROM orders o JOIN m USING (o_orderpriority)),
        |s AS (SELECT o_orderpriority, median(adev) AS mad FROM d GROUP BY 1)
        |SELECT d.o_orderpriority, count(*) AS n_total,
        |  CAST(sum(CASE WHEN d.adev > 1.8 * s.mad THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_outliers,
        |  round(min(d.med), 6) AS med, round(s.mad, 6) AS mad
        |FROM d JOIN s USING (o_orderpriority)
        |GROUP BY d.o_orderpriority, s.mad""".stripMargin) { (s, dir) =>
      val orders = t(s, dir, "orders")
        .select(col("o_orderpriority"), col("o_totalprice"))
      val med = orders.groupBy(col("o_orderpriority"))
        .agg(percentile(col("o_totalprice"), lit(0.5)).as("med"))
      val dev = orders.join(broadcast(med), "o_orderpriority")
        .withColumn("adev", abs(col("o_totalprice") - col("med")))
      val mad = dev.groupBy(col("o_orderpriority"))
        .agg(percentile(col("adev"), lit(0.5)).as("mad"))
      dev.join(broadcast(mad), "o_orderpriority")
        .groupBy(col("o_orderpriority"), col("mad"))
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("adev") > col("mad") * 1.8, 1L).otherwise(0L))
            .as("n_outliers"),
          round(min(col("med")), 6).as("med"))
        .select(col("o_orderpriority"), col("n_total"), col("n_outliers"),
          col("med"), round(col("mad"), 6).as("mad"))
    },

    // ---- Range-partitioned data layout: rewrite lineitem ordered by
    // l_shipdate (repartitionByRange + sortWithinPartitions), then answer
    // a date-range question from the re-laid-out copy. This is the
    // sort-for-pruning step a 100 TB pipeline runs once so that every
    // later time-windowed scan reads only the row groups whose min/max
    // straddle the window — the filter below prunes at the parquet footer
    // level because the layout made l_shipdate ranges disjoint across
    // files. The oracle answers from the original table: correctness of
    // the rewrite is exactly "the copy answers like the original".
    QueryDef(
      "q81_range_layout",
      """SELECT date_trunc('month', l_shipdate) AS month,
        |  count(*) AS n, round(sum(l_quantity), 6) AS sum_qty
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        |  AND l_shipdate < TIMESTAMP '1995-07-01'
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      // Per-invocation unique dir: a shared path keyed on hashCode(dir)
      // could collide across dataset dirs, and two concurrent runs on the
      // same dir would race the eager overwrite against the lazy read
      // (which happens at collect time). Cleaned up on JVM exit so tmpdir
      // stays bounded across bench passes.
      val layoutDir = java.nio.file.Files.createTempDirectory("graft_layout_")
      val base = layoutDir.toString
      registerTmpDir(layoutDir)
      t(s, dir, "lineitem")
        .repartitionByRange(16, col("l_shipdate"))
        .sortWithinPartitions(col("l_shipdate"))
        .write.mode("overwrite").parquet(base)
      MetaParquet.scan(s, base)
        .where(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1995-07-01").cast("timestamp"))
        .groupBy(date_trunc("month", col("l_shipdate")).as("month"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity")), 6).as("sum_qty"))
    },

    // ---- Z-order (Morton) data layout: multi-column clustering — the
    // Delta/Iceberg OPTIMIZE ZORDER analog, extending q81's 1-D range
    // layout to 2-D. Interleave the low 8 bits of two bucketed keys into
    // a 16-bit Morton code, range-partition + sort the rewrite on it, and
    // answer a two-column BOX query from the copy. Because z-sorted data
    // clusters BOTH columns, parquet footer min/max stats on each data
    // column become selective at once — a 1-D sort can only ever prune on
    // its own column. The interleave is unrolled pure-integer arithmetic
    // ((k div 2^i) % 2 terms), so the rewrite is exact and the oracle
    // simply answers the same box from the original table — correctness
    // of the layout pass is "the copy answers like the original". At
    // 100 TB this is a one-off rewrite amortized over every later
    // multi-dimension scan; the z-value is a narrow derived column
    // dropped after the write.
    QueryDef(
      "q108_zorder_layout",
      """SELECT l_returnflag, count(*) AS n, round(sum(l_quantity), 6) AS sum_qty
        |FROM lineitem
        |WHERE l_partkey >= 16 AND l_partkey < 112
        |  AND l_suppkey >= 2 AND l_suppkey < 7
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      // MONOTONE range buckets (DIV, not modulo): bucketing must preserve
      // raw-value ranges or clustering the z-value would not cluster the
      // data columns — and then neither footer min/max stats nor the
      // pushed range predicates could skip anything. 8 bits per dimension
      // (≤157/≤125 buckets at sf0.1); corpora with wider key ranges scale
      // the divisors, the interleave is unchanged.
      val zExpr = (0 until 8).map { i =>
        s"((l_partkey DIV 128) DIV ${1 << i}) % 2 * ${1L << (2 * i)}" +
          s" + ((l_suppkey DIV 8) DIV ${1 << i}) % 2 * ${1L << (2 * i + 1)}"
      }.mkString(" + ")
      val layoutDir = java.nio.file.Files.createTempDirectory("graft_zorder_")
      registerTmpDir(layoutDir)
      t(s, dir, "lineitem")
        .withColumn("__z", expr(zExpr))
        .repartitionByRange(16, col("__z"))
        .sortWithinPartitions(col("__z"))
        .drop("__z")
        .write.mode("overwrite").parquet(layoutDir.toString)
      MetaParquet.scan(s, layoutDir.toString)
        .where(col("l_partkey") >= 16 && col("l_partkey") < 112 &&
          col("l_suppkey") >= 2 && col("l_suppkey") < 7)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity")), 6).as("sum_qty"))
    },

    // ---- Weighted PageRank over the token co-occurrence graph: the
    // iterative-propagation operator family beyond q47's connected
    // components — per-edge weights, damping, and an exactly-mirrored
    // oracle (the DuckDB side unrolls the same 3 iterations as CTEs, so
    // every rank hash-matches; per-edge contributions are quantized to
    // DECIMAL(28,12) before the per-node sum, making each iteration
    // partition-order-independent). Shapes: the edge list is built once
    // and localCheckpoint'd (q47's lineage-flattening), each iteration is
    // one join + one partial+final agg shuffled by node, and node count N
    // rides a broadcast 1-row count cross-join (q56's in-plan shape) rather
    // than a driver-side count action. At 100 TB: ranks and edges shuffle on the
    // same node key every round, so co-partitioning persists across
    // iterations; rounds are fixed (3), not data-dependent.
    QueryDef(
      "q83_token_pagerank", {
        def it(k: Int) =
          s"""pr$k AS (
             |  SELECT n.node, 0.15 / nn.n + 0.85 * CAST(COALESCE(s.m, 0) AS DOUBLE) AS rank
             |  FROM nodes n CROSS JOIN nn
             |  LEFT JOIN (
             |    SELECT e.dst AS node,
             |      SUM(CAST(p.rank * e.w / e.outw AS DECIMAL(28,12))) AS m
             |    FROM pr${k - 1} p JOIN edges e ON e.src = p.node
             |    GROUP BY e.dst) s USING (node))""".stripMargin
        s"""WITH t AS (
           |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
           |  FROM documents),
           |g AS (
           |  SELECT unnest([ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]) AS gram
           |  FROM t WHERE len(ws) >= 2),
           |edges0 AS (
           |  SELECT split_part(gram, ' ', 1) AS src, split_part(gram, ' ', 2) AS dst,
           |    count(*) AS w
           |  FROM g GROUP BY 1, 2),
           |outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS outw FROM edges0 GROUP BY 1),
           |edges AS (SELECT e.src, e.dst, e.w, o.outw FROM edges0 e JOIN outw o USING (src)),
           |nodes AS (
           |  SELECT DISTINCT node FROM (
           |    SELECT src AS node FROM edges0 UNION ALL SELECT dst FROM edges0)),
           |nn AS (SELECT count(*) AS n FROM nodes),
           |pr0 AS (SELECT node, CAST(1.0 AS DOUBLE) / nn.n AS rank FROM nodes, nn),
           |${it(1)},
           |${it(2)},
           |${it(3)}
           |SELECT node, round(rank, 6) AS rank FROM pr3""".stripMargin
      }) { (s, dir) =>
      import graft.functions.Text
      val grams = t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select(Text.tokens(col("text")).as("ws"))
        .where(size(col("ws")) >= 2)
        .select(explode(expr(
          """transform(sequence(0, size(ws) - 2),
            |  i -> concat(element_at(ws, i + 1), ' ', element_at(ws, i + 2)))
            |""".stripMargin)).as("gram"))
      // edge list with out-weights: built once, lineage cut so the
      // iterations below never re-tokenize the corpus
      val edges = grams
        .groupBy(split_part(col("gram"), lit(" "), lit(1)).as("src"),
          split_part(col("gram"), lit(" "), lit(2)).as("dst"))
        .agg(count(lit(1)).as("w"))
        .withColumn("outw", sum(col("w")).over(Window.partitionBy(col("src"))))
        .localCheckpoint(true)
      // node frame with total count N attached via a broadcast 1-row count
      // aggregate (q56's in-plan shape) — an unpartitioned window here would
      // drag the whole vocab to a single task
      val ids = edges.select(col("src").as("node"))
        .union(edges.select(col("dst")))
        .distinct()
        .localCheckpoint(true)
      val nodes = ids.crossJoin(ids.agg(count(lit(1)).as("n")))
        .localCheckpoint(true)
      var pr = nodes.select(col("node"), (lit(1.0) / col("n")).as("rank"))
      for (_ <- 1 to 3) {
        // rank columns renamed to be disjoint from edges' so the join works
        // by unqualified name — dataset-qualified refs (edges("src")) would
        // turn ambiguous once pr's lineage contains edges (iteration 2+)
        val contrib = pr.withColumnRenamed("node", "p_node")
          .join(edges, col("p_node") === col("src"))
          .select(col("dst").as("node"),
            (col("rank") * col("w") / col("outw"))
              .cast("decimal(28,12)").as("m"))
          .groupBy(col("node")).agg(sum(col("m")).as("m"))
        pr = nodes.join(contrib, Seq("node"), "left")
          .select(col("node"),
            (lit(0.15) / col("n") +
              lit(0.85) * coalesce(col("m"), lit(0).cast("decimal(28,12)"))
                .cast("double")).as("rank"))
      }
      pr.select(col("node"), round(col("rank"), 6).as("rank"))
    },

    // ---- Trailing-window rolling features: per-user moving average/max
    // over the last 5 events — the feature-engineering shape (trailing
    // aggregates feeding a model). One shuffle on user_id; the ROWS frame
    // is bounded, so window state is O(frame), never O(partition).
    // Exactness: values quantized to DECIMAL(18,6) before the sliding sum
    // (decimal add/remove is exact, so Spark's sliding-frame updates equal
    // DuckDB's per-row evaluation); max/count are order-independent.
    QueryDef(
      "q84_rolling_features",
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS tms,
        |    CAST(value AS DECIMAL(18,6)) AS v, value
        |  FROM events)
        |SELECT user_id, event_id,
        |  round(CAST(sum(v) OVER w AS DOUBLE) / (count(*) OVER w), 6) AS avg5,
        |  max(value) OVER w AS max5,
        |  count(*) OVER w AS n5
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY tms, event_id
        |  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("tms"), col("event_id"))
        .rowsBetween(-4, Window.currentRow)
      t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          unix_millis(col("ts")).as("tms"),
          col("value").cast("decimal(18,6)").as("v"), col("value"))
        .select(col("user_id"), col("event_id"),
          round(sum(col("v")).over(w).cast("double")
            / count(lit(1)).over(w), 6).as("avg5"),
          max(col("value")).over(w).as("max5"),
          count(lit(1)).over(w).as("n5"))
    },

    // ---- MERGE / upsert compaction: apply a CDC-style change set (updates,
    // deletes-as-tombstones, inserts) onto a base table in ONE shuffle.
    // Changes are derived deterministically from orders itself (key % 5 = 0
    // → price-doubling update, % 7 = 3 → delete, % 13 = 1 → insert under a
    // shifted key) so the oracle can build the identical change set. The
    // plan is the scale-correct CDC-compaction shape: union base (ver 0) +
    // changes (ver 1/2), then per-key latest-wins via max(struct(ver, …)) —
    // a partial-aggregatable reduce, NOT a row_number window and NOT an
    // anti-join sandwich, so map-side combine collapses most keys before
    // the single key shuffle. Deletes win over same-key updates (ver 2 > 1).
    // Prices ride DECIMAL(18,2) so the doubled values are exact on both
    // engines.
    QueryDef(
      "q86_merge_upsert",
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_custkey, o_orderstatus,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS price, 0 AS ver, 'B' AS op
        |  FROM orders),
        |u AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 2 AS DECIMAL(18,2)),
        |    1, 'U'
        |  FROM orders WHERE o_orderkey % 5 = 0),
        |d AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |    CAST(o_totalprice AS DECIMAL(18,2)), 2, 'D'
        |  FROM orders WHERE o_orderkey % 7 = 3),
        |i AS (
        |  SELECT o_orderkey + 100000000, o_custkey, o_orderstatus,
        |    CAST(o_totalprice AS DECIMAL(18,2)), 1, 'I'
        |  FROM orders WHERE o_orderkey % 13 = 1),
        |allr AS (
        |  SELECT * FROM base UNION ALL SELECT * FROM u
        |  UNION ALL SELECT * FROM d UNION ALL SELECT * FROM i),
        |latest AS (
        |  SELECT * FROM allr
        |  QUALIFY row_number() OVER (PARTITION BY k ORDER BY ver DESC) = 1)
        |SELECT k AS o_orderkey, o_custkey, o_orderstatus,
        |  CAST(price AS DOUBLE) AS price
        |FROM latest WHERE op <> 'D'""".stripMargin) { (s, dir) =>
      val o = t(s, dir, "orders")
      def rows(pred: org.apache.spark.sql.Column, keyShift: Long,
               price: org.apache.spark.sql.Column, ver: Int, op: String) =
        o.where(pred).select(
          (col("o_orderkey") + keyShift).as("k"), col("o_custkey"),
          col("o_orderstatus"), price.cast("decimal(18,2)").as("price"),
          lit(ver).as("ver"), lit(op).as("op"))
      val base = rows(lit(true), 0L, dec2(col("o_totalprice")), 0, "B")
      val upd = rows(col("o_orderkey") % 5 === 0, 0L,
        dec2(col("o_totalprice")) * 2, 1, "U")
      val del = rows(col("o_orderkey") % 7 === 3, 0L,
        dec2(col("o_totalprice")), 2, "D")
      val ins = rows(col("o_orderkey") % 13 === 1, 100000000L,
        dec2(col("o_totalprice")), 1, "I")
      base.unionByName(upd).unionByName(del).unionByName(ins)
        .groupBy(col("k"))
        .agg(max(struct(col("ver"), col("op"), col("o_custkey"),
          col("o_orderstatus"), col("price"))).as("m"))
        .where(col("m.op") =!= "D")
        .select(col("k").as("o_orderkey"),
          col("m.o_custkey").as("o_custkey"),
          col("m.o_orderstatus").as("o_orderstatus"),
          col("m.price").cast("double").as("price"))
    },

    // ---- Incremental aggregate maintenance (materialized-view delta
    // update): keep a per-custkey (n_orders, total_price) aggregate
    // current under q86's CDC change set WITHOUT re-aggregating the
    // corpus — the retract/apply algebra every incremental engine
    // (Materialize, Delta MV, Flink) runs on: resolve each changed key's
    // final op (q86's max(struct) reduce over the CHANGES only, ∝
    // |changes|), emit −1/−price for every replaced or deleted base row
    // and +1/+price for every surviving new row, then fold the signed
    // deltas into the old aggregate with one partial-aggregatable union
    // agg. The oracle recomputes the aggregate from scratch over the
    // merged live set, so the gate proves the delta algebra — including
    // the U-then-D overlap keys (k ≡ 10 mod 35) where the retraction must
    // fire exactly once and the application not at all. Exact DECIMAL
    // sums make retraction lossless (float retraction drifts). At 100 TB
    // old_agg is the stored view (built here only to keep the gate
    // self-contained); incremental cost ∝ |changes| + |touched keys|:
    // the changed-key frame broadcasts into a semi join that prunes the
    // base-side retract scan, and both aggs partial-aggregate, so
    // nothing corpus-sized shuffles on refresh.
    QueryDef(
      "q114_incremental_agg",
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_custkey,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS price, 0 AS ver, 'B' AS op
        |  FROM orders),
        |u AS (
        |  SELECT o_orderkey, o_custkey,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 2 AS DECIMAL(18,2)),
        |    1, 'U'
        |  FROM orders WHERE o_orderkey % 5 = 0),
        |d AS (
        |  SELECT o_orderkey, o_custkey,
        |    CAST(o_totalprice AS DECIMAL(18,2)), 2, 'D'
        |  FROM orders WHERE o_orderkey % 7 = 3),
        |i AS (
        |  SELECT o_orderkey + 100000000, o_custkey,
        |    CAST(o_totalprice AS DECIMAL(18,2)), 1, 'I'
        |  FROM orders WHERE o_orderkey % 13 = 1),
        |allr AS (
        |  SELECT * FROM base UNION ALL SELECT * FROM u
        |  UNION ALL SELECT * FROM d UNION ALL SELECT * FROM i),
        |latest AS (
        |  SELECT * FROM allr
        |  QUALIFY row_number() OVER (PARTITION BY k ORDER BY ver DESC) = 1)
        |SELECT o_custkey, count(*) AS n_orders,
        |  CAST(sum(price) AS DOUBLE) AS total_price
        |FROM latest WHERE op <> 'D' GROUP BY 1""".stripMargin) { (s, dir) =>
      val o = t(s, dir, "orders")
      val base = o.select(col("o_orderkey").as("k"), col("o_custkey"),
        dec2(col("o_totalprice")).as("price"))
      def change(pred: org.apache.spark.sql.Column, keyShift: Long,
          price: org.apache.spark.sql.Column, ver: Int, op: String) =
        o.where(pred).select(
          (col("o_orderkey") + keyShift).as("k"), col("o_custkey"),
          price.cast("decimal(18,2)").as("price"),
          lit(ver).as("ver"), lit(op).as("op"))
      val changes = change(col("o_orderkey") % 5 === 0, 0L,
          dec2(col("o_totalprice")) * 2, 1, "U")
        .unionByName(change(col("o_orderkey") % 7 === 3, 0L,
          dec2(col("o_totalprice")), 2, "D"))
        .unionByName(change(col("o_orderkey") % 13 === 1, 100000000L,
          dec2(col("o_totalprice")), 1, "I"))
      // per-key final op over the CHANGES only — ∝ |changes|, never base
      val finalOp = changes.groupBy(col("k"))
        .agg(max(struct(col("ver"), col("op"), col("o_custkey"),
          col("price"))).as("m"))
      // retract every base row whose key the change set touched (insert
      // keys simply don't match); broadcast semi join prunes the scan
      val retract = base
        .join(broadcast(finalOp.select(col("k"))), Seq("k"), "left_semi")
        .select(col("o_custkey"), lit(-1L).as("dn"),
          (-col("price")).as("ds"))
      val applied = finalOp.where(col("m.op") =!= "D")
        .select(col("m.o_custkey").as("o_custkey"), lit(1L).as("dn"),
          col("m.price").as("ds"))
      val oldAgg = base.groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("dn"), sum(col("price")).as("ds"))
      oldAgg.unionByName(retract).unionByName(applied)
        .groupBy(col("o_custkey"))
        .agg(sum(col("dn")).as("n_orders"),
          sum(col("ds")).as("ts"))
        .where(col("n_orders") > 0)
        .select(col("o_custkey"), col("n_orders"),
          col("ts").cast("double").as("total_price"))
    },

    // ---- Heavy-hitter key profiler: the skew diagnostic you run BEFORE
    // choosing a join strategy at 100 TB — top-20 join keys by frequency
    // with their share of all rows. One corpus scan: the total rides a
    // 1-row sum over the (|keys|-sized) count frame, broadcast back via
    // cross join; top-k is TakeOrderedAndProject (k rows per partition →
    // k global, no global sort). Exact here; at 100 TB the same question
    // is usually answered from a 1% sample or a count-min sketch — the
    // exact plan stays cheap because shuffle volume is |distinct keys|.
    QueryDef(
      "q87_heavy_hitters",
      """WITH c AS (SELECT l_suppkey, count(*) AS cnt FROM lineitem GROUP BY 1),
        |n AS (SELECT sum(cnt) AS total FROM c)
        |SELECT l_suppkey, cnt, round(CAST(cnt AS DOUBLE) / total, 6) AS share
        |FROM c CROSS JOIN n
        |ORDER BY cnt DESC, l_suppkey LIMIT 20""".stripMargin) { (s, dir) =>
      val counts = t(s, dir, "lineitem")
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("cnt"))
      counts.crossJoin(counts.agg(sum(col("cnt")).as("total")))
        .select(col("l_suppkey"), col("cnt"),
          round(col("cnt").cast("double") / col("total"), 6).as("share"))
        .orderBy(col("cnt").desc, col("l_suppkey"))
        .limit(20)
    },

    // ---- Count-min sketch frequency estimation: the sketch q87's notes
    // promise for when even |distinct keys| is too hot. d=4 hash rows ×
    // w=64 counters; the hash family is the engine-portable md5 trick
    // (q69), so DuckDB rebuilds every counter bit-for-bit and the gate is
    // hash-exact — including the over-estimates that w=64 forces on ~1k
    // custkeys (the sketch's one-sided error is part of the contract
    // being verified, est_cnt >= true_cnt always). Shapes: one
    // partial-aggregatable key shuffle builds the count frame; the
    // 256-cell counter frame aggregates that |keys|-sized frame (never
    // the corpus) and broadcasts back for the min-over-rows estimate;
    // the report is TakeOrderedAndProject. At 100 TB the truth frame
    // disappears — that's the point of the sketch: counters fold straight
    // off the stream map-side into d×w cells (map-side combine reduces
    // every partition to ≤256 rows before the exchange), and point
    // lookups touch 256 rows instead of a corpus-sized count frame.
    QueryDef(
      "q109_count_min_sketch",
      """WITH truth AS (
        |  SELECT o_custkey, count(*) AS true_cnt FROM orders GROUP BY 1),
        |h AS (
        |  SELECT o_custkey, true_cnt, r,
        |    CAST(('0x' || substr(md5(CAST(r AS VARCHAR) || ':' ||
        |      CAST(o_custkey AS VARCHAR)), 1, 8)) AS BIGINT) % 64 AS b
        |  FROM truth CROSS JOIN (VALUES (0), (1), (2), (3)) AS rows(r)),
        |cells AS (SELECT r, b, sum(true_cnt) AS cnt FROM h GROUP BY 1, 2),
        |est AS (
        |  SELECT h.o_custkey, h.true_cnt,
        |    CAST(min(c.cnt) AS BIGINT) AS est_cnt
        |  FROM h JOIN cells c USING (r, b) GROUP BY 1, 2)
        |SELECT o_custkey, true_cnt, est_cnt FROM est
        |ORDER BY true_cnt DESC, o_custkey LIMIT 20""".stripMargin) { (s, dir) =>
      val truth = t(s, dir, "orders")
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("true_cnt"))
      val h = truth
        .select(col("o_custkey"), col("true_cnt"),
          explode(array((0 until 4).map(lit(_)): _*)).as("r"))
        .withColumn("b",
          conv(substring(md5(concat(col("r").cast("string"), lit(":"),
            col("o_custkey").cast("string"))), 1, 8), 16, 10)
            .cast("bigint") % 64)
      val cells = h.groupBy(col("r"), col("b"))
        .agg(sum(col("true_cnt")).as("cnt"))
      h.join(broadcast(cells), Seq("r", "b"))
        .groupBy(col("o_custkey"), col("true_cnt"))
        .agg(min(col("cnt")).cast("bigint").as("est_cnt"))
        .orderBy(col("true_cnt").desc, col("o_custkey"))
        .limit(20)
    },

    // ---- KMV (k-minimum-values) distinct-count sketch — the
    // theta-sketch family estimator, q62's approx_count_distinct rebuilt
    // from primitives the oracle can replay: hash every key with the
    // 52-bit md5 trick (q66/q69), keep the k=32 smallest DISTINCT hash
    // values, and estimate n ≈ (k-1)/u_k where u_k is the k-th smallest
    // hash normalized to (0,1). Every step is integer-exact and the final
    // divide is one IEEE op on identical inputs, floored — so unlike
    // q62's engine-internal HLL this sketch gate is hash-exact
    // cross-engine, error and all. Shapes: one partial-aggregatable
    // distinct-hash shuffle (∝ |keys|); the k smallest ride
    // TakeOrderedAndProject (k rows per partition → k global); the
    // estimate is a 1-row cross-join of three 1-row frames. At 100 TB
    // per-partition "32 smallest distinct" states merge associatively
    // (that IS the theta sketch), so the |keys| frame never materializes
    // in the production variant; if n ≤ k the sketch is exact by
    // construction, which the small-SF branch exercises.
    QueryDef(
      "q111_kmv_distinct",
      """WITH h AS (
        |  SELECT DISTINCT CAST(('0x' ||
        |    substr(md5(CAST(o_custkey AS VARCHAR)), 1, 13)) AS BIGINT) AS hv
        |  FROM orders),
        |k AS (SELECT hv FROM h ORDER BY hv LIMIT 32),
        |s AS (SELECT max(hv) AS hk FROM k),
        |n AS (SELECT count(*) AS n_h FROM h),
        |x AS (SELECT count(DISTINCT o_custkey) AS exact_nd FROM orders)
        |SELECT exact_nd,
        |  CASE WHEN n_h <= 32 THEN n_h
        |    ELSE CAST(floor(CAST(31 AS DOUBLE) * 4503599627370496 / hk)
        |      AS BIGINT)
        |  END AS kmv_est
        |FROM x CROSS JOIN n CROSS JOIN s""".stripMargin) { (s, dir) =>
      val orders = t(s, dir, "orders").select(col("o_custkey"))
      val h = orders
        .select(conv(substring(md5(col("o_custkey").cast("string")), 1, 13),
          16, 10).cast("bigint").as("hv"))
        .distinct()
      val sF = h.orderBy(col("hv")).limit(32).agg(max(col("hv")).as("hk"))
      val nF = h.agg(count(lit(1)).as("n_h"))
      val xF = orders.agg(countDistinct(col("o_custkey")).as("exact_nd"))
      xF.crossJoin(nF).crossJoin(sF)
        .select(col("exact_nd"),
          when(col("n_h") <= 32, col("n_h"))
            .otherwise(floor(lit(31.0) * lit(4503599627370496.0) / col("hk"))
              .cast("bigint"))
            .as("kmv_est"))
    },

    // ---- Theta-sketch MERGE: the associativity proof behind q111's
    // 100 TB claim, run as a query. Per-group (event_type) KMV sketches
    // of distinct event ids — DISJOINT sets, so the group sketches share
    // no hashes and the merge is non-trivial — are merged (k smallest
    // distinct of the union of the group sketches), and the merged
    // estimate must EQUAL the
    // directly-computed global sketch's: every hash among the global k
    // smallest is among its own group's k smallest, so merge-of-sketches
    // = sketch-of-union exactly (not approximately). That identity is
    // what lets per-partition sketch states fold map-side at 100 TB, and
    // here it's cross-engine-checked: the gate emits per-group exact
    // counts + sketch estimates alongside est_merged and est_direct, and
    // the oracle replays the md5 arithmetic bit-for-bit — so a driver
    // hash match proves both the sketch math and the merge identity.
    // Every estimate uses the stored-sketch-only convention (row count +
    // k-th hash; no raw-set knowledge), i.e. the production read path.
    // Group sketches are one window over the distinct (type, user) frame
    // — a single event_type shuffle; all post-sketch frames are ≤ 3k
    // rows, 1-row estimate frames combine by broadcast.
    QueryDef(
      "q119_theta_merge",
      """WITH h AS (
        |  SELECT DISTINCT event_type, CAST(('0x' ||
        |    substr(md5(CAST(event_id AS VARCHAR)), 1, 13)) AS BIGINT) AS hv
        |  FROM events),
        |grp AS (
        |  SELECT event_type, hv FROM (
        |    SELECT event_type, hv,
        |      row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
        |    FROM h) WHERE rn <= 32),
        |pg AS (SELECT event_type, count(*) AS n_k, max(hv) AS hk
        |  FROM grp GROUP BY 1),
        |xg AS (SELECT event_type, count(*) AS exact_g FROM h GROUP BY 1),
        |eg AS (SELECT event_type, exact_g,
        |  CASE WHEN n_k < 32 THEN n_k
        |    ELSE CAST(floor(CAST(31 AS DOUBLE) * 4503599627370496 / hk)
        |      AS BIGINT) END AS kmv_g
        |  FROM xg JOIN pg USING (event_type)),
        |mgs AS (SELECT hv FROM (SELECT DISTINCT hv FROM grp)
        |  ORDER BY hv LIMIT 32),
        |mg AS (SELECT count(*) AS n_k, max(hv) AS hk FROM mgs),
        |em AS (SELECT CASE WHEN n_k < 32 THEN n_k
        |  ELSE CAST(floor(CAST(31 AS DOUBLE) * 4503599627370496 / hk)
        |    AS BIGINT) END AS est_merged FROM mg),
        |dgs AS (SELECT hv FROM (SELECT DISTINCT hv FROM h)
        |  ORDER BY hv LIMIT 32),
        |dg AS (SELECT count(*) AS n_k, max(hv) AS hk FROM dgs),
        |ed AS (SELECT CASE WHEN n_k < 32 THEN n_k
        |  ELSE CAST(floor(CAST(31 AS DOUBLE) * 4503599627370496 / hk)
        |    AS BIGINT) END AS est_direct FROM dg)
        |SELECT event_type, exact_g, kmv_g, est_merged, est_direct
        |FROM eg CROSS JOIN em CROSS JOIN ed""".stripMargin) { (s, dir) =>
      def estOf(sketch: DataFrame, name: String): DataFrame = sketch
        .agg(count(lit(1)).as("n_k"), max(col("hv")).as("hk"))
        .select(when(col("n_k") < 32, col("n_k"))
          .otherwise(floor(lit(31.0) * lit(4503599627370496.0) / col("hk"))
            .cast("bigint")).as(name))
      val h = t(s, dir, "events")
        .select(col("event_type"),
          conv(substring(md5(col("event_id").cast("string")), 1, 13), 16, 10)
            .cast("bigint").as("hv"))
        .distinct()
      val wG = Window.partitionBy(col("event_type")).orderBy(col("hv"))
      // the stored artifact: k smallest per group, materialized
      val grp = h.withColumn("rn", row_number().over(wG))
        .where(col("rn") <= 32).select(col("event_type"), col("hv"))
        .localCheckpoint()
      val pg = grp.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_k"), max(col("hv")).as("hk"))
      val xg = h.groupBy(col("event_type")).agg(count(lit(1)).as("exact_g"))
      val eg = xg.join(pg, "event_type")
        .select(col("event_type"), col("exact_g"),
          when(col("n_k") < 32, col("n_k"))
            .otherwise(floor(lit(31.0) * lit(4503599627370496.0) / col("hk"))
              .cast("bigint")).as("kmv_g"))
      val merged = grp.select(col("hv")).distinct()
        .orderBy(col("hv")).limit(32)
      val direct = h.select(col("hv")).distinct()
        .orderBy(col("hv")).limit(32)
      eg.crossJoin(broadcast(estOf(merged, "est_merged")))
        .crossJoin(broadcast(estOf(direct, "est_direct")))
    },

    // ---- Theta-sketch set intersection: estimate the distinct-key
    // overlap of two sets from their KMV sketches alone — the
    // audience-overlap / join-key-overlap question at 100 TB, where the
    // raw sets are petabytes but each sketch is k hashes. Extends q111's
    // KMV machinery to set algebra: θ = least of the two sketches'
    // k-th-smallest thresholds (2^52, i.e. "everything", for a non-full
    // sketch — which makes the estimate collapse to EXACT when both sets
    // fit in k, the branch the small SF exercises), the intersection
    // sample is {h ∈ skA ∩ skB : h < θ}, and est = |S| / θ_norm. Every
    // step is the engine-portable md5/integer arithmetic, so DuckDB
    // replays the sketch bit-for-bit — estimation error included — and
    // the exact intersection rides alongside for reference. The sketches
    // are localCheckpointed: in production they're the STORED artifact
    // (32 longs per set) and overlap queries never touch the raw data —
    // here the barrier equally stops pushdown from dragging the θ/join
    // predicates back into the per-set scans. All post-sketch frames are
    // ≤k rows; the two distinct-hash aggs are the only key shuffles.
    QueryDef(
      "q115_theta_intersection",
      """WITH a AS (
        |  SELECT DISTINCT o_custkey FROM orders
        |  WHERE o_orderpriority = '1-URGENT'),
        |b AS (
        |  SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > 150000),
        |ah AS (
        |  SELECT DISTINCT CAST(('0x' ||
        |    substr(md5(CAST(o_custkey AS VARCHAR)), 1, 13)) AS BIGINT) AS hv
        |  FROM a),
        |bh AS (
        |  SELECT DISTINCT CAST(('0x' ||
        |    substr(md5(CAST(o_custkey AS VARCHAR)), 1, 13)) AS BIGINT) AS hv
        |  FROM b),
        |ska AS (SELECT hv FROM ah ORDER BY hv LIMIT 32),
        |skb AS (SELECT hv FROM bh ORDER BY hv LIMIT 32),
        |ta AS (SELECT CASE WHEN count(*) < 32 THEN 4503599627370496
        |  ELSE max(hv) END AS tha FROM ska),
        |tb AS (SELECT CASE WHEN count(*) < 32 THEN 4503599627370496
        |  ELSE max(hv) END AS thb FROM skb),
        |th AS (SELECT least(tha, thb) AS theta FROM ta CROSS JOIN tb),
        |inter AS (
        |  SELECT count(*) AS cnt
        |  FROM ska JOIN skb USING (hv) CROSS JOIN th WHERE hv < theta),
        |x AS (SELECT count(*) AS exact_common FROM
        |  (SELECT o_custkey FROM a INTERSECT SELECT o_custkey FROM b))
        |SELECT exact_common,
        |  CAST(floor(CAST(cnt AS DOUBLE) * 4503599627370496 / theta)
        |    AS BIGINT) AS theta_est
        |FROM x CROSS JOIN inter CROSS JOIN th""".stripMargin) { (s, dir) =>
      val orders = t(s, dir, "orders")
      def hv(df: DataFrame) = df
        .select(conv(substring(md5(col("o_custkey").cast("string")), 1, 13),
          16, 10).cast("bigint").as("hv"))
        .distinct()
      val aKeys = orders.where(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey")).distinct()
      val bKeys = orders.where(col("o_totalprice") > 150000)
        .select(col("o_custkey")).distinct()
      val ska = hv(aKeys).orderBy(col("hv")).limit(32).localCheckpoint()
      val skb = hv(bKeys).orderBy(col("hv")).limit(32).localCheckpoint()
      def theta(sk: DataFrame, name: String) = sk.agg(
        when(count(lit(1)) < 32, lit(4503599627370496L))
          .otherwise(max(col("hv"))).as(name))
      val th = theta(ska, "tha").crossJoin(theta(skb, "thb"))
        .select(least(col("tha"), col("thb")).as("theta"))
      val inter = ska.join(skb, "hv").crossJoin(th)
        .where(col("hv") < col("theta"))
        .agg(count(lit(1)).as("cnt"))
      val exact = aKeys.intersect(bKeys)
        .agg(count(lit(1)).as("exact_common"))
      exact.crossJoin(inter).crossJoin(th)
        .select(col("exact_common"),
          floor(col("cnt").cast("double") * lit(4503599627370496L)
            / col("theta")).cast("bigint").as("theta_est"))
    },

    // ---- Hybrid retrieval via reciprocal-rank fusion: the serving-side
    // complement to the BM25 (q112) and ANN (q34/q35/q46/q82) families —
    // production retrieval is almost always BOTH, fused. "More-like-this"
    // shape: document 0 is the query; its top-3 tf terms drive a BM25
    // ranking and its embedding drives a cosine ranking over the corpus,
    // each cut to a top-100 list (TakeOrderedAndProject), then
    // RRF(d) = Σ_lists 1/(60+rank_d) fuses them. Ranks are INTEGERS from
    // exact sort keys (DECIMAL bm25, round-6 cosine, doc_id tiebreaks), so
    // the fused score is the same two IEEE divisions + one add on both
    // engines — bit-identical — and the floor-scaled micro-score sidesteps
    // round-on-double divergence (q93's lesson: identical input bits make
    // floor deterministic; differing round() algorithms do not). Fusion is
    // a union + partial-aggregatable groupBy over the two ≤100-row lists —
    // no outer join, metadata-sized; at scale the lists are per-query
    // top-k frames and the whole fusion stays broadcast-sized while the
    // corpus is touched only by the upstream scans.
    QueryDef(
      "q116_hybrid_rrf",
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS term
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM toks
        |  WHERE term <> '' GROUP BY 1, 2),
        |d AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
        |c AS (SELECT count(*) AS n_docs,
        |  CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM d),
        |dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |q AS (SELECT term FROM tf WHERE doc_id = 0
        |  ORDER BY tf DESC, term LIMIT 3),
        |sc AS (
        |  SELECT tf.doc_id,
        |    CAST(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) *
        |      (tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)))
        |      AS DECIMAL(28,12)) AS s
        |  FROM tf JOIN q USING (term) JOIN dfr USING (term)
        |    JOIN d USING (doc_id) CROSS JOIN c
        |  WHERE tf.doc_id <> 0),
        |bm AS (SELECT doc_id, sum(s) AS bm25 FROM sc GROUP BY 1),
        |lex AS (SELECT doc_id,
        |    row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r_lex
        |  FROM (SELECT * FROM bm ORDER BY bm25 DESC, doc_id LIMIT 100)),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT vec_id, v,
        |  sqrt(list_reduce(list_prepend(0.0, [x*x for x in v]), (a,b) -> a+b))
        |    AS nrm
        |  FROM e),
        |qv AS (SELECT v, nrm FROM n WHERE vec_id = 0),
        |cs AS (SELECT n.vec_id AS doc_id,
        |  round(list_reduce(list_prepend(0.0,
        |      [qv.v[i] * n.v[i] for i in range(1, len(qv.v)+1)]), (a,b) -> a+b)
        |    / (qv.nrm * n.nrm), 6) AS cosine
        |  FROM n CROSS JOIN qv WHERE n.vec_id <> 0),
        |vec AS (SELECT doc_id,
        |    row_number() OVER (ORDER BY cosine DESC, doc_id) AS r_vec
        |  FROM (SELECT * FROM cs ORDER BY cosine DESC, doc_id LIMIT 100)),
        |u AS (
        |  SELECT doc_id, r_lex, CAST(NULL AS INTEGER) AS r_vec,
        |    CAST(1 AS DOUBLE) / (60 + r_lex) AS contrib FROM lex
        |  UNION ALL
        |  SELECT doc_id, CAST(NULL AS INTEGER), r_vec,
        |    CAST(1 AS DOUBLE) / (60 + r_vec) FROM vec),
        |f AS (SELECT doc_id, max(r_lex) AS r_lex, max(r_vec) AS r_vec,
        |  sum(contrib) AS rrf FROM u GROUP BY doc_id)
        |SELECT doc_id, r_lex, r_vec,
        |  CAST(floor(rrf * CAST(1000000 AS DOUBLE)) AS BIGINT) AS rrf_micro
        |FROM f ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin) { (s, dir) =>
      import graft.functions.Vectors.{dot, l2norm}
      val toks = t(s, dir, "documents")
        .select(col("doc_id"),
          explode(split(lower(col("text")), "[^a-z]+")).as("term"))
        .filter(col("term") =!= "")
      val tf = toks.groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val d = tf.groupBy(col("doc_id"))
        .agg(sum(col("tf")).cast("bigint").as("dl"))
      val consts = d.agg(count(lit(1)).as("n_docs"),
        (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
      val dfr = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val q = tf.where(col("doc_id") === 0)
        .orderBy(col("tf").desc, col("term")).limit(3).select(col("term"))
      // df joined onto the 3-term query frame FIRST (3-row result), so the
      // |vocab|-sized df frame never broadcasts — only the query does
      val qdf = broadcast(dfr.join(broadcast(q), "term"))
      val score =
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
          (col("tf") * 2.2 /
            (col("tf") +
              lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
      val bm = tf.where(col("doc_id") =!= 0)
        .join(qdf, "term")
        .join(d, "doc_id")
        .crossJoin(broadcast(consts))
        .select(col("doc_id"), score.cast("decimal(28,12)").as("s"))
        .groupBy(col("doc_id")).agg(sum(col("s")).as("bm25"))
      val lex = bm.orderBy(col("bm25").desc, col("doc_id")).limit(100)
        .withColumn("r_lex",
          row_number().over(Window.orderBy(col("bm25").desc, col("doc_id"))))
        .select(col("doc_id"), col("r_lex"))
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .withColumn("nrm", l2norm(col("v")))
      val qv = e.where(col("vec_id") === 0)
        .select(col("v").as("qvec"), col("nrm").as("qnrm"))
      val cs = e.where(col("vec_id") =!= 0).crossJoin(broadcast(qv))
        .select(col("vec_id").as("doc_id"),
          round(dot(col("qvec"), col("v")) / (col("qnrm") * col("nrm")), 6)
            .as("cosine"))
      val vec = cs.orderBy(col("cosine").desc, col("doc_id")).limit(100)
        .withColumn("r_vec",
          row_number().over(Window.orderBy(col("cosine").desc, col("doc_id"))))
        .select(col("doc_id"), col("r_vec"))
      val u = lex
        .select(col("doc_id"), col("r_lex"),
          lit(null).cast("int").as("r_vec"),
          (lit(1.0) / (col("r_lex") + 60)).as("contrib"))
        .unionByName(vec.select(col("doc_id"),
          lit(null).cast("int").as("r_lex"), col("r_vec"),
          (lit(1.0) / (col("r_vec") + 60)).as("contrib")))
      u.groupBy(col("doc_id"))
        .agg(max(col("r_lex")).as("r_lex"), max(col("r_vec")).as("r_vec"),
          sum(col("contrib")).as("rrf"))
        .orderBy(col("rrf").desc, col("doc_id")).limit(20)
        .select(col("doc_id"), col("r_lex"), col("r_vec"),
          floor(col("rrf") * 1000000).cast("bigint").as("rrf_micro"))
    },

    // ---- Corpus-drift detection: smoothed KL divergence between two
    // sources' term distributions — the mixture-monitoring pass a training
    // pipeline runs when a new crawl lands ("did src1's language shift
    // against src0's?"). Add-one smoothing over the joint vocab keeps
    // every term's contribution finite; counts are exact integers, the
    // per-term contribution p_a·ln(p_a/p_b) is the same IEEE expression
    // tree on both engines over those integers, and it's DECIMAL(28,12)-
    // quantized before the corpus-wide sum so the total is partition-
    // order-proof (q78's trick). Output: top-20 terms over-represented in
    // src0 (exact sort key) with the exact total KL alongside. Shapes:
    // tokenization is map-side, the term-count agg is the only corpus
    // shuffle (partial agg bounds it by distinct terms per partition),
    // the totals are 1-row broadcast frames, top-20 is
    // TakeOrderedAndProject. At 100 TB every post-tokenize frame is
    // vocab-bounded, and the same plan monitors any pair of slices.
    QueryDef(
      "q117_source_kl",
      """WITH toks AS (
        |  SELECT source,
        |    unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS term
        |  FROM documents WHERE source IN ('src0', 'src1')),
        |tc AS (
        |  SELECT term,
        |    CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS c_a,
        |    CAST(sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS c_b
        |  FROM toks WHERE term <> '' GROUP BY term),
        |tot AS (SELECT CAST(sum(c_a) AS DOUBLE) AS n_a,
        |  CAST(sum(c_b) AS DOUBLE) AS n_b,
        |  CAST(count(*) AS DOUBLE) AS v FROM tc),
        |kl AS (
        |  SELECT term, c_a, c_b,
        |    CAST(((c_a + 1) / (n_a + v)) *
        |      ln(((c_a + 1) / (n_a + v)) / ((c_b + 1) / (n_b + v)))
        |      AS DECIMAL(28,12)) AS contrib_q
        |  FROM tc CROSS JOIN tot),
        |t2 AS (SELECT CAST(sum(contrib_q) AS DOUBLE) AS total_kl FROM kl)
        |SELECT term, c_a, c_b, CAST(contrib_q AS DOUBLE) AS contrib, total_kl
        |FROM kl CROSS JOIN t2
        |ORDER BY contrib DESC, term LIMIT 20""".stripMargin) { (s, dir) =>
      val toks = t(s, dir, "documents")
        .where(col("source").isin("src0", "src1"))
        .select(col("source"),
          explode(split(lower(col("text")), "[^a-z]+")).as("term"))
        .filter(col("term") =!= "")
      val tc = toks.groupBy(col("term")).agg(
        sum(when(col("source") === "src0", 1).otherwise(0)).cast("bigint")
          .as("c_a"),
        sum(when(col("source") === "src1", 1).otherwise(0)).cast("bigint")
          .as("c_b"))
      val tot = tc.agg(sum(col("c_a")).cast("double").as("n_a"),
        sum(col("c_b")).cast("double").as("n_b"),
        count(lit(1)).cast("double").as("v"))
      val pa = (col("c_a") + 1) / (col("n_a") + col("v"))
      val pb = (col("c_b") + 1) / (col("n_b") + col("v"))
      val kl = tc.crossJoin(broadcast(tot))
        .select(col("term"), col("c_a"), col("c_b"),
          (pa * log(pa / pb)).cast("decimal(28,12)").as("contrib_q"))
      val t2 = kl.agg(sum(col("contrib_q")).cast("double").as("total_kl"))
      kl.crossJoin(broadcast(t2))
        .withColumn("contrib", col("contrib_q").cast("double"))
        .orderBy(col("contrib").desc, col("term")).limit(20)
        .select(col("term"), col("c_a"), col("c_b"), col("contrib"),
          col("total_kl"))
    },

    // ---- Quantile-bucket assignment: decile of document length within
    // each language — the curation primitive behind "keep the top-N% by
    // quality per stratum". ntile is deterministic given a total order, so
    // doc_id breaks length ties identically on both engines. One shuffle
    // on lang. At 100 TB a single giant stratum makes the per-stratum sort
    // the bottleneck; the documented swap is two-pass: approx_percentile
    // cut points per stratum (fixed-size sketch), broadcast, then map-side
    // bucket assignment — no sort at all, at the cost of sketch-boundary
    // error.
    QueryDef(
      "q88_decile_binning",
      """SELECT doc_id, lang,
        |  ntile(10) OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS decile
        |FROM documents""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("n_chars"), col("doc_id"))
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), ntile(10).over(w).as("decile"))
    },

    // ---- Funnel analysis: how far does each user get through the ordered
    // view → click → purchase sequence (each stage's event must be at or
    // after the previous stage's first qualifying event)? Output is users
    // per furthest-stage-reached. Three conditional-min aggregations, each
    // shuffled on user_id — co-partitioned, so after the first exchange
    // the later joins/aggs reuse the partitioning; per-user state is one
    // timestamp per stage, never the user's event list. The stage joins
    // join |users|-sized frames, not the event stream.
    QueryDef(
      "q90_funnel",
      """WITH e AS (
        |  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |s1 AS (
        |  SELECT user_id, min(ts) AS t1 FROM e WHERE event_type = 'view'
        |  GROUP BY 1),
        |s2 AS (
        |  SELECT e.user_id, min(e.ts) AS t2
        |  FROM e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts >= s1.t1 GROUP BY 1),
        |s3 AS (
        |  SELECT e.user_id, min(e.ts) AS t3
        |  FROM e JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts >= s2.t2 GROUP BY 1)
        |SELECT CASE WHEN t3 IS NOT NULL THEN 3
        |            WHEN t2 IS NOT NULL THEN 2 ELSE 1 END AS stage,
        |  count(*) AS users
        |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val e = t(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("ts"))
      val s1 = e.where(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("ts")).as("t1"))
      val s2 = e.where(col("event_type") === "click")
        .join(s1, "user_id").where(col("ts") >= col("t1"))
        .groupBy("user_id").agg(min(col("ts")).as("t2"))
      val s3 = e.where(col("event_type") === "purchase")
        .join(s2, "user_id").where(col("ts") >= col("t2"))
        .groupBy("user_id").agg(min(col("ts")).as("t3"))
      s1.join(s2, Seq("user_id"), "left").join(s3, Seq("user_id"), "left")
        .select(when(col("t3").isNotNull, 3)
          .when(col("t2").isNotNull, 2).otherwise(1).as("stage"))
        .groupBy("stage").agg(count(lit(1)).as("users"))
    },

    // ---- Cohort retention: users grouped by the week of their first
    // event, counted per weeks-since-cohort of later activity — the
    // engagement matrix every analytics stack computes. Two aggs and one
    // join, all shuffled on user_id (the first-event frame is |users|-
    // sized and joins back onto the event stream map-side after its own
    // shuffle); the final (cohort, week) agg is partial+final with
    // count(DISTINCT user_id) expanded by Catalyst into a two-level exact
    // distinct agg. Week arithmetic is date-boundary-based on both
    // engines (Monday-start ISO weeks).
    QueryDef(
      "q91_cohort_retention",
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |f AS (SELECT user_id, min(ts) AS t0 FROM e GROUP BY 1)
        |SELECT CAST(date_trunc('week', f.t0) AS DATE) AS cohort_week,
        |  CAST(floor(date_diff('day', CAST(f.t0 AS DATE), CAST(e.ts AS DATE))
        |    / 7) AS BIGINT) AS week_offset,
        |  count(DISTINCT e.user_id) AS users
        |FROM e JOIN f USING (user_id)
        |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val e = t(s, dir, "events").select(col("user_id"), col("ts"))
      val first = e.groupBy("user_id").agg(min(col("ts")).as("t0"))
      e.join(first, "user_id")
        .select(
          date_trunc("week", col("t0")).cast("date").as("cohort_week"),
          floor(datediff(col("ts"), col("t0")) / 7).as("week_offset"),
          col("user_id"))
        .groupBy("cohort_week", "week_offset")
        .agg(countDistinct(col("user_id")).as("users"))
    },

    // ---- Join-cardinality estimation: the planner diagnostic you run
    // BEFORE a fact-fact join at 100 TB — |A ⋈ B| on the key equals
    // Σ_k cnt_A(k)·cnt_B(k), computed exactly from the two per-key count
    // frames. Both count aggs are partial+final (shuffle ∝ distinct keys,
    // not rows); the final join is between |keys|-sized frames, orders of
    // magnitude smaller than the fact tables. This exact form is what a
    // CBO approximates with histograms; it also surfaces the skew
    // contribution (max single-key product) that decides salting.
    QueryDef(
      "q94_join_cardinality",
      """WITH a AS (SELECT l_orderkey AS k, count(*) AS ca
        |  FROM lineitem GROUP BY 1),
        |b AS (SELECT o_orderkey AS k, count(*) AS cb FROM orders GROUP BY 1)
        |SELECT CAST(sum(ca * cb) AS BIGINT) AS est_rows,
        |  count(*) AS n_keys,
        |  CAST(max(ca * cb) AS BIGINT) AS max_key_rows
        |FROM a JOIN b USING (k)""".stripMargin) { (s, dir) =>
      val a = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey").as("k")).agg(count(lit(1)).as("ca"))
      val b = t(s, dir, "orders")
        .groupBy(col("o_orderkey").as("k")).agg(count(lit(1)).as("cb"))
      a.join(b, "k")
        .agg(sum(col("ca") * col("cb")).as("est_rows"),
          count(lit(1)).as("n_keys"),
          max(col("ca") * col("cb")).as("max_key_rows"))
    },

    // ---- Single-pass table profiler: null count, exact distinct count,
    // and numeric min/max for every column of `orders` in ONE scan — the
    // ANALYZE/data-quality primitive. The multi-column exact distincts
    // expand (Catalyst Expand) into one fan-out pass with partial aggs;
    // at 100 TB you swap approx_count_distinct into the same plan and the
    // Expand disappears. Non-numeric min/max are reported as NULL
    // (cross-engine string/timestamp formatting is not hash-stable);
    // timestamps profile as epoch seconds.
    QueryDef(
      "q95_table_profile", {
        def row(c: String, minmax: String) =
          s"""SELECT '$c' AS col, count(*) - count($c) AS n_nulls,
             |  count(DISTINCT $c) AS n_distinct, $minmax
             |FROM orders""".stripMargin
        Seq(
          row("o_orderkey",
            "round(CAST(min(o_orderkey) AS DOUBLE), 6) AS min_v, " +
              "round(CAST(max(o_orderkey) AS DOUBLE), 6) AS max_v"),
          row("o_custkey",
            "round(CAST(min(o_custkey) AS DOUBLE), 6), " +
              "round(CAST(max(o_custkey) AS DOUBLE), 6)"),
          row("o_orderstatus",
            "CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)"),
          row("o_totalprice",
            "round(CAST(min(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 6), " +
              "round(CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 6)"),
          row("o_orderdate",
            "round(epoch(min(o_orderdate)), 6), round(epoch(max(o_orderdate)), 6)"),
          row("o_orderpriority",
            "CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)"),
        ).mkString("\nUNION ALL\n")
      }) { (s, dir) =>
      val o = t(s, dir, "orders")
      val dNull = lit(null).cast("double")
      case class P(name: String, minV: org.apache.spark.sql.Column,
                   maxV: org.apache.spark.sql.Column)
      val profiled = Seq(
        P("o_orderkey", round(min(col("o_orderkey")).cast("double"), 6),
          round(max(col("o_orderkey")).cast("double"), 6)),
        P("o_custkey", round(min(col("o_custkey")).cast("double"), 6),
          round(max(col("o_custkey")).cast("double"), 6)),
        P("o_orderstatus", dNull, dNull),
        P("o_totalprice", round(min(dec2(col("o_totalprice"))).cast("double"), 6),
          round(max(dec2(col("o_totalprice"))).cast("double"), 6)),
        P("o_orderdate", // NTZ → TZ cast is a no-op under the UTC session tz
          round(unix_micros(min(col("o_orderdate")).cast("timestamp"))
            .cast("double") / 1e6, 6),
          round(unix_micros(max(col("o_orderdate")).cast("timestamp"))
            .cast("double") / 1e6, 6)),
        P("o_orderpriority", dNull, dNull),
      )
      val aggs = profiled.flatMap { p =>
        Seq((count(lit(1)) - count(col(p.name))).as(s"nn_${p.name}"),
          countDistinct(col(p.name)).as(s"nd_${p.name}"),
          p.minV.as(s"mn_${p.name}"), p.maxV.as(s"mx_${p.name}"))
      }
      val one = o.agg(aggs.head, aggs.tail: _*)
      // unpivot the single stats row into (col, n_nulls, n_distinct, min, max)
      val stacked = profiled.map(p =>
        s"'${p.name}', nn_${p.name}, nd_${p.name}, mn_${p.name}, mx_${p.name}")
        .mkString(", ")
      one.select(expr(
        s"stack(${profiled.size}, $stacked) AS (col, n_nulls, n_distinct, min_v, max_v)"))
    },

    // ---- SCD Type-2 history build: turn a raw per-key change log into a
    // compressed versioned dimension (valid_from / valid_to intervals,
    // consecutive duplicates collapsed) — the warehouse primitive behind
    // every `*_history` table. Two window passes share ONE user_id
    // exchange+sort (the change filter preserves partitioning AND
    // ordering, so lag-compress and lead/valid_to pipeline in the same
    // stage — no second shuffle). valid_to IS NULL marks the current
    // version. At 100 TB this plan lands unchanged: window state is one
    // previous row per key, and the output is |versions|, already
    // key-partitioned for the downstream as-of lookup (q24's shape).
    QueryDef(
      "q96_scd2_history",
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_ms(CAST(ts AS TIMESTAMP)) AS tms,
        |    event_id
        |  FROM events),
        |c AS (
        |  SELECT *, lag(event_type) OVER (
        |    PARTITION BY user_id ORDER BY tms, event_id) AS prev_type
        |  FROM e),
        |ch AS (
        |  SELECT user_id, event_type, tms, event_id FROM c
        |  WHERE prev_type IS NULL OR prev_type <> event_type)
        |SELECT user_id, event_type, tms AS valid_from_ms,
        |  lead(tms) OVER (PARTITION BY user_id ORDER BY tms, event_id)
        |    AS valid_to_ms,
        |  row_number() OVER (PARTITION BY user_id ORDER BY tms, event_id)
        |    AS version
        |FROM ch""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("tms"), col("event_id"))
      t(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          unix_millis(col("ts")).as("tms"), col("event_id"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .where(col("prev_type").isNull ||
          col("prev_type") =!= col("event_type"))
        .select(col("user_id"), col("event_type"),
          col("tms").as("valid_from_ms"),
          lead(col("tms"), 1).over(w).as("valid_to_ms"),
          row_number().over(w).as("version"))
    },

    // ---- Snapshot diff → CDC changeset: compare two table snapshots and
    // emit the insert/update/delete records that turn old into new — the
    // inverse of q86's MERGE (the pair round-trips: q97(old, new) fed to
    // q86 reproduces new). One full-outer sort-merge join on the key;
    // unchanged rows (the overwhelming majority at 100 TB) are dropped
    // before anything downstream sees them. At scale both snapshots live
    // bucketed on the key (q55's layout) so the diff runs with zero
    // exchanges; the "new" side here is derived in-plan to keep the gate
    // self-contained.
    QueryDef(
      "q97_snapshot_diff",
      """WITH old AS (
        |  SELECT o_orderkey AS k,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS price
        |  FROM orders),
        |new AS (
        |  SELECT o_orderkey AS k,
        |    CAST(CASE WHEN o_orderkey % 5 = 0
        |      THEN CAST(o_totalprice AS DECIMAL(18,2)) * 2
        |      ELSE CAST(o_totalprice AS DECIMAL(18,2)) END
        |      AS DECIMAL(18,2)) AS price
        |  FROM orders WHERE o_orderkey % 7 <> 3
        |  UNION ALL
        |  SELECT o_orderkey + 100000000,
        |    CAST(o_totalprice AS DECIMAL(18,2))
        |  FROM orders WHERE o_orderkey % 13 = 1)
        |SELECT
        |  CASE WHEN old.k IS NULL THEN 'I'
        |       WHEN new.k IS NULL THEN 'D' ELSE 'U' END AS op,
        |  coalesce(old.k, new.k) AS o_orderkey,
        |  CAST(old.price AS DOUBLE) AS old_price,
        |  CAST(new.price AS DOUBLE) AS new_price
        |FROM old FULL OUTER JOIN new ON old.k = new.k
        |WHERE old.k IS NULL OR new.k IS NULL
        |   OR old.price <> new.price""".stripMargin) { (s, dir) =>
      val o = t(s, dir, "orders")
      val old = o.select(col("o_orderkey").as("k"),
        dec2(col("o_totalprice")).as("price"))
      val neu = o.where(col("o_orderkey") % 7 =!= 3)
        .select(col("o_orderkey").as("k"),
          when(col("o_orderkey") % 5 === 0, dec2(col("o_totalprice")) * 2)
            .otherwise(dec2(col("o_totalprice")))
            .cast("decimal(18,2)").as("price"))
        .unionByName(o.where(col("o_orderkey") % 13 === 1)
          .select((col("o_orderkey") + 100000000L).as("k"),
            dec2(col("o_totalprice")).as("price")))
      old.as("old").join(neu.as("new"), col("old.k") === col("new.k"),
          "full_outer")
        .where(col("old.k").isNull || col("new.k").isNull ||
          col("old.price") =!= col("new.price"))
        .select(
          when(col("old.k").isNull, "I")
            .when(col("new.k").isNull, "D").otherwise("U").as("op"),
          coalesce(col("old.k"), col("new.k")).as("o_orderkey"),
          col("old.price").cast("double").as("old_price"),
          col("new.price").cast("double").as("new_price"))
    },

    // ---- Small-file compaction planner: bin-pack a table's file/partition
    // inventory into target-sized output groups — the metadata pass every
    // lakehouse compactor (OPTIMIZE/rewrite_data_files) runs before moving
    // a byte of data. Stage 1 aggregates the inventory (here: rows per
    // ship-date, standing in for bytes per file); stage 2 assigns bins by
    // running-total division over the date-ordered inventory. The global
    // cumulative-sum window is single-partition BY DESIGN: it runs over
    // |files| metadata rows (thousands), never over data rows — the same
    // reason Iceberg plans compaction on the manifest, not the table.
    QueryDef(
      "q99_compaction_plan",
      """WITH files AS (
        |  SELECT l_shipdate AS f, count(*) AS rows_
        |  FROM lineitem GROUP BY 1),
        |planned AS (
        |  SELECT f, rows_,
        |    coalesce(sum(rows_) OVER (ORDER BY f
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 5000
        |      AS bin
        |  FROM files)
        |SELECT CAST(bin AS BIGINT) AS bin, count(*) AS n_files,
        |  CAST(sum(rows_) AS BIGINT) AS total_rows,
        |  min(f) AS from_date, max(f) AS to_date
        |FROM planned GROUP BY bin""".stripMargin) { (s, dir) =>
      val files = t(s, dir, "lineitem")
        .groupBy(col("l_shipdate").as("f")).agg(count(lit(1)).as("rows_"))
      val cum = Window.orderBy(col("f"))
        .rowsBetween(Window.unboundedPreceding, -1)
      files
        .withColumn("bin",
          floor(coalesce(sum(col("rows_")).over(cum), lit(0L)) / 5000)
            .cast("bigint"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_files"), sum(col("rows_")).as("total_rows"),
          min(col("f")).as("from_date"), max(col("f")).as("to_date"))
    },

    // ---- Per-group Pearson correlation, exact-moments form (q93's sibling
    // for the correlation matrix a feature store computes per key): six
    // DECIMAL moment sums — order-independent, partial-aggregatable, one
    // shuffle on the group key — then the closed form in doubles over
    // identical exact inputs on both engines. Built-in corr() is rejected
    // for the same reason as regr_slope (q93): its double accumulation is
    // partition-order-dependent, so results differ run to run at scale.
    QueryDef(
      "q101_group_corr",
      """WITH m AS (
        |  SELECT l_suppkey, count(*) AS n,
        |    sum(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
        |    sum(CAST(l_quantity AS DECIMAL(18,2)) *
        |        CAST(l_quantity AS DECIMAL(18,2))) AS sxx,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |        CAST(l_extendedprice AS DECIMAL(18,2))) AS syy,
        |    sum(CAST(l_quantity AS DECIMAL(18,2)) *
        |        CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy
        |  FROM lineitem GROUP BY 1)
        |SELECT l_suppkey, n,
        |  CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <= 0
        |       OR CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) <= 0 THEN NULL
        |    ELSE round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |       * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) END AS r
        |FROM m""".stripMargin) { (s, dir) =>
      val q = dec2(col("l_quantity"))
      val p = dec2(col("l_extendedprice"))
      val m = t(s, dir, "lineitem")
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n"),
          sum(q).as("sx"), sum(p).as("sy"),
          sum(q * q).as("sxx"), sum(p * p).as("syy"),
          sum(q * p).as("sxy"))
      val n = col("n").cast("double")
      def d(c: String) = col(c).cast("double")
      val vx = n * d("sxx") - d("sx") * d("sx")
      val vy = n * d("syy") - d("sy") * d("sy")
      m.select(col("l_suppkey"), col("n"),
        when(vx <= 0 || vy <= 0, lit(null).cast("double"))
          .otherwise(round(
            (n * d("sxy") - d("sx") * d("sy")) / (sqrt(vx) * sqrt(vy)), 6))
          .as("r"))
    },

    // ---- Categorical association: chi-square + Cramér's V over the
    // lang × source contingency table — the "are these two metadata
    // columns independent?" diagnostic run before stratifying or mixing
    // on them. One corpus scan builds the observed-cell frame; the
    // complete grid (including zero cells — proper chi-square) and the
    // row/col/total marginals are window sums over that |langs|×|sources|
    // frame, never the corpus. Per-cell terms are doubles (identical
    // correctly-rounded ops on both engines) quantized to DECIMAL(28,12)
    // before the final sum, so the reduction is order-independent — the
    // q78/q83 trick for making double math partition-proof.
    QueryDef(
      "q102_chi_square",
      """WITH cells AS (
        |  SELECT lang, source, count(*) AS o
        |  FROM documents GROUP BY 1, 2),
        |grid AS (
        |  SELECT l.lang, s.source, coalesce(c.o, 0) AS o
        |  FROM (SELECT DISTINCT lang FROM documents) l
        |  CROSS JOIN (SELECT DISTINCT source FROM documents) s
        |  LEFT JOIN cells c ON c.lang = l.lang AND c.source = s.source),
        |marg AS (
        |  SELECT lang, source, o,
        |    sum(o) OVER (PARTITION BY lang) AS r_i,
        |    sum(o) OVER (PARTITION BY source) AS c_j,
        |    sum(o) OVER () AS total
        |  FROM grid),
        |terms AS (
        |  SELECT lang, source, o, r_i, c_j, total,
        |    CAST((CAST(o AS DOUBLE)
        |        - CAST(r_i AS DOUBLE) * CAST(c_j AS DOUBLE)
        |          / CAST(total AS DOUBLE))
        |      * (CAST(o AS DOUBLE)
        |        - CAST(r_i AS DOUBLE) * CAST(c_j AS DOUBLE)
        |          / CAST(total AS DOUBLE))
        |      / (CAST(r_i AS DOUBLE) * CAST(c_j AS DOUBLE)
        |          / CAST(total AS DOUBLE)) AS DECIMAL(28,12)) AS term
        |  FROM marg)
        |SELECT round(CAST(sum(term) AS DOUBLE), 6) AS chi2,
        |  (count(DISTINCT lang) - 1) * (count(DISTINCT source) - 1) AS dof,
        |  round(sqrt(CAST(sum(term) AS DOUBLE) / (CAST(max(total) AS DOUBLE)
        |    * CAST(least(count(DISTINCT lang), count(DISTINCT source)) - 1
        |        AS DOUBLE))), 6) AS cramers_v
        |FROM terms""".stripMargin) { (s, dir) =>
      val d0 = t(s, dir, "documents")
      val cells = d0.groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("o"))
      val grid = d0.select(col("lang")).distinct()
        .crossJoin(d0.select(col("source")).distinct())
        .join(cells, Seq("lang", "source"), "left")
        .select(col("lang"), col("source"),
          coalesce(col("o"), lit(0L)).as("o"))
      val marg = grid
        .withColumn("r_i", sum(col("o")).over(Window.partitionBy("lang")))
        .withColumn("c_j", sum(col("o")).over(Window.partitionBy("source")))
        .withColumn("total", sum(col("o")).over(Window.partitionBy()))
      val e = col("r_i").cast("double") * col("c_j").cast("double") /
        col("total").cast("double")
      val term = ((col("o").cast("double") - e) * (col("o").cast("double") - e)
        / e).cast("decimal(28,12)")
      marg.select(col("lang"), col("source"), term.as("term"),
          col("total"))
        .agg(round(sum(col("term")).cast("double"), 6).as("chi2"),
          ((countDistinct(col("lang")) - 1) *
            (countDistinct(col("source")) - 1)).as("dof"),
          round(sqrt(sum(col("term")).cast("double") /
            (max(col("total")).cast("double") *
              (least(countDistinct(col("lang")),
                countDistinct(col("source"))) - 1).cast("double"))), 6)
            .as("cramers_v"))
    },

    // ---- Rolling 7-day distinct users per day (WAU) — THE engagement/
    // coverage metric shape, and the canonical "distinct over a sliding
    // window" problem: no window function computes it, and re-scanning 7
    // days per day is 7× waste. The scale plan: dedupe to the (user, day)
    // frame FIRST (one shuffle, partial-aggregatable), then each user-day
    // contributes map-side to the 7 window-days it falls in (q26's
    // expand-don't-join trick), then one two-level distinct agg per
    // window-day. Every stage's volume is ∝ |user-days|×7, never
    // |events|×7. At 100 TB the exact distinct swaps for per-day HLL
    // sketches merged across each 7-day window — same plan minus the
    // Expand, error ~2% (q62's sketch).
    QueryDef(
      "q104_rolling_distinct",
      """WITH ud AS (
        |  SELECT DISTINCT user_id,
        |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
        |  FROM events),
        |contrib AS (
        |  SELECT user_id,
        |    CAST(unnest(generate_series(day, day + 6, INTERVAL 1 DAY))
        |      AS DATE) AS wday
        |  FROM ud)
        |SELECT wday, count(DISTINCT user_id) AS wau
        |FROM contrib GROUP BY wday""".stripMargin) { (s, dir) =>
      t(s, dir, "events")
        .select(col("user_id"), col("ts").cast("date").as("day"))
        .distinct()
        .select(col("user_id"),
          explode(sequence(col("day"), date_add(col("day"), 6),
            expr("interval 1 day"))).as("wday"))
        .groupBy(col("wday"))
        .agg(countDistinct(col("user_id")).as("wau"))
    },
  )
}
