package graft

import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning,
  RoundRobinPartitioning}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.{col, sum}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Physical-plan regression tests: the *shape* of key plans is part of the
  * 100 TB contract (pushdown to the parquet scan, broadcast for dimension
  * joins, partial aggregation), not just the result values. These assert
  * on the executed-plan string, so a refactor that silently drops a
  * broadcast or un-pushes a filter fails here rather than at scale.
  */
class PlanSpec extends AnyFunSuite {
  import SparkTestSession._

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.executedPlan.toString

  test("q17: filter and projection reach the parquet scan") {
    val p = plan("q17_filter_pushdown")
    assert(p.contains("PushedFilters:") &&
      (p.contains("GreaterThanOrEqual(l_shipdate") ||
        p.contains("LessThan(l_quantity")),
      s"filters not pushed to scan:\n$p")
    // column pruning: the scan must not read money/flag columns the
    // query never touches
    assert(!p.contains("l_returnflag"), s"scan reads unused columns:\n$p")
  }

  test("q05: dimension join is a broadcast hash join") {
    val p = plan("q05_lookup_inner")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join:\n$p")
  }

  test("q07: star join broadcasts the small dims, none of the fact side") {
    val p = plan("q07_star_join")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join:\n$p")
    // region filter r_name = ASIA must reach its scan, not sit above a join
    assert(p.contains("EqualTo(r_name,ASIA)"), s"r_name not pushed:\n$p")
  }

  test("q01: aggregation is partial (map-side combine) then final") {
    val p = plan("q01_agg_pricing_summary")
    val hashAggs = "HashAggregate".r.findAllIn(p).size
    assert(hashAggs >= 2, s"expected partial+final HashAggregate:\n$p")
  }

  test("q01: whole-stage codegen covers the scan-filter-aggregate pipeline") {
    val df = SparkEntry.queries("q01_agg_pricing_summary")(spark, sfDir)
    df.collect() // let AQE finalize; codegen ids (`*(n)`) print post-exec
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("WholeStageCodegen") || p.contains("*("),
      s"no codegen span:\n$p")
  }

  test("q63: bloom prune sits below the exact semi join") {
    val df = SparkEntry.queries("q63_bloom_semi_join")(spark, sfDir)
    df.collect() // AQE finalizes subquery + join strategy
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("might_contain"), s"no bloom probe in plan:\n$p")
    assert(p.contains("LeftSemi"), s"no exact semi-join verify:\n$p")
  }

  test("q64: unpivot is a map-side Expand, one aggregation shuffle") {
    val p = plan("q64_unpivot")
    assert(p.contains("Expand"), s"unpivot did not compile to Expand:\n$p")
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 1, s"unpivot+agg should shuffle once:\n$p")
  }

  test("file-sink write plan has no Coalesce(1) by default") {
    import graft.aql.Ast
    import graft.engine.Connectors
    val df = Tables.load(spark, sfDir, "lineitem")
    def conn(opts: (String, String)*): Ast.Connection =
      Ast.Connection("OUT", opts.map { case (k, v) =>
        k.toUpperCase -> (Ast.OptStr(v): Ast.OptVal) }.toMap)
    // default: natural partitioning — every task writes its own part file
    val natural = Connectors.prepareFileWrite(df, conn("FILE" -> "/tmp/x"))
      .queryExecution.analyzed.toString
    assert(!natural.contains("Repartition"),
      s"default file write funnels through a coalesce:\n$natural")
    // single-file output is opt-in
    val single = Connectors.prepareFileWrite(df,
      conn("FILE" -> "/tmp/x", "SINGLE_FILE" -> "true"))
    assert(single.rdd.getNumPartitions == 1)
    // coalesce only ever reduces; start from 4 partitions to see it act
    val n = Connectors.prepareFileWrite(df.repartition(4),
      conn("FILE" -> "/tmp/x", "COALESCE" -> "2"))
    assert(n.rdd.getNumPartitions == 2)
  }

  test("bucketed tables co-locate the join: no shuffle on either side") {
    // The 100 TB repeated-join pattern: bucket both tables on the join
    // key at write time, and every subsequent equi-join on that key runs
    // shuffle-free. (Spark bucketing needs a saveAsTable warehouse, so
    // this lives here as a technique test rather than a queries entry.)
    val wh = java.nio.file.Files.createTempDirectory("graft_bucket")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Tables.load(spark, sfDir, "orders")
        .write.bucketBy(8, "o_custkey").sortBy("o_custkey")
        .option("path", s"$wh/orders_b").mode("overwrite")
        .saveAsTable("orders_b")
      Tables.load(spark, sfDir, "customer")
        .write.bucketBy(8, "c_custkey").sortBy("c_custkey")
        .option("path", s"$wh/customer_b").mode("overwrite")
        .saveAsTable("customer_b")
      val joined = spark.table("orders_b")
        .join(spark.table("customer_b"),
          col("o_custkey") === col("c_custkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join still shuffles:\n$plan")
      assert(joined.count() ==
        SparkEntry.queries("q05_lookup_inner")(spark, sfDir)
          .agg(sum("n_orders")).collect()(0).getLong(0))
    } finally {
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS customer_b")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("q24: as-of join is window-based — one shuffle, no join blow-up") {
    val p = plan("q24_asof_join")
    assert(p.contains("Window"), s"expected window-based as-of:\n$p")
    assert(!p.contains("Join"), s"as-of should not use a join:\n$p")
  }

  test("q25: band join broadcasts the tiny bands dimension") {
    val p = plan("q25_range_join")
    assert(p.contains("BroadcastNestedLoopJoin"), s"bands not broadcast:\n$p")
  }

  test("q26: sliding windows expand map-side, no self-join") {
    val p = plan("q26_sliding_window")
    assert(!p.contains("Join"), s"hop windows must not join:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final agg over windows:\n$p")
  }

  test("q48: salted join takes the shuffled-hash path (skew pattern live)") {
    val p = plan("q48_salted_join")
    assert(p.contains("ShuffledHashJoin"), s"salt demo not shuffle-joined:\n$p")
  }

  test("q49: top-terms ends in a bounded top-k, not a global sort") {
    val p = plan("q49_top_terms")
    assert(p.contains("TakeOrderedAndProject"), s"no top-k operator:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"term counts must partial-aggregate map-side:\n$p")
  }

  test("date-partitioned writes prune partitions at read time") {
    // The 100 TB layout rule: land fact data partitioned by date, and
    // date-filtered scans read only the matching directories. Asserted on
    // the scan's PartitionFilters (pruning happens at planning, not I/O).
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    val ev = Tables.load(spark, sfDir, "events")
      .withColumn("day", org.apache.spark.sql.functions.to_date(col("ts")))
    ev.write.partitionBy("day").mode("overwrite").parquet(s"$dir/events_p")
    val firstDay = ev.agg(org.apache.spark.sql.functions.min(col("day")))
      .head().getDate(0).toString
    val read = spark.read.parquet(s"$dir/events_p")
      .filter(col("day") === firstDay)
    val p = read.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") && p.contains("day"),
      s"no partition pruning:\n$p")
    // pruned scan reads strictly fewer files than the table holds
    assert(read.count() > 0 && read.count() < ev.count())
  }

  test("stratified sampling: sampleBy holds per-stratum fractions") {
    // Training-data curation primitive: per-class downsampling in one
    // map-side pass (no shuffle), deterministic under a fixed seed.
    val docs = Tables.load(spark, sfDir, "documents")
    val fractions = Map("en" -> 0.5, "fr" -> 0.1)
    val sampled = docs.stat.sampleBy("lang", fractions, seed = 42L)
    val p = sampled.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"sampleBy must not shuffle:\n$p")
    val n = docs.filter(col("lang") === "en").count().toDouble
    val k = sampled.filter(col("lang") === "en").count().toDouble
    assert(math.abs(k / n - 0.5) < 0.2, s"en fraction off: $k/$n")
    assert(sampled.filter(!col("lang").isin("en", "fr")).count() == 0)
    // deterministic: same seed, same sample
    assert(sampled.count() ==
      docs.stat.sampleBy("lang", fractions, seed = 42L).count())
  }

  test("q55: bucketed join shuffles only for the aggregation, not the join") {
    val p = plan("q55_bucketed_join")
    assert(p.contains("SortMergeJoin"), s"expected SMJ over buckets:\n$p")
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges == 1, s"expected 1 Exchange (agg only), got $exchanges:\n$p")
  }

  test("q30: exact dedup keeps aggregation partial despite wide text key") {
    val p = plan("q30_dedup_exact")
    assert("HashAggregate".r.findAllIn(p).size >= 2 ||
      p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
      s"no two-phase aggregate:\n$p")
  }

  test("q67/q69: chunking and stratified sampling are shuffle-free") {
    // chunking = explode fan-out; sampling = hash predicate — both must
    // stay pure map-side (partition-count parallelism at any scale)
    val p67 = plan("q67_doc_chunking")
    assert(!p67.contains("Exchange"), s"chunking must not shuffle:\n$p67")
    assert(p67.contains("Generate"), s"expected explode fan-out:\n$p67")
    val p69 = plan("q69_stratified_sample")
    assert(!p69.contains("Exchange"), s"sampling must not shuffle:\n$p69")
    // the CHUNK verb through the language layer keeps q67's shape: the
    // generator fan-out stays map-side regardless of the Aql plumbing
    val p140 = plan("q140_aql_chunk_verb")
    assert(!p140.contains("Exchange"), s"CHUNK verb must not shuffle:\n$p140")
    assert(p140.contains("Generate"), s"expected explode fan-out:\n$p140")
  }

  test("q70: contamination join broadcasts the probe grams") {
    val p = plan("q70_contamination")
    assert(p.contains("BroadcastHashJoin"),
      s"probe side must broadcast (corpus grams never shuffle for the join):\n$p")
  }

  test("q74: unigram scoring joins are broadcast — tokens never shuffle by term") {
    // vocab (term→count) and N (1 row) both broadcast onto the exploded
    // token stream; the only hash-partitioned exchanges are aggregations.
    // A SortMergeJoin here would shuffle the full corpus token stream.
    val p = plan("q74_unigram_logprob")
    assert(p.contains("BroadcastHashJoin"),
      s"expected the vocab scoring join broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"token stream must not shuffle for the scoring join:\n$p")
    // N derives from the vocab agg, not a third corpus pass: the corpus
    // is scanned exactly twice (vocab build + scoring)
    val scans = "documents\\.parquet".r.findAllIn(p).size
    assert(scans == 2, s"expected 2 corpus scans, got $scans:\n$p")
  }

  test("q68: repetition signals are two partial-agg shuffles, no join") {
    val p = plan("q68_repetition_quality")
    assert(!p.contains("Join"), s"no self-join allowed:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 4 ||
      p.contains("ObjectHashAggregate"),
      s"expected two two-phase aggregations:\n$p")
  }

  test("q77: source cap is salted two-phase top-N — hot domains spread") {
    // phase 1 partitions by (source, salt), phase 2 by source: two Window
    // sorts, and the first exchange must carry the salt so no reducer
    // owns a whole hot domain.
    val p = plan("q77_source_cap")
    val windows = "Window".r.findAllIn(p).size
    assert(windows >= 2, s"expected two-phase windows:\n$p")
    assert(p.contains("xxhash64") || p.contains("pmod"),
      s"first phase not salted:\n$p")
    assert(!p.contains("Join"), s"top-N must not join:\n$p")
  }

  test("q78: bigram model broadcasts — gram stream never shuffles by gram") {
    val p = plan("q78_bigram_logprob")
    assert(p.contains("BroadcastHashJoin"),
      s"expected the model scoring join broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"gram stream must not shuffle for the scoring join:\n$p")
    // c1 and V ride windows over the aggregated model frame, not extra
    // corpus passes: exactly two corpus scans (count build + scoring)
    val scans = "documents\\.parquet".r.findAllIn(p).size
    assert(scans == 2, s"expected 2 corpus scans, got $scans:\n$p")
  }

  test("q81: range layout — filtered re-read prunes on the sort column") {
    val df = SparkEntry.queries("q81_range_layout")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the date filter reaches the re-laid-out parquet's scan, where the
    // range layout makes footer min/max pruning effective
    assert(p.contains("PushedFilters:") && p.contains("l_shipdate"),
      s"shipdate filter not pushed to the layout scan:\n$p")
  }

  test("q76: span dedup is map-side fan-out plus one aggregation, no join") {
    val p = plan("q76_repeated_spans")
    assert(!p.contains("Join"), s"no join allowed:\n$p")
    assert(p.contains("Generate"), s"expected explode fan-out:\n$p")
  }

  test("q83: pagerank iterations never re-tokenize the corpus") {
    val p = plan("q83_token_pagerank")
    // edges/nodes are localCheckpoint'd before the loop, so the final
    // 3-iteration plan reads materialized RDDs — zero parquet scans and
    // zero Generate (explode) nodes may remain
    assert(!p.contains("documents"), s"corpus re-scanned inside iterations:\n$p")
    assert(!p.contains("Generate"), s"tokenization re-run inside iterations:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"rank propagation must be hash joins on the node key:\n$p")
  }

  test("q86: merge compaction is a partial-aggregatable reduce, no window") {
    val p = plan("q86_merge_upsert")
    val hashAggs = "HashAggregate|SortAggregate".r.findAllIn(p).size
    assert(hashAggs >= 2, s"expected partial+final latest-wins agg:\n$p")
    assert(!p.contains("Window"), s"merge must not sort per key via window:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"merge must be union+reduce, not an anti-join sandwich:\n$p")
  }

  test("MERGE verb compiles to q86's reduce shape: partial agg, no window") {
    // the language-level verb must keep the plan contract of the query it
    // re-expresses (q105 == q86): union + max(struct) reduce — map-side
    // combinable, one key shuffle, no per-key sort, no join
    import spark.implicits._
    val base = Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("id", "v", "ver")
    val chg = Seq((1L, "a2", 2L), (3L, "c", 1L)).toDF("id", "v", "ver")
    val df = graft.transforms.TransformParser
      .parse("MERGE Base WITH Chg ON id VERSION BY ver")
      .build(Map("BASE" -> base, "CHG" -> chg), base)
    val p = df.queryExecution.executedPlan.toString
    val aggs = "HashAggregate|ObjectHashAggregate|SortAggregate".r
      .findAllIn(p).size
    assert(aggs >= 2, s"expected partial+final latest-wins agg:\n$p")
    assert(!p.contains("Window"), s"MERGE must not sort per key via window:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"MERGE must be union+reduce, not an anti-join sandwich:\n$p")
  }

  test("NEARDEDUP verb: anti-join keep, no cartesian, no per-cluster window") {
    // the language-level verb must keep the plan contracts of the queries
    // it composes (q31/q47/q118): pair generation joins on shingle hash
    // (never a cartesian product), the canonical pick is an aggregation
    // (no per-cluster sort window), and the keep step is a left-anti join
    // against the loser set.
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "completely different words here with nothing shared at all"))
      .toDF("id", "txt")
    val df = graft.transforms.TransformParser
      .parse("NEARDEDUP ON txt KEY id THRESHOLD 0.5")
      .build(Map.empty, docs)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("LeftAnti"), s"keep step must be a left-anti join:\n$p")
    assert(!p.contains("Cartesian") && !p.contains("BroadcastNestedLoop"),
      s"pair space must come from the shingle index, never all-pairs:\n$p")
    assert(!p.contains("Window"),
      s"canonical pick must be an agg, not a per-cluster sort window:\n$p")
  }

  test("NEARDEDUP METHOD LSH: band join replaces the postings self-join") {
    // METHOD LSH must change the candidate-generation shape, not just the
    // label: the pair plan bands minhash signatures (minhash_sig /
    // lsh_buckets expressions, join on band keys) instead of exploding
    // per-shingle postings into a self-join — the difference SCALING.md
    // measures at 13–18×. The exact method's plan must stay postings-
    // shaped (and free of the banding expressions) so the option is a
    // real fork, not two names for one path.
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"))
      .toDF("id", "txt")
    val sh = graft.transforms.NearDup.shingled(docs, "id", "txt")
    def pairQe(verb: String) = graft.transforms.TransformParser
      .parse(verb) match {
        case v: graft.transforms.TransformParser.NearDedupVerb =>
          v.pairDf(sh).queryExecution
        case other => fail(s"expected NearDedupVerb, got $other")
      }
    // round 16: minhashPairs materializes the band-key frame once for
    // both candidate-join sides (and the shingle frame for the verify
    // sides), so the pair plan reads them through checkpoint boundaries
    // (LogicalRDD) — the signature DERIVATION is pinned on the shared
    // bandKeys subplan (the one banding chain every consumer rides),
    // and the verb plan is pinned on the band-key join + the boundary.
    assert(graft.transforms.NearDup.bandKeys(sh, 128, 32, 4)
        .queryExecution.analyzed.toString.contains("minhash_sig"),
      "band keys must derive from minhash signatures")
    val lshQe = pairQe("NEARDEDUP ON txt KEY id THRESHOLD 0.5 METHOD LSH")
    assert(lshQe.analyzed.toString.contains("LogicalRDD"),
      s"LSH band frame must be materialized once (checkpoint " +
        s"boundary):\n${lshQe.analyzed}")
    val lsh = lshQe.executedPlan.toString
    assert(lsh.contains("band#") && lsh.contains("bh#"),
      s"LSH candidates must join on band keys:\n$lsh")
    val exactQe = pairQe("NEARDEDUP ON txt KEY id THRESHOLD 0.5 METHOD EXACT")
    assert(!exactQe.analyzed.toString.contains("minhash_sig") &&
      !exactQe.executedPlan.toString.contains("bh#"),
      s"exact method must keep the postings join:\n${exactQe.executedPlan}")
    // METHOD omitted resolves to the LSH default (round 7b): the default
    // plan must band (join on band keys), not run the postings self-join
    val defQe = pairQe("NEARDEDUP ON txt KEY id THRESHOLD 0.5")
    assert(defQe.executedPlan.toString.contains("bh#"),
      s"default method must take the banded path:\n${defQe.executedPlan}")

    // the full LSH verb keeps the verb-level plan contracts too
    val df = graft.transforms.TransformParser
      .parse("NEARDEDUP ON txt KEY id THRESHOLD 0.5 METHOD LSH")
      .build(Map.empty, docs)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("LeftAnti"), s"keep step must be a left-anti join:\n$p")
    assert(!p.contains("Cartesian") && !p.contains("BroadcastNestedLoop"),
      s"pair space must come from band collisions, never all-pairs:\n$p")
    assert(!p.contains("Window"),
      s"canonical pick must be an agg, not a per-cluster sort window:\n$p")
  }

  test("NEARDEDUP METHOD COSINE: bucket-blocked pairs, anti-join keep, no window") {
    // the vector method must keep the family's plan contracts: candidate
    // pairs come from the sign-LSH bucket equi-join (never a cartesian/
    // nested-loop pair space), the keep step is a left-anti join, and
    // the canonical pick costs nothing (min-label IS the min key — no
    // window, no extra agg beyond the cluster propagation)
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(1.0, 0.0)), (2L, Array(0.9, 0.1)), (3L, Array(0.0, 1.0)))
      .toDF("vid", "emb")
    // the pair stage (pre-clustering — the cluster rounds materialize
    // eagerly, so the verb's final plan shows them as a LogicalRDD, same
    // as the text methods' tests): bucket blocking, never all-pairs
    import graft.functions.Vectors.l2norm
    import org.apache.spark.sql.functions.{col, size}
    val e = vecs.select(col("vid").as("id"),
        col("emb").cast("array<double>").as("v"))
      .where(col("v").isNotNull && size(col("v")) > 0)
      .withColumn("nrm", l2norm(col("v")))
    // round 16: cosinePairs materializes the bucket fan-out once for
    // both candidate-join sides, so the pair plan reads it through a
    // checkpoint boundary (LogicalRDD) — the lsh_buckets DERIVATION is
    // pinned on the shared bucketFrame subplan, the verb plan on the
    // bucket-key join + the boundary.
    assert(graft.transforms.VecKnn.bucketFrame(e, 32, 4, 2)
        .queryExecution.analyzed.toString.contains("lsh_buckets"),
      "COSINE method must block on sign-LSH buckets")
    val pairQe = graft.transforms.VecKnn.cosinePairs(e, 0.9)
      .queryExecution
    assert(pairQe.analyzed.toString.contains("LogicalRDD"),
      s"bucket frame must be materialized once (checkpoint " +
        s"boundary):\n${pairQe.analyzed}")
    val pp = pairQe.executedPlan.toString
    assert(pp.contains("bucket#"),
      s"candidates must join on bucket keys:\n$pp")
    assert(!pp.contains("Cartesian") && !pp.contains("BroadcastNestedLoop"),
      s"pair space must come from bucket collisions, never all-pairs:\n$pp")
    // the whole verb: anti-join keep, no per-cluster window
    val df = graft.transforms.TransformParser
      .parse("NEARDEDUP ON emb KEY vid THRESHOLD 0.9 METHOD COSINE")
      .build(Map.empty, vecs)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("LeftAnti"), s"keep step must be a left-anti join:\n$p")
    assert(!p.contains("Window"),
      s"canonical pick must be free (min-label = min key), no window:\n$p")
  }

  test("NEARDEDUP METHOD TYPO: variant-blocked pairs, anti-join keep, no window") {
    // the fuzzy-string method's contracts: candidates come from the
    // delete-1 variant equi-join on the 8-byte xxhash64 key (q98's
    // blocking — never a cartesian/nested-loop cross-levenshtein), the
    // keep step is a left-anti join, and the canonical pick is the
    // shared two-agg longest-then-min-key (no per-cluster sort window)
    import spark.implicits._
    val names = Seq((1L, "abcd"), (2L, "abxd"), (3L, "zzzz"))
      .toDF("id", "txt")
    val df = graft.transforms.TransformParser
      .parse("NEARDEDUP ON txt KEY id METHOD TYPO")
      .build(Map.empty, names)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("LeftAnti"), s"keep step must be a left-anti join:\n$p")
    assert(!p.contains("Cartesian") && !p.contains("BroadcastNestedLoop"),
      s"candidates must come from the variant join, never all-pairs:\n$p")
    assert(!p.contains("Window"),
      s"canonical pick must be the two-agg shape, no window:\n$p")
  }

  test("NEARDEDUP METHOD TYPO: candidate join carries hashes only, no strings") {
    // the slim-join contract on a LONG string column: the delete-1
    // variant equi-join on vh must see (id, vh) rows only — carrying the
    // text would put Σ len·(len+1) bytes into the join, quadratic in
    // string length. Assert on the OPTIMIZED plan of the exposed
    // typoPairs hook: every join keyed on vh has no string attribute in
    // either child's output; the strings appear only in the candidate-
    // sized rejoin above it (where levenshtein runs).
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.types.StringType
    val long = "x" * 5000
    val reps = Seq((1L, long), (2L, long.dropRight(1)), (3L, "zzzz"))
      .toDF("id", "txt")
    val verb = graft.transforms.TransformParser
      .parse("NEARDEDUP ON txt KEY id METHOD TYPO")
      .asInstanceOf[graft.transforms.TransformParser.NearDedupVerb]
    val pairs = verb.typoPairs(reps)
    val joins = pairs.queryExecution.optimizedPlan.collect {
      case j: Join => j
    }
    val vhJoins = joins.filter(_.condition.exists(
      _.references.exists(_.name == "vh")))
    assert(vhJoins.nonEmpty, "expected a candidate equi-join on vh:\n" +
      pairs.queryExecution.optimizedPlan)
    for (j <- vhJoins; side <- j.children)
      assert(!side.output.exists(_.dataType == StringType),
        s"vh candidate join must carry hashes only, found a string " +
          s"column in:\n${side.output.mkString(", ")}\nplan:\n" +
          pairs.queryExecution.optimizedPlan)
    // and the verify still runs: the full pair set is exact
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L)), got.toString)
  }

  test("SPLIT verb: pure map-side projection — no exchange, no join, no window") {
    // the assignment is a row function of (seed, key): at 100 TB the
    // scan absorbs it, so ANY exchange/join/window in the plan is a bug
    import spark.implicits._
    val df = graft.transforms.TransformParser
      .parse("SPLIT ON id INTO train=0.8, val=0.1, test=0.1 SEED 7")
      .build(Map.empty, Seq((1L, "a"), (2L, "b")).toDF("id", "txt"))
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"SPLIT must not shuffle:\n$p")
    assert(!p.contains("Join"), s"SPLIT must not join:\n$p")
    assert(!p.contains("Window"), s"SPLIT must not window:\n$p")
  }

  test("MIX verb: |sources|-row rates broadcast back; corpus never sort-merge-joins") {
    // stage 1 is one partial-aggregatable rollup; the ppm-rate frame
    // must come back as a BROADCAST join (sources are few by nature) —
    // a sort-merge join would shuffle the whole corpus by source
    import spark.implicits._
    val df = graft.transforms.TransformParser
      .parse("MIX BY src KEY id TEMPERATURE 0.5")
      .build(Map.empty,
        Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "src"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"rates must broadcast back onto the corpus:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("Cartesian"),
      s"corpus must never shuffle for the rates join:\n$p")
    val aggs = "HashAggregate|ObjectHashAggregate".r.findAllIn(p).size
    assert(aggs >= 2, s"expected partial+final rollup aggs:\n$p")
  }

  test("q144: stored-band probe keeps the anti-join shape, never all-pairs") {
    // the stored-artifact AGAINST gate: kept rows come off a left-anti
    // join against the matched-id frame; nothing in the plan may
    // degenerate to a cartesian/nested-loop batch×corpus product (the
    // probe's internal broadcast + cell routing sit behind checkpoint
    // boundaries — BandScale measures their flatness; this pins the
    // visible keep shape)
    val p = plan("q144_neardedup_stored")
    assert(p.contains("LeftAnti"), s"keep step must be a left-anti join:\n$p")
    assert(!p.contains("Cartesian") && !p.contains("BroadcastNestedLoop"),
      s"no all-pairs anywhere in the stored probe:\n$p")
  }

  test("q126: portable simhash is banded blocking, never all-pairs") {
    // the md5-portable gate must keep q33's plan contract: candidate
    // pairs come from the 15-bit band equi-join (hash join on band keys),
    // never a cartesian/nested-loop pair space, and the fingerprint
    // aggregation is partial (map-side combine on the 60x token fan-out)
    val p = plan("q126_simhash_portable")
    assert(!p.contains("Cartesian") && !p.contains("BroadcastNestedLoop"),
      s"pair space must come from band blocking:\n$p")
    val aggs = "HashAggregate|ObjectHashAggregate".r.findAllIn(p).size
    assert(aggs >= 4, s"expected partial+final aggs for votes+fingerprint:\n$p")
  }

  test("NEARDEDUP AGAINST: cross candidates join on band keys / postings, never all-pairs") {
    // the AGAINST form's candidate generation must keep the collision-
    // bounded shapes: METHOD LSH joins batch bands to corpus bands on
    // (band, bh); EXACT joins postings on the shingle hash; neither may
    // degenerate to a cartesian/nested-loop batch x corpus product, and
    // the verb's keep step is a left-anti join
    import spark.implicits._
    val batch = Seq((10L, "the quick brown fox jumps over the lazy dog"))
      .toDF("id", "txt")
    val corpus = Seq((2L, "the quick brown fox jumps over the lazy cat"))
      .toDF("id", "txt")
    def verb(m: String) = graft.transforms.TransformParser
      .parse(s"NEARDEDUP B AGAINST C ON txt KEY id THRESHOLD 0.5 METHOD $m")
      match {
        case v: graft.transforms.TransformParser.NearDedupVerb => v
        case other => fail(s"expected NearDedupVerb, got $other")
      }
    val shB = graft.transforms.NearDup.shingled(batch, "id", "txt")
    val shC = graft.transforms.NearDup.shingled(corpus, "id", "txt")
    val lsh = verb("LSH").crossMatchDf(shB, shC)
      .queryExecution.executedPlan.toString
    assert(lsh.contains("band#") && lsh.contains("bh#"),
      s"LSH cross candidates must join on band keys:\n$lsh")
    assert(!lsh.contains("Cartesian") && !lsh.contains("BroadcastNestedLoop"),
      s"cross candidates must never be all-pairs:\n$lsh")
    val exact = verb("EXACT").crossMatchDf(shB, shC)
      .queryExecution.executedPlan.toString
    assert(!exact.contains("bh#"),
      s"exact method must keep the postings join:\n$exact")
    assert(!exact.contains("Cartesian") && !exact.contains("BroadcastNestedLoop"),
      s"cross candidates must never be all-pairs:\n$exact")

    val full = verb("LSH")
      .build(Map("B" -> batch, "C" -> corpus), batch)
      .queryExecution.executedPlan.toString
    assert(full.contains("LeftAnti"), s"keep step must be left-anti:\n$full")
  }

  test("q127: sample selection is salted two-phase, no whole-group sort first") {
    // the per-group bottom-k must run q77's salted shape: the FIRST
    // window partitions by (group, salt) so no reducer ever sorts an
    // entire group; only k-bounded slices reach the per-group windows
    val p = plan("q127_sample_quantile")
    assert(p.contains("pmod("), s"no salted partial window:\n$p")
    assert(!p.contains("Cartesian") && !p.contains("BroadcastNestedLoop"),
      s"unexpected join shape:\n$p")
  }

  test("q129: candidates come from the broadcast cell join, ranks use group-limit pushdown") {
    // portable IVF's 100 TB contract: the only corpus x corpus contact is
    // the broadcast hash join on the assigned cell (probed cells only) —
    // the two BroadcastNestedLoopJoins in the plan are the 16-row centroid
    // frame fanned against corpus/queries for scoring, never a pair space.
    // Top-k windows must carry WindowGroupLimit so per-group state is
    // k-bounded before the final sort.
    val p = plan("q129_ivf_portable")
    assert(p.contains("BroadcastHashJoin"),
      s"probe-cell join must be a broadcast hash join:\n$p")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj <= 2, s"only the centroid-scoring fan-outs may be BNLJ:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian pair space:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"top-k windows must push group limits:\n$p")
    // struct-max argmax compiles to SortAggregate (struct types are not
    // hash-aggregable); partial+final still holds, which is the contract
    val aggs = "HashAggregate|ObjectHashAggregate|SortAggregate"
      .r.findAllIn(p).size
    assert(aggs >= 2, s"cell assignment must be a partial+final agg:\n$p")
  }

  test("q132: ADC rides broadcast (m,code) join + partial agg; shortlist uses group limits") {
    // portable PQ's 100 TB contract = q82's: the codes frame joins the
    // broadcast LUT on (m, code) — never a pair space — ADC sums are
    // partial+final on (qid, cid), and both the shortlist-100 and final
    // top-5 windows push WindowGroupLimit. BNLJs are only the two 16-row
    // codebook fan-outs (encode + LUT).
    val p = plan("q132_pq_portable")
    assert(p.contains("BroadcastHashJoin"),
      s"ADC/rerank joins must be broadcast hash joins:\n$p")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj <= 2, s"only the codebook fan-outs may be BNLJ:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian pair space:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"shortlist/top-k must push group limits:\n$p")
    val hashAggs = "HashAggregate".r.findAllIn(p).size
    assert(hashAggs >= 2, s"ADC sum must be a partial+final agg:\n$p")
  }

  test("q133: buckets fold map-side; candidates come from the (t,bucket) collision join") {
    // portable sign-LSH's 100 TB contract = q35's: the hyperplane frame
    // joins broadcast (4096 rows), projections and bit folds are
    // partial+final aggs (the 64x dim fan-out collapses map-side), and
    // the only corpus x corpus contact is the (t, bucket) collision
    // equi-join — never a cartesian/nested-loop pair space.
    // the buckets frame is localCheckpoint'd (computed once for both
    // collision-join sides), so the final plan reads it as an RDD scan;
    // assert the derivation shape on the un-checkpointed subplan and the
    // collision/rerank shape on the full plan.
    val p = plan("q133_lsh_portable")
    assert(p.contains("Scan ExistingRDD"),
      s"buckets frame must be materialized once (checkpoint boundary):\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"rerank joins must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"candidates must come from bucket collisions, never all-pairs:\n$p")
    val pairAggs = "HashAggregate".r.findAllIn(p).size
    assert(pairAggs >= 2,
      s"candidate dedup must be a partial+final agg:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"final top-k must push group limits:\n$p")
  }

  test("q130: shard manifest is one partial+final aggregation, no join") {
    val p = plan("q130_seeded_shards")
    assert(!p.contains("Join"), s"manifest must not join:\n$p")
    val aggs = "HashAggregate".r.findAllIn(p).size
    assert(aggs >= 2, s"expected map-side combine into 8 cells:\n$p")
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 1, s"manifest should shuffle once:\n$p")
  }

  test("q131: packing windows are salt-partitioned, never a global sort") {
    // q127's contract applied to packing: every Window must PARTITION BY
    // the salt group — an empty partition spec would funnel the corpus
    // through one reducer.
    val p = plan("q131_writer_packing")
    assert(p.contains("pmod("), s"no salted grouping in plan:\n$p")
    val winLines = p.split("\n").filter(_.contains("Window ["))
    assert(winLines.nonEmpty && winLines.forall(_.contains("[g#")),
      s"rank window must partition by the salt group:\n$p")
    assert(!p.contains("Join"), s"packing needs no join:\n$p")
  }

  test("q108: z-order re-read pushes both box predicates to the scan") {
    // the point of the 2-D layout: BOTH dimensions' range predicates reach
    // the parquet scan, where the Morton clustering makes each column's
    // row-group min/max stats selective at once. The scan's PushedFilters
    // list holds 6 entries and explain truncates metadata at 100 chars by
    // default, so widen it for this assertion.
    val p = {
      val k = "spark.sql.maxMetadataStringLength"
      val prev = spark.conf.get(k)
      spark.conf.set(k, "1000")
      try plan("q108_zorder_layout") finally spark.conf.set(k, prev)
    }
    assert(p.contains("PushedFilters:") &&
      p.contains("GreaterThanOrEqual(l_partkey,16)") &&
      p.contains("GreaterThanOrEqual(l_suppkey,2)"),
      s"box predicates not pushed to the re-read scan:\n$p")
  }

  test("q107: stoplist broadcasts; the doc rewrite itself is map-side") {
    val p = plan("q107_stopword_prune")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"stoplist frame must broadcast onto the corpus:\n$p")
    // the only key shuffle builds the df frame (per-doc token dedup is
    // map-side array_distinct) — the corpus-side rewrite must never shuffle
    val keyShuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(keyShuffles <= 1, s"corpus rewrite is shuffling:\n$p")
  }

  test("q109: CMS counter frame broadcasts; report is TakeOrderedAndProject") {
    val p = plan("q109_count_min_sketch")
    // the 256-cell counter frame must broadcast back onto the key frame —
    // a shuffle join here would re-shuffle |keys| rows to meet 256
    assert(p.contains("BroadcastHashJoin"),
      s"counter frame not broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 report must not globally sort:\n$p")
  }

  test("q110: sessionization rides ONE user_id exchange, no join") {
    val p = plan("q110_sessionize")
    // lag, the running session counter, and the per-session rollup all
    // share the (user_id; tms, event_id) partitioning + sort
    val keyShuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(keyShuffles == 1, s"expected exactly 1 key exchange:\n$p")
    assert(!p.contains("Join"), s"sessionization must not join:\n$p")
  }

  test("q111: KMV k-smallest rides TakeOrderedAndProject, distinct is partial") {
    val p = plan("q111_kmv_distinct")
    // k smallest hashes: k rows per partition → k global, no global sort
    assert(p.contains("TakeOrderedAndProject"),
      s"k-minimum selection must not globally sort:\n$p")
    // the three 1-row frames combine via broadcast, never a shuffle join
    assert(p.contains("BroadcastNestedLoopJoin") && !p.contains("SortMergeJoin"),
      s"1-row frames must broadcast:\n$p")
  }

  test("q119: theta merge reads stored group sketches; estimates broadcast") {
    val p = plan("q119_theta_merge")
    // the per-group sketches are the materialized artifact — the merge and
    // the estimates must read them as RDD scans, not recompute the
    // distinct-hash pipeline
    assert(p.contains("ExistingRDD"),
      s"group sketches must be materialized artifacts:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"1-row estimate frames must broadcast:\n$p")
  }

  test("q115: theta intersection reads stored sketches, combines by broadcast") {
    val p = plan("q115_theta_intersection")
    // the k-hash sketches are materialized artifacts (localCheckpoint):
    // the overlap query must read them as RDD scans, not recompute the
    // per-set distinct pipelines inside the final plan
    assert(p.contains("ExistingRDD"),
      s"sketches must be materialized artifacts:\n$p")
    // every post-sketch frame is <= k rows; 1-row frames join by broadcast
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"1-row theta/count frames must broadcast:\n$p")
  }

  test("q116: RRF lists are TakeOrdered; query frames broadcast; no outer join") {
    val p = plan("q116_hybrid_rrf")
    // each ranked list and the final fused top-20 must be top-k operators,
    // never a global sort of the corpus
    assert(p.contains("TakeOrderedAndProject"),
      s"ranked lists must be TakeOrderedAndProject:\n$p")
    // the 3-term lexical query frame joins tf by broadcast; the 1-row
    // query vector reaches the corpus as a broadcast nested loop
    assert(p.contains("BroadcastHashJoin"),
      s"query term frame must broadcast:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"query vector must broadcast:\n$p")
    // fusion is union+agg over the two lists — an outer join of the list
    // frames would shuffle; there must be none
    assert(!p.contains("FullOuter"), s"fusion must not outer-join:\n$p")
  }

  test("q117: KL totals broadcast; term agg is partial; top-20 is TakeOrdered") {
    val p = plan("q117_source_kl")
    // the 1-row totals frames must reach the vocab frame by broadcast
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"totals frames must broadcast:\n$p")
    // the term-count agg must map-side combine before its shuffle
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"term agg must be partial+final:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 must be TakeOrderedAndProject:\n$p")
  }

  test("q118: canonical pick is argmax-agg + join, not a per-cluster window") {
    val p = plan("q118_cluster_canonical")
    // winner selection must be the partial-aggregatable struct-max, never
    // a row_number window sorting every cluster
    assert(!p.contains("Window"), s"no window allowed in keep path:\n$p")
    // struct-max lowers to Sort/ObjectHashAggregate (non-primitive buffer),
    // still partial+final — same contract as q86's latest-wins reduce
    assert("HashAggregate|SortAggregate|ObjectHashAggregate".r
      .findAllIn(p).size >= 2, s"winner agg must be partial+final:\n$p")
  }

  test("q112: BM25 query frame broadcasts; top-20 is TakeOrderedAndProject") {
    val p = plan("q112_bm25")
    // the 3-term query frame must broadcast onto tf — shuffling tf to meet
    // 3 rows would move the corpus-sized pair frame
    assert(p.contains("BroadcastHashJoin"),
      s"query-term frame not broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 report must not globally sort:\n$p")
  }

  test("q114: incremental agg maintenance — broadcast semi retract, no window") {
    val p = plan("q114_incremental_agg")
    // the changed-key frame must broadcast into the retract semi join;
    // a shuffle join would move the base table to meet |changes| keys
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"retract pruning must be a broadcast semi join:\n$p")
    // the incremental path must not re-rank anything: the final-op reduce
    // is max(struct), the delta fold a hash agg — no Window anywhere
    assert(!p.contains("Window"), s"delta algebra must not window:\n$p")
  }

  test("q87: heavy hitters end in TakeOrderedAndProject") {
    val p = plan("q87_heavy_hitters")
    assert(p.contains("TakeOrderedAndProject"), s"no top-k operator:\n$p")
  }

  test("q89: weighted sample is map-side keys + TakeOrderedAndProject") {
    val p = plan("q89_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"), s"no top-k operator:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"sampling keys must not shuffle:\n$p")
  }

  test("q84: rolling features are one shuffle on user_id") {
    val p = plan("q84_rolling_features")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected exactly 1 exchange, got $exchanges:\n$p")
    assert(p.contains("Window"), s"expected a Window node:\n$p")
    assert(!p.contains("Join"), s"trailing frames must not join:\n$p")
  }

  test("q96: SCD2 build shares one user_id exchange across both windows") {
    val p = plan("q96_scd2_history")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected exactly 1 exchange, got $exchanges:\n$p")
    assert(!p.contains("Join"), s"SCD2 build must not self-join:\n$p")
    // compress-filter preserves sort order: lag pass and lead/version pass
    // must not re-sort between them
    val sorts = "Sort ".r.findAllIn(p).size
    assert(sorts <= 2, s"windows re-sorting between passes ($sorts sorts):\n$p")
  }

  test("q97: snapshot diff is one join, no cartesian/nested-loop") {
    val p = plan("q97_snapshot_diff")
    assert(p.contains("FullOuter") || p.contains("full_outer"),
      s"expected a full-outer join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"diff must be a key-partitioned join:\n$p")
  }

  test("q98: typo dedup joins on 8-byte variant hashes, never cross") {
    val p = plan("q98_dedup_typo")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"deletion-neighborhood join must be an equi-join:\n$p")
    assert(p.contains("xxhash64"), s"join key must be the 8-byte hash:\n$p")
  }

  test("q100: mixing rates broadcast back onto the corpus") {
    val p = plan("q100_temperature_mix")
    assert(p.contains("BroadcastHashJoin"),
      s"rate frame must broadcast, not shuffle the corpus:\n$p")
  }

  test("q122: coverage is equi-joined + partial-aggregated, never paired") {
    val p = plan("q122_dup_coverage")
    // the dup-span set is corpus-sized at 100 TB: the coverage join must
    // be a key equi-join (un-hinted — AQE broadcasts small, shuffles big),
    // and per-doc counting must combine map-side
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"span-coverage must never enumerate pairs:\n$p")
    assert(p.contains("partial_count"),
      s"coverage agg must have a map-side partial:\n$p")
    assert(!p.contains("Window"), s"no per-doc window sort:\n$p")
  }

  test("q123: per-source stoplist broadcasts; rewrite side never shuffles") {
    val p = plan("q123_boilerplate_prune")
    assert(p.contains("BroadcastHashJoin"),
      s"stoplist frame must broadcast onto the corpus:\n$p")
    // key shuffles build the df/doc-count/stoplist frames only — all
    // vocab- or source-bounded; the corpus-side rewrite is map-side
    val keyShuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(keyShuffles <= 3, s"corpus rewrite is shuffling:\n$p")
    assert(!p.contains("Window"), s"no window in the rewrite:\n$p")
  }

  test("q136: stored-index probe scan reads only the probed cells") {
    // the stored-IVF deployment contract: the candidate scan must read
    // only the probed cells' files. The driver-side routing reads them
    // as EXPLICIT cell-directory paths (the catalog-partition-pruning
    // form — an isin partition filter would still LIST every cell
    // directory during discovery, the cost BandScale measured growing
    // with the index) — without routing the probe join would load the
    // whole index and filter post-scan, i.e. a full corpus read per
    // query batch.
    // ONE frame construction: the builder runs the probe's routing
    // collect as a side effect, so a second construction would repeat
    // that (the index build itself is memoized per corpus dir)
    val df = SparkEntry.queries("q136_ivf_stored")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    // the index scan exists and reads from the stored artifact
    assert(p.split("\n").exists(l =>
      l.contains("graft_ivf_") && l.contains("index")),
      s"no stored-index scan in the plan:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"probe-cell join must be a broadcast hash join:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian pair space:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"final top-k must push group limits:\n$p")
    // and the pruning must be REAL at this panel size: run the probe and
    // check the index scan touched a strict subset of the 16 cell
    // directories (the scan's partition-count metric post-DPP)
    df.collect()
    // descend through AQE wrappers — collect() on the adaptive root does
    // not cross AdaptiveSparkPlanExec/QueryStageExec boundaries
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val idxScans = scans(df.queryExecution.executedPlan).filter(f =>
      f.metadata.get("Location").exists(l =>
        l.contains("graft_ivf_") && l.contains("index")))
    assert(idxScans.nonEmpty, "no stored-index scan in the executed plan")
    val partsRead = idxScans.map(_.metrics("numPartitions").value).sum
    assert(partsRead > 0 && partsRead < 16,
      s"expected a strict subset of the 16 cells read, got $partsRead")
    // and the routing must be the EXPLICIT-path form, not a filter over
    // the whole store: every scan root must BE a probed cluster=
    // directory (a regression to basePath-wide reading would root at the
    // index dir and re-pay partition listing ∝ index size — the failure
    // BandScale measured), and strictly fewer roots than the 16 cells
    val roots = idxScans.flatMap(_.relation.location.rootPaths)
      .map(_.toString)
    assert(roots.nonEmpty && roots.forall(_.contains("/cluster=")),
      s"index scan roots must be explicit cell directories, got:\n" +
        roots.mkString("\n"))
    assert(roots.distinct.size < 16,
      s"expected a strict subset of the 16 cell dirs as scan roots, " +
        s"got ${roots.distinct.size}")
  }

  test("q148: language-layer stored-band probe keeps the anti-join shape") {
    // q144's pin covers the Scala path; THIS pins the verb form — the
    // kept rows must come off a left-anti join and nothing in the
    // language-layer plan may degenerate to a batch×corpus pair space.
    // The probe's shingle-store verify scan is visible (only the
    // candidate frame sits behind a checkpoint), so the explicit-path
    // routing marker (sc= cell dirs) is asserted too.
    val df = SparkEntry.queries("q148_aql_neardedup_stored_verb")(
      spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("LeftAnti"), s"keep step must be a left-anti join:\n$p")
    assert(!p.contains("Cartesian") && !p.contains("BroadcastNestedLoop"),
      s"no all-pairs anywhere in the stored-verb probe:\n$p")
    // round-10: the exact-first batch collapse is distinct-on-(th, txt)
    // — a pure HashAggregate. A regression to first()-over-content
    // buffers would re-introduce the SortAggregate/Sort/Exchange
    // sandwich (an external sort of the corpus per statement)
    assert(!p.contains("SortAggregate"),
      s"exact-first collapse must stay a hash aggregate:\n$p")
  }

  /** The exact-first collapses — a HashAggregate grouping on exactly
    * (`hash`, `text`) — in the final plans of every query `body` runs,
    * each with its plan's exchanges and the exchanges below it. The
    * collapse runs under a checkpoint, so its plan is caught from the
    * query execution listener and walked through AQE's query stages.
    */
  private def collapses(hash: String, text: String)(body: => Unit)
      : Seq[(Seq[ShuffleExchangeExec], Seq[ShuffleExchangeExec])] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        plans.add(qe.executedPlan); ()
      }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try { body; org.apache.spark.ListenerBusDrain(spark.sparkContext) }
    finally spark.listenerManager.unregister(listener)
    object Stages extends AdaptiveSparkPlanHelper
    def exchanges(p: SparkPlan): Seq[ShuffleExchangeExec] =
      Stages.collect(p) { case e: ShuffleExchangeExec => e }
    plans.asScala.toSeq.flatMap { p =>
      Stages.collectFirst(p) {
        case a: HashAggregateExec
            if a.groupingExpressions.map(_.name) == Seq(hash, text) => a
      }.map(a => (exchanges(p), exchanges(a)))
    }
  }

  test("exact-first collapse is one hash exchange on the content hash: " +
      "INDEX LSH batch prep and q148's stored-probe batch") {
    import spark.implicits._
    // one round-robin spread, a distinct's exchange and a repartition
    // were three AQE jobs under the checkpoint; the collapse's own hash
    // exchange on the content hash spreads the CPU stage and meets the
    // distinct's clustering, so the aggregate needs no second exchange
    def check(what: String,
        found: Seq[(Seq[ShuffleExchangeExec], Seq[ShuffleExchangeExec])])
        : Unit = {
      assert(found.nonEmpty, s"$what: no exact-first collapse was planned")
      found.foreach { case (all, below) =>
        assert(!all.exists(_.outputPartitioning
            .isInstanceOf[RoundRobinPartitioning]),
          s"$what: no round-robin spread around the collapse:\n" +
            all.mkString("\n"))
        assert(below.size == 1 && (below.head.outputPartitioning match {
            case HashPartitioning(Seq(a: Attribute), _) => a.name == "th"
            case _ => false
          }), s"$what: one exchange, hashpartitioning(th), below the " +
            s"collapse:\n${below.mkString("\n")}")
      }
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_planspec_ef")
    graft.queries.Advanced.registerTmpDir(dir)
    val pq = dir.resolve("a.parquet").toString
    (1 to 40).map(i => (i.toLong, s"document ${i % 30} about topic " +
        s"${i % 7} with words w${i % 5} and tail"))
      .toDF("id", "txt").write.parquet(pq)
    check("INDEX LSH", collapses("th", "txt") {
      graft.engine.Aql.run(spark,
        s"""CONNECTION 'D' (DRIVER = 'file', FILE = '$pq',
           |  FORMAT = 'parquet')
           |TRANSFORM 'T' FROM CONNECTION D (
           |  INDEX ON txt KEY id METHOD LSH THRESHOLD 0.5 CELLS 8
           |    INTO '${dir.resolve("lsh")}'
           |) INTO CONSOLE""".stripMargin)
      ()
    })
    check("q148", collapses("th", "txt") {
      SparkEntry.queries("q148_aql_neardedup_stored_verb")(spark, sfDir)
      ()
    })
  }

  test("stored COSINE/TYPO probes keep the anti-join shape, never all-pairs") {
    // q153/q154's machinery driven directly (the gates run full AQL
    // round-trips; this pins the verb-level plan shape): both stored
    // AGAINST forms end in a left-anti keep and neither may enumerate
    // a batch×corpus pair space in-plan.
    import spark.implicits._
    import org.apache.spark.sql.functions.{array, lit}
    val idxDir = java.nio.file.Files.createTempDirectory("graft_planspec_idx")
    graft.queries.Advanced.registerTmpDir(idxDir)
    // cosine store over a 3-vector corpus
    val cosBase = idxDir.resolve("cos").toString
    val corpusV = Seq((1L, Array(1.0, 0.0)), (3L, Array(0.0, 1.0)),
        (5L, Array(0.6, 0.8)))
      .toDF("id", "varr")
      .select(col("id"), col("varr").as("v"))
      .withColumn("nrm", graft.functions.Vectors.l2norm(col("v")))
    graft.transforms.VecKnn.cosineStoreTo(cosBase, corpusV, 8, 4, 4)
    val batchV = Seq((10L, Array(1.0, 0.05)), (12L, Array(-1.0, 0.0)))
      .toDF("id", "embedding")
    val cosKept = graft.transforms.TransformParser
      .parse(s"NEARDEDUP B AGAINST STORED '$cosBase' ON embedding KEY id " +
        "THRESHOLD 0.9 METHOD COSINE TABLES 8 BITS 4")
      .build(Map("B" -> batchV), batchV)
    val pc = cosKept.queryExecution.executedPlan.toString
    assert(pc.contains("LeftAnti"), s"cosine keep must be left-anti:\n$pc")
    assert(!pc.contains("Cartesian") && !pc.contains("BroadcastNestedLoop"),
      s"no all-pairs in the stored cosine probe:\n$pc")
    // typo store over a 2-string corpus
    val typoBase = idxDir.resolve("typo").toString
    val corpusT = Seq((100L, "alpha"), (101L, "beta")).toDF("id", "txt")
    graft.transforms.NearDup.typoStoreTo(typoBase, corpusT, 4)
    val batchT = Seq((1L, "alpho"), (2L, "gamma")).toDF("id", "name")
    val typoKept = graft.transforms.TransformParser
      .parse(s"NEARDEDUP B AGAINST STORED '$typoBase' ON name KEY id " +
        "METHOD TYPO")
      .build(Map("B" -> batchT), batchT)
    val pt = typoKept.queryExecution.executedPlan.toString
    assert(pt.contains("LeftAnti"), s"typo keep must be left-anti:\n$pt")
    assert(!pt.contains("Cartesian") && !pt.contains("BroadcastNestedLoop"),
      s"no all-pairs in the stored typo probe:\n$pt")
    // both stored probes' batch collapses are hash aggregates too (the
    // round-10 exact-first rewrite — see the q148 pin)
    assert(!pc.contains("SortAggregate") && !pt.contains("SortAggregate"),
      "exact-first collapse must stay a hash aggregate")
    // and the verdicts are right (shape + semantics in one spec):
    // 10 matches (cos ≈ 0.9988 ≥ 0.9), 12 is anti-parallel and survives;
    // "alphо"→"alpha" is one substitution, "gamma" matches nothing
    assert(cosKept.select("id").collect().map(_.getLong(0)).toSet ==
      Set(12L))
    assert(typoKept.select("id").collect().map(_.getLong(0)).toSet ==
      Set(2L))
  }

  test("q168: stored JACCARD top-k keeps the routed-candidate shape, " +
      "never all-pairs") {
    // the text-retrieval serve (KNN METHOD JACCARD STORED) rides the
    // SAME storedVerifiedPairs body as the AGAINST probe, so its plan
    // must keep the same contract: candidates come from the band-key
    // equi-join over the batch's ROUTED cells (explicit pc= paths —
    // never a full-store scan or listing), the rerank joins shingle
    // arrays only onto the candidate frame, and nothing degenerates to
    // a batch×corpus pair space. The top-k itself must be a bounded
    // per-qid window, not a global sort.
    import spark.implicits._
    val idxDir = java.nio.file.Files.createTempDirectory("graft_plan_jac")
    graft.queries.Advanced.registerTmpDir(idxDir)
    val base = idxDir.resolve("lsh").toString
    val corpus = Seq(
        (1L, "alpha beta gamma delta epsilon zeta eta theta"),
        (2L, "alpha beta gamma delta epsilon zeta eta iota"),
        (3L, "completely different words about nothing shared at all"))
      .toDF("id", "txt")
    val shC = graft.transforms.NearDup.shingled(corpus, "id", "txt")
    graft.transforms.NearDup.bandStoreTo(base, shC,
      numPerm = 128, numBands = 64, rowsPerBand = 2, cells = 8)
    val batch = Seq((10L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("id", "txt")
    val served = graft.transforms.TransformParser
      .parse(s"KNN ON txt KEY id TOP 2 METHOD JACCARD THRESHOLD 0.5 " +
        s"STORED '$base'")
      .build(Map("D" -> batch), batch)
    val p = served.queryExecution.executedPlan.toString
    assert(!p.contains("Cartesian") && !p.contains("BroadcastNestedLoop"),
      s"no all-pairs anywhere in the stored JACCARD serve:\n$p")
    assert(p.contains("RunningWindowFunction") || p.contains("Window"),
      s"top-k must be a per-qid window:\n$p")
    assert(!p.contains("SortAggregate"),
      s"no external-sort aggregate in the serve path:\n$p")
    // (explicit-path cell routing itself is pinned by the AqlSpec
    // banding-mismatch error and measured flat in BandScale — plan
    // toString elides scan locations, so the pc= marker isn't
    // assertable here; the q148 pin has the same scope)
    // and the answer is right (shape + semantics in one spec)
    val rows = served.collect().map(r => (r.getAs[Long]("neighbor_id"),
      r.getAs[Double]("jaccard"), r.getAs[Int]("rank"))).toSeq.sortBy(_._3)
    assert(rows == Seq((1L, 1.0, 1), (2L, 0.714286, 2)), rows.toString)
  }

  test("q170: in-plan JACCARD top-k — banded candidates, never " +
      "all-pairs") {
    // the in-plan text retrieval (KNN METHOD JACCARD without STORED)
    // must keep the banded-candidate contract even with no artifact to
    // route through: candidates come from the band-key equi-join
    // between the two frames' own MinHash bands (minhashCrossMatches's
    // machinery), the exact-Jaccard rerank joins shingle arrays only
    // onto the candidate frame, and nothing degenerates to a
    // batch×corpus pair space; the top-k is a bounded per-qid window.
    import spark.implicits._
    val corpus = Seq(
        (1L, "alpha beta gamma delta epsilon zeta eta theta"),
        (2L, "alpha beta gamma delta epsilon zeta eta iota"),
        (3L, "completely different words about nothing shared at all"))
      .toDF("id", "txt")
    val batch = Seq((10L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("id", "txt")
    val served = graft.transforms.TransformParser
      .parse("KNN B WITH C ON txt KEY id TOP 2 METHOD JACCARD " +
        "THRESHOLD 0.5")
      .build(Map("B" -> batch, "C" -> corpus), batch)
    val p = served.queryExecution.executedPlan.toString
    assert(!p.contains("Cartesian") && !p.contains("BroadcastNestedLoop"),
      s"no all-pairs anywhere in the in-plan JACCARD serve:\n$p")
    assert(p.contains("RunningWindowFunction") || p.contains("Window"),
      s"top-k must be a per-qid window:\n$p")
    assert(!p.contains("SortAggregate"),
      s"no external-sort aggregate in the serve path:\n$p")
    // verb-layer semantics: content keying — qid 10 carries doc 1's
    // exact text, so the corpus copy of that text is content-excluded
    // and doc 2's text is the one neighbor at 0.714286
    val h2 = Seq("alpha beta gamma delta epsilon zeta eta iota").toDF("t")
      .select(org.apache.spark.sql.functions.xxhash64(
        org.apache.spark.sql.functions.col("t")))
      .collect().head.getLong(0)
    val rows = served.collect().map(r => (r.getAs[Long]("qid"),
      r.getAs[Long]("neighbor_id"), r.getAs[Double]("jaccard"),
      r.getAs[Int]("rank"))).toSeq
    assert(rows == Seq((10L, h2, 0.714286, 1)), rows.toString)
  }

  test("q163: stored ADC probe — broadcast LUT join, partial agg, " +
      "explicit code-cell roots, no SortAggregate") {
    // the IVF-PQ serving contract at 100 TB: the candidate scan reads
    // the routed cells of the CODES store as explicit cluster= paths
    // (pm smallints per candidate, never the full vectors), the
    // query-side LUT joins broadcast on (qid, m, code), ADC sums are
    // partial+final hash aggregates, and both the shortlist and final
    // top-k windows push group limits. Full vectors appear only under
    // the broadcast shortlist join (the exact rerank).
    import spark.implicits._
    val idxDir = java.nio.file.Files.createTempDirectory("graft_planspec_pq")
    graft.queries.Advanced.registerTmpDir(idxDir)
    val base = idxDir.resolve("ivfpq").toString
    val corpus = (0 until 24).map { i =>
      val a = i * 0.5
      (i.toLong, Array(math.cos(a), math.sin(a),
        math.cos(a * 1.7) * 0.5, math.sin(a * 1.7) * 0.5))
    }.toDF("vid", "embedding")
    graft.transforms.TransformParser
      .parse(s"INDEX ON embedding KEY vid METHOD IVF CELLS 4 PQ 2 " +
        s"PQCODES 8 INTO '$base'")
      .build(Map.empty, corpus).collect()
    val served = graft.transforms.TransformParser
      .parse(s"KNN ON embedding KEY vid TOP 3 METHOD IVF PROBE 2 " +
        s"STORED '$base' ADC SHORTLIST 10 QUERIES vid < 3")
      .build(Map.empty, corpus)
    val p = served.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"LUT/rerank joins must be broadcast hash joins:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"no pair space anywhere in the ADC probe:\n$p")
    assert(!p.contains("SortAggregate"),
      s"ADC sum must stay a hash aggregate:\n$p")
    val hashAggs = "HashAggregate".r.findAllIn(p).size
    assert(hashAggs >= 2, s"ADC sum must be partial+final:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"shortlist/top-k must push group limits:\n$p")
    // routed-cell pruning is the explicit-path form on BOTH stores:
    // every file scan rooted in the artifact must BE a cluster= dir
    // (a regression to basePath-wide reads would re-pay listing ∝ index)
    assert(served.collect().nonEmpty)
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(pl: SparkPlan): Seq[FileSourceScanExec] = pl match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val artScans = scans(served.queryExecution.executedPlan)
      .flatMap(_.relation.location.rootPaths.map(_.toString))
      .filter(r => r.contains("ivfpq/codes") || r.contains("ivfpq/index"))
    assert(artScans.nonEmpty && artScans.forall(_.contains("/cluster=")),
      s"codes/index scans must root at explicit cell dirs, got:\n" +
        artScans.mkString("\n"))
  }
}
