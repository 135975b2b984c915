package graft

import graft.ScaleHarness.{report, secs, timed, timedIf}
import graft.transforms.NearDup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-replication harness for the dedup pipeline: runs
  * shingle → Jaccard pairs → connected components → canonical pick on a
  * corpus replicated ×k IN-PLAN (every doc becomes a k-clique of exact
  * copies, ids remapped to stay unique), so the output of every stage has
  * a CLOSED FORM computable from the k=1 run:
  *
  *   distinct texts:   unchanged at every k
  *   exact-dup groups: every group size is exactly k × its k=1 size
  *   pair count:       S·k(k−1)/2 intra-clique + E·k² cross pairs,
  *                     where S = shingleable docs, E = k=1 pair count
  *   docs in pairs:    k·S (every shingleable copy pairs with its clones)
  *   cluster count:    C + (S − P): each k=1 component collapses its
  *                     copies into itself; each previously-UNPAIRED
  *                     shingleable doc becomes one new clique-cluster
  *                     (C = k=1 clusters, P = k=1 docs-in-pairs)
  *   cluster sizes:    every size divisible by k
  *   canonical keeps:  exactly one per cluster
  *   kNN top-k:        each k=1 neighbor expands to its k copies in id
  *                     order (same-original families excluded), so the
  *                     replicated top-5 list is the k=1 ranked list
  *                     expanded and truncated — exact, including ties
  *
  * The kNN stage replicates `embeddings` the same way and checks the
  * brute-force cosine top-5 (q34's shape) against that expansion — a
  * scale gate on ranking determinism: (cosine DESC, id) tie-break order
  * must survive a 16× corpus and any partitioning.
  *
  * A wrong shuffle/band/propagation shape that happens to pass at 5 000
  * rows gets caught here as a broken invariant at 20–80 k rows; a shape
  * that degrades super-linearly shows up in the per-stage exponent
  * (ln(t_k / t_1) / ln k — 1.0 is linear scaling, the target; local[32]
  * adds a fixed per-stage floor, so small k read BELOW 1). Results are
  * recorded in SCALING.md.
  *
  * Usage: SPARK_GRAFT_SF_DIR=… SPARK_GRAFT_REPS=1,4,16 runMain graft.Scale
  * Prints one JSON line per k with timings + invariant checks.
  */
object Scale {

  private final val Threshold = 0.5
  private final val LshThreshold = 0.8

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = ScaleHarness.reps("1,4,16", baseline = false)
    val spark = ScaleHarness.session()

    val maxRep = reps.max.toLong.max(1L)
    val base = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"), col("n_chars"))
      .localCheckpoint()

    // ---- k=1 ground truth for the closed forms ----
    val sh1 = NearDup.shingled(base, "doc_id", "text").localCheckpoint()
    val s1 = sh1.count()
    val pairs1 = NearDup.pairs(sh1, Threshold)
      .select("doc_a", "doc_b").localCheckpoint()
    val e1 = pairs1.count()
    // distinct docs appearing in a pair set
    def docsIn(pairs: DataFrame): Long =
      pairs.select(explode(array(col("doc_a"), col("doc_b")))).distinct().count()
    val p1 = docsIn(pairs1)
    val c1 = NearDup.clusters(pairs1)
      .select(col("cluster_id")).distinct().count()
    val texts1 = base.select(col("text")).distinct().count()
    // exact-first ground truth: near-dup pairs over the k=1 exact-dedup
    // survivors (min doc_id per text). At every k the survivor set maps
    // 1:1 onto this one (copy 0 of each k=1 survivor), so the exact-first
    // pair SET is this set with ids scaled by maxRep — checked exactly.
    // repartition after the survivor aggregate: AQE coalesces the small
    // output to ~1 partition, which would serialize the CPU-heavy shingle
    // stage it feeds (the trap TransformParser's reps frame documents)
    val surv1 = base.groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), col("text"))
      .repartition(spark.sparkContext.defaultParallelism)
      .localCheckpoint()
    val pairsD1 = NearDup.pairs(
        NearDup.shingled(surv1, "doc_id", "text"), Threshold)
      .select("doc_a", "doc_b").localCheckpoint()
    val e1d = pairsD1.count()
    // MinHash-LSH ground truth: exact pairs at the LSH threshold. Copies
    // share identical signatures, so banding decisions at k replay the
    // k=1 decisions and LSH@k must be EXACTLY S·k(k−1)/2 intra-clique
    // + e08·k² cross pairs — a closed-form correctness check of the
    // banded approximate path at every scale step. The 0.8-threshold
    // docs-in-pairs/cluster counts feed the LSH-only mode's CC closed
    // form (cluster count = c08 + (S − p08), same algebra as the 0.5
    // path).
    val pairs08 = NearDup.pairs(sh1, LshThreshold)
      .select("doc_a", "doc_b").localCheckpoint()
    val e08 = pairs08.count()
    val p08 = docsIn(pairs08)
    val c08 = NearDup.clusters(pairs08)
      .select(col("cluster_id")).distinct().count()
    // Above this k the Θ(k²)-work exact stages (inverted-index pairs,
    // capped pairs, exact-first) are skipped and CC/canonical run on the
    // LSH pair set with the 0.8-threshold closed forms — the banded
    // production pipeline end-to-end at corpus sizes the naive stage
    // cannot reach in reasonable wall-clock. Opt-in:
    //   SPARK_GRAFT_LSH_ONLY_ABOVE=16 SPARK_GRAFT_REPS=1,16,64 …
    val lshOnlyAbove = sys.env.get("SPARK_GRAFT_LSH_ONLY_ABOVE")
      .map(_.toInt).getOrElse(Int.MaxValue)

    // ---- kNN ground truth: brute-force cosine top-5 (q34's exact shape)
    // for 50 query vectors over the base embeddings. At k, every neighbor
    // expands to its k copies in id order (same-original families
    // excluded), so the replicated top-5 is THIS list expanded+truncated.
    import graft.functions.Vectors.l2norm
    val par = spark.sparkContext.defaultParallelism
    val NumQ = 50L
    val TopK = 5
    val emb0 = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .repartition(par)
      .localCheckpoint()
    def knn(embKeyed: DataFrame, queryPred: org.apache.spark.sql.Column,
        familyExcl: Boolean, maxR: Long): Seq[(Long, Long, Double)] = {
      val en = embKeyed.withColumn("nrm", l2norm(col("v")))
      val excl =
        if (familyExcl) (col("qid") / maxR).cast("long") =!=
          (col("cid") / maxR).cast("long")
        else col("qid") =!= col("cid")
      ScaleHarness.cosineTopK(en.toDF("cid", "cv", "cnrm"),
        en.where(queryPred).toDF("qid", "qv", "qnrm"), TopK, excl)
    }
    // each query's (neighbor, cosine) list in rank order
    def ranked(rows: Seq[(Long, Long, Double)]) =
      rows.groupBy(_._1).map { case (q, rs) =>
        q -> rs.sortBy(r => (-r._3, r._2)).map(r => (r._2, r._3))
      }
    // same-original exclusion at k=1 is plain self-exclusion, so this IS
    // q34's ranking restricted to 50 queries
    val knn1 = ranked(knn(emb0, col("vec_id") < NumQ, familyExcl = false, 1L))

    // replication copies n_chars unchanged, so the pack-balance bound's
    // max-doc term is k-invariant — computed once from the base corpus
    val maxDoc = base.agg(max(col("n_chars"))).head().getLong(0)

    val lines = reps.map { k =>
      // replicate ×k: copy r of doc d gets id d·maxRep + r, so the min id
      // of a clique is copy 0 of the k=1 min — id order is preserved
      // repartition after the fan-out: at 100 TB the corpus arrives in
      // many input splits; without this every clique's copies sit in one
      // partition and the shingle stage skews
      val docs = base.crossJoin(
          spark.range(k.toLong).toDF("rep"))
        .select((col("doc_id") * maxRep + col("rep")).as("doc_id"),
          col("text"), col("n_chars"))
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint()
      val n = docs.count()

      val (dedupGroups, tExact) = timed {
        docs.groupBy(col("text"))
          .agg(count(lit(1)).as("n_copies"))
          .localCheckpoint()
      }
      val badGroups = dedupGroups.where(col("n_copies") % k =!= 0).count()
      val distinctTexts = dedupGroups.count()

      // full mode runs every stage; LSH-only mode (k above the opt-in
      // bound) skips the Θ(k²)-work exact stages and drives CC/canonical
      // from the banded pair set with the 0.8-threshold closed forms
      val full = k <= lshOnlyAbove

      val (sh, tShingle) = timed {
        NearDup.shingled(docs, "doc_id", "text").localCheckpoint()
      }
      val (pairsOpt, tPairs) = timedIf(full) {
        NearDup.pairs(sh, Threshold)
          .select("doc_a", "doc_b").localCheckpoint()
      }
      val nPairs = pairsOpt.fold(-1L)(_.count())
      val docsInPairs = pairsOpt.fold(-1L)(docsIn)

      val (lshPairs, tLsh) = timed {
        NearDup.minhashPairs(sh, LshThreshold)
          .select("doc_a", "doc_b").localCheckpoint()
      }
      val nLsh = lshPairs.count()
      val expLsh = s1 * k.toLong * (k - 1) / 2 + e08 * k.toLong * k

      // DF-capped pairs: candidates only from shingles shared by ≤ 4·k
      // docs (= base df ≤ 4 — replication scales every df by k), exact
      // verification after. MUST be a subset of the exact answer (no
      // false positives by construction); recall is corpus-dependent and
      // REPORTED, not assumed.
      val (cappedOpt, tCapped) = timedIf(full) {
        NearDup.pairsCapped(sh, Threshold, 4L * k)
          .select("doc_a", "doc_b").localCheckpoint()
      }
      val nCapped = cappedOpt.fold(-1L)(_.count())
      val cappedSpurious = cappedOpt.zip(pairsOpt)
        .fold(0L) { case (capped, p) => capped.except(p).count() }

      val (labels, tCc) = timed {
        NearDup.clusters(pairsOpt.getOrElse(lshPairs))
          .toDF("doc_id", "cluster_id").localCheckpoint()
      }
      val clusterSizes = labels.groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("sz")).localCheckpoint()
      val nClusters = clusterSizes.count()
      val badClusters = clusterSizes.where(col("sz") % k =!= 0).count()

      // ---- exact-first variant: dedup exact copies, THEN near-dup.
      // The near-dup stages must now cost the same at every k (their
      // input is the constant survivor set); the pair set must equal the
      // k=1 survivor pairs with ids scaled by maxRep — exactly.
      val (pairsEfOpt, tEfPairs) = timedIf(full) {
        val surv = docs.groupBy(col("text"))
          .agg(min(col("doc_id")).as("doc_id"))
          .select(col("doc_id"), col("text"))
          .repartition(spark.sparkContext.defaultParallelism)
        NearDup.pairs(
            NearDup.shingled(surv, "doc_id", "text"), Threshold)
          .select("doc_a", "doc_b").localCheckpoint()
      }
      val (efDiff, efCount) = pairsEfOpt.fold((0L, e1d)) { pairsEf =>
        val mapped = pairsD1.select(
          (col("doc_a") * maxRep).as("doc_a"),
          (col("doc_b") * maxRep).as("doc_b"))
        (pairsEf.except(mapped).count() + mapped.except(pairsEf).count(),
          pairsEf.count())
      }

      // ---- kNN under replication: queries are copy 0 of the k=1 query
      // panel; every base neighbor expands to its k copies in id order.
      val (knnK, tKnn) = timed {
        val embK = emb0.crossJoin(spark.range(k.toLong).toDF("rep"))
          .select((col("vec_id") * maxRep + col("rep")).as("vec_id"),
            col("v"))
          .repartition(par)
        knn(embK,
          col("vec_id") % maxRep === 0 && col("vec_id") < NumQ * maxRep,
          familyExcl = true, maxRep)
      }
      val knnGot = ranked(knnK)
      val knnWant = knn1.map { case (q, lst) =>
        (q * maxRep) -> lst.flatMap { case (nid, cos) =>
          (0L until k.toLong).map(r => (nid * maxRep + r, cos))
        }.take(TopK)
      }
      val knnOk = knnGot == knnWant

      val (keeps, tCanon) = timed {
        val meta = docs.select(col("doc_id"), col("n_chars"))
        val members = labels.join(meta, "doc_id")
        val winners = members.groupBy(col("cluster_id"))
          .agg(max(struct(col("n_chars"), -col("doc_id"))).as("w"))
          .select(col("cluster_id"), (-col("w.col2")).as("win_doc"))
        members.join(winners, "cluster_id")
          .where(col("doc_id") === col("win_doc"))
          .localCheckpoint()
      }
      val nKeeps = keeps.count()

      // ---- writer packing under replication: PACK's balance bound
      // (per-writer byte spread ≤ G × largest doc, G=8 salt groups —
      // SURVEY §9) checked at every k through the production verb
      // itself, so the language operator, not a reimplementation, is
      // what scales.
      val ((nWriters, packSpread), tPack) = timed {
        val packed = graft.transforms.TransformParser
          .parse("PACK BY n_chars KEY doc_id INTO 8")
          .build(Map.empty, docs)
        val totals = packed.groupBy(col("writer"))
          .agg(sum(col("n_chars")).as("t"))
          .collect().map(_.getLong(1))
        (totals.length, totals.max - totals.min)
      }

      val expPairs = s1 * k.toLong * (k - 1) / 2 + e1 * k.toLong * k
      // CC runs on the 0.5 exact pairs in full mode, the 0.8 banded
      // pairs in LSH-only mode — same component algebra, different
      // k=1 ground truth
      val expClusters =
        if (full) c1 + (if (k == 1) 0L else s1 - p1)
        else c08 + (if (k == 1) 0L else s1 - p08)
      val checks = Seq(
        "distinct_texts" -> (distinctTexts == texts1),
        "dup_groups_divisible" -> (badGroups == 0L),
        "pair_count" -> (!full || nPairs == expPairs),
        "docs_in_pairs" -> (!full || docsInPairs ==
          (if (k == 1) p1 else s1 * k.toLong)),
        "cluster_count" -> (nClusters == expClusters),
        "cluster_sizes_divisible" -> (badClusters == 0L),
        "one_keep_per_cluster" -> (nKeeps == nClusters),
        "exact_first_pair_set" -> (efDiff == 0L && efCount == e1d),
        "lsh_equals_exact" -> (nLsh == expLsh),
        "knn_top5_expansion" -> knnOk,
        "capped_subset_of_exact" -> (cappedSpurious == 0L),
        "pack_balance" -> (nWriters == 8 && packSpread <= 8L * maxDoc))
      report("scale", Seq("k" -> k,
        "mode" -> (if (full) "full" else "lsh_only"), "docs" -> n,
        "pairs" -> nPairs, "lsh_pairs" -> nLsh, "capped_pairs" -> nCapped,
        "capped_recall" -> (if (nPairs <= 0) -1.0
          else math.round(nCapped.toDouble / nPairs * 10000) / 10000.0),
        "clusters" -> nClusters, "keeps" -> nKeeps,
        "pack_spread" -> packSpread,
        "sec" -> secs("exact" -> tExact, "shingle" -> tShingle,
          "pairs" -> tPairs, "lsh" -> tLsh, "cc" -> tCc,
          "canonical" -> tCanon, "exact_first_pairs" -> tEfPairs,
          "knn" -> tKnn, "capped_pairs" -> tCapped, "pack" -> tPack)),
        checks)
      // pipeline total: the pair stage that actually drove CC
      (k, Seq("exponent" ->
        (tShingle + (if (full) tPairs else tLsh) + tCc + tCanon)))
    }

    ScaleHarness.exponents("scale", lines)
    spark.stop()
  }
}
