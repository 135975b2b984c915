package graft

import graft.ScaleHarness.{report, secs, timed, timedIf}
import graft.transforms.NearDup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Band-skew harness for the banded (MinHash-LSH) dedup pipeline.
  *
  * The failure mode graft.Scale cannot produce: Scale replicates docs as
  * EXACT copies, which exact-first collapse removes before banding ever
  * sees them. A near-identical FAMILY — one boilerplate text at m copies
  * with small per-copy mutations (the web-corpus reality exact-first
  * cannot touch) — instead floods one bucket per band with ~m members,
  * and the bucket self-join pays Θ(m²) candidates per band, ×numBands
  * redundancy, for a pair LIST that is itself Θ(m²).
  *
  * This harness builds exactly that corpus (sf base + a synthetic
  * m-member mutated family, token space disjoint from the real docs so
  * the family provably cannot pair outside itself), then measures and
  * gates the three responses:
  *
  *   1. [[NearDup.bandHeavyHitters]] — the diagnostic must REPORT the
  *      skew: ≥ half the bands contain a bucket with ≥ m/2 members.
  *   2. [[NearDup.minhashPairs]] (full path, small m only) — the honest
  *      quadratic baseline: family pair count must be exactly
  *      m(m−1)/2 on top of the base-corpus pairs (every family pair has
  *      true Jaccard 28/30 ≈ 0.93 ≥ 0.8; banding miss prob ≲ 1e-19).
  *   3. [[NearDup.minhashPairsStar]] — the cap-or-split strategy:
  *      candidate work per hot bucket drops to Θ(m), and the gate is
  *      CLUSTER equality — the star pair set must produce the identical
  *      connected-components partition (family = one cluster of m, base
  *      clusters byte-identical), because CC only needs a spanning
  *      structure, not the quadratic pair list.
  *
  * Usage: SPARK_GRAFT_SF_DIR=… SPARK_GRAFT_SKEW_MS=500,2000,16000
  *        SPARK_GRAFT_SKEW_FULL_MAX=2000 runMain graft.SkewScale
  * Prints one JSON line per m with timings + invariant checks; aborts on
  * any failed invariant. Results recorded in SCALING.md.
  *
  * Round 8 adds the VECTOR-side family (second section of main): one
  * synthetic direction at m distinctly-perturbed copies — the
  * embedding-space skew exact-first collapse cannot touch — driven
  * through NEARDEDUP METHOD COSINE with and without STAR ABOVE, gated
  * on survivor-set equality plus the VecKnn.bucketHeavyHitters
  * diagnostic reporting the hot buckets.
  */
object SkewScale {

  private final val Threshold = 0.8
  private final val StarAbove = 64L

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val ms = ScaleHarness.list("SPARK_GRAFT_SKEW_MS", "500,2000,16000")(
      _.toInt)
    val fullMax = sys.env.getOrElse("SPARK_GRAFT_SKEW_FULL_MAX", "2000").toInt
    val spark = ScaleHarness.session()
    val par = spark.sparkContext.defaultParallelism

    val base = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
      .localCheckpoint()
    // family ids start well above every corpus id
    def idsAbove(df: DataFrame, id: String): Long =
      Option(df.agg(max(col(id))).head().get(0))
        .fold(0L)(_.asInstanceOf[Long]) + 1000000L
    val famBase = idsAbove(base, "doc_id")

    // base-corpus 0.8-threshold ground truth (once)
    val sh0 = NearDup.shingled(base, "doc_id", "text").localCheckpoint()
    val basePairs = NearDup.minhashPairs(sh0, Threshold)
      .select("doc_a", "doc_b").localCheckpoint()
    val e08 = basePairs.count()
    val baseLabels = NearDup.clusters(basePairs)
      .toDF("doc_id", "cluster_id").localCheckpoint()
    val c08 = baseLabels.select(col("cluster_id")).distinct().count()

    // 30 synthetic tokens no real doc contains → the family's shingles
    // are disjoint from the corpus vocabulary: it can only pair within
    // itself, making its contribution to every count a closed form
    val seed = (0 until 30).map(i => s"zqxfam$i").mkString(" ")

    ms.foreach { m =>
      // copy i = seed + one unique trailing token: 29 shingles each,
      // 28 shared → every family pair has true J = 28/30 ≈ 0.933
      val fam = spark.range(m.toLong)
        .select((lit(famBase) + col("id")).as("doc_id"),
          concat(lit(seed + " zqxu"), col("id").cast("string")).as("text"))
      val docs = base.unionByName(fam)
        .repartition(par).localCheckpoint()
      val sh = NearDup.shingled(docs, "doc_id", "text").localCheckpoint()

      val (hotBuckets, tHh) = timed {
        NearDup.bandHeavyHitters(sh, minF = math.max(2L, m / 2L)).count()
      }

      val full = m <= fullMax
      val (fullPairs, tFull) = timedIf(full) {
        NearDup.minhashPairs(sh, Threshold)
          .select("doc_a", "doc_b").localCheckpoint()
      }
      val fullPairsN = fullPairs.fold(-1L)(_.count())
      val fullLabels = fullPairs.map(p => NearDup.clusters(p)
        .toDF("doc_id", "cluster_id").localCheckpoint())

      val (starPairs, tStar) = timed {
        NearDup.minhashPairsStar(sh, Threshold, StarAbove)
          .select("doc_a", "doc_b").localCheckpoint()
      }
      val starPairsN = starPairs.count()
      val starLabels = NearDup.clusters(starPairs)
        .toDF("doc_id", "cluster_id").localCheckpoint()
      val starClusters = starLabels.select(col("cluster_id"))
        .distinct().count()
      val famCluster = starLabels.where(col("doc_id") >= famBase)
      val famSize = famCluster.count()
      val famLabels = famCluster.select(col("cluster_id")).distinct().count()
      // base partition byte-identical under the star path
      val starBase = starLabels.where(col("doc_id") < famBase)
      val baseDiff = starBase.exceptAll(baseLabels).count() +
        baseLabels.exceptAll(starBase).count()
      // star == full cluster partition when the full path ran
      val fullDiff = fullLabels.fold(0L)(fl =>
        starLabels.exceptAll(fl).count() + fl.exceptAll(starLabels).count())

      val checks = Seq(
        "hh_reports_skew" -> (hotBuckets >= 16L),
        "full_family_complete" ->
          (!full || fullPairsN == e08 + m.toLong * (m - 1) / 2),
        "star_subset" -> (!full || starPairsN <= fullPairsN),
        "star_spans_family" -> (famSize == m.toLong && famLabels == 1L),
        "star_cluster_count" -> (starClusters == c08 + 1),
        "star_base_partition_identical" -> (baseDiff == 0L),
        "star_equals_full_partition" -> (fullDiff == 0L))
      report("skew", Seq("m" -> m, "full" -> full,
        "hot_buckets" -> hotBuckets, "full_pairs" -> fullPairsN,
        "star_pairs" -> starPairsN, "clusters" -> starClusters,
        "sec" -> secs("hh" -> tHh, "full_pairs" -> tFull,
          "star_pairs" -> tStar)),
        checks)
    }

    // ================= vector-side family (NEARDEDUP METHOD COSINE) ====
    //
    // The COSINE analogue of the boilerplate family: ONE direction u at
    // m perturbed copies (copy i nudges component i mod 64 by
    // 1e-4·(1 + i/64) — every copy a DISTINCT bit pattern, so
    // exact-first collapse on xxhash64(v) cannot merge them), pairwise
    // cosine ≈ 1 ≥ the 0.8 threshold, and nearly every copy shares the
    // same sign pattern in every table — the bucket self-join pays
    // Θ(m²) per table without a response. Measured responses mirror the
    // text side: VecKnn.bucketHeavyHitters must REPORT the skew, the
    // full verb path is the honest quadratic baseline (small m only),
    // and STAR ABOVE must produce the IDENTICAL survivor set (cluster
    // partition) at Θ(m) candidate work.
    val vecT = 0.8
    val vecBase = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .repartition(par).localCheckpoint()
    val vFamBase = idsAbove(vecBase, "vec_id")
    val uArr = (0 until 64).map(j => (((j * 37) % 13) - 6) / 6.0)
    // the D suffix matters: bare decimal literals parse as DECIMAL(p,s)
    // and would silently turn every cosine into decimal arithmetic
    val uLit = s"array(${uArr.map(v => s"${v}D").mkString(", ")})"
    import graft.functions.Vectors.l2norm
    // the family can only pair within itself IF its direction clears
    // the threshold against every corpus vector — VERIFY the margin
    // instead of assuming it (one 1-row aggregate)
    val maxAbsCos = vecBase
      .select(abs(round(graft.functions.Vectors.dot(col("v"), expr(uLit))
        / (l2norm(col("v")) * l2norm(expr(uLit))), 6)).as("c"))
      .agg(max(col("c"))).head().getDouble(0)
    require(maxAbsCos < vecT - 0.05,
      f"family direction too close to the corpus (max |cos| = " +
        f"$maxAbsCos%.3f vs threshold $vecT) — closed forms would break")
    def cosineKept(df: DataFrame, verb: String): Set[Long] =
      graft.transforms.TransformParser.parse(verb)
        .build(Map.empty, df)
        .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    val cosVerb = s"NEARDEDUP ON v KEY vec_id THRESHOLD $vecT METHOD COSINE"
    // pure-corpus survivor baseline (at 0.8 the sf embeddings have no
    // near pairs — but compute, don't assume)
    val vecKept0 = cosineKept(vecBase, cosVerb)

    ms.foreach { m =>
      val fam = spark.range(m.toLong)
        .select((lit(vFamBase) + col("id")).as("vec_id"),
          (col("id") % 64).cast("int").as("__pi"),
          (lit(1.0e-4) * ((col("id") / 64).cast("double") + lit(1.0)))
            .as("__pm"))
        .select(col("vec_id"),
          expr(s"transform(sequence(0, 63), j -> element_at($uLit, j + 1)" +
            s" + IF(j = __pi, __pm, CAST(0.0 AS DOUBLE)))").as("v"))
      val corpus = vecBase.unionByName(fam)
        .repartition(par).localCheckpoint()
      val e = corpus.select(col("vec_id").as("id"), col("v"))
        .withColumn("nrm", l2norm(col("v")))
        .localCheckpoint()

      val (hotBuckets, tHh) = timed {
        graft.transforms.VecKnn
          .bucketHeavyHitters(e, minF = math.max(2L, m / 2L)).count()
      }

      val full = m <= fullMax
      val (fullKeptOpt, tFull) = timedIf(full)(cosineKept(corpus, cosVerb))
      val fullKept = fullKeptOpt.getOrElse(Set.empty[Long])

      val (starKept, tStar) = timed {
        cosineKept(corpus, s"$cosVerb STAR ABOVE $StarAbove")
      }

      val wantKept = vecKept0 + vFamBase
      val checks = Seq(
        "vec_hh_reports_skew" -> (hotBuckets >= 16L),
        "vec_full_closed_form" -> (!full || fullKept == wantKept),
        "vec_star_closed_form" -> (starKept == wantKept),
        "vec_star_equals_full" -> (!full || starKept == fullKept))
      report("skew_cosine", Seq("m" -> m, "full" -> full,
        "hot_buckets" -> hotBuckets, "kept" -> starKept.size,
        "sec" -> secs("hh" -> tHh, "full" -> tFull, "star" -> tStar)),
        checks)
    }
    spark.stop()
  }
}
