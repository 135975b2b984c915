package graft

import graft.ScaleHarness.{report, secs, timed}
import graft.transforms.{CellStore, MetaParquet, VecKnn}
import org.apache.spark.sql.functions._

/** Scale-replication harness for the STORED sign-LSH bucket index
  * (q153's machinery, `VecKnn.cosineStoreTo` /
  * `cosineCrossMatchesStored`) — graft.BandScale's protocol applied to
  * the vector family: grow the corpus ×k with DISTINCT pseudo-random
  * vectors and probe a FIXED small batch against the stored artifact at
  * every k, with the partition-cell count scaled ∝ corpus.
  *
  * Why synthetic vectors instead of salted text: the index stores
  * buckets of real-valued vectors, and the batch's TRUE match set must
  * be invariant as the corpus grows. Deterministic unit-sphere-ish
  * vectors derived from xxhash64(id, component) concentrate around
  * cosine 0 at 64 dims (std ≈ 1/√64), so at THRESHOLD 0.99 an added
  * vector can collide in buckets by chance but can never survive the
  * exact verify — every scale step is also a correctness gate
  * (BandScale's matched-closed-form invariant, verbatim).
  *
  * What the measurement claims (the q153/stored-COSINE deployment
  * story): the index BUILD is the one corpus-sized job, while the
  * per-batch PROBE cost is governed by the batch's own bucket keys —
  * scanned fraction = |batch cells| / cells, and with cells ∝ N the
  * scanned row count stays constant as the corpus grows.
  *
  * Invariants at every k:
  *  - matched-set closed form: matched ids at k == the k=1 matched ids
  *    (chance bucket collisions must die in the exact cosine verify);
  *  - nonempty baseline: half the batch is verbatim corpus vectors
  *    (re-ingestion matches its own copy at cosine 1.0 ≥ any
  *    threshold), the other half is batch-only vectors driving the
  *    negative path;
  *  - cell-subset: the probe touched at most min(|batch|×tables, cells)
  *    bucket cells, strictly fewer than `cells` once cells exceeds the
  *    batch's key count.
  *
  * Usage: SPARK_GRAFT_REPS=1,4,16 runMain graft.CosineScale. REPS must
  * start with 1. Prints one JSON line per k plus fitted exponents.
  */
object CosineScale {

  private final val BatchVecs = 8
  private final val Threshold = 0.99
  private final val Tables = 32
  /** Bucket bits and cells come from the INDEX verb's own derivation
    * (`IndexGeometry.cosineBits`/`storeCells` over the corpus entry
    * count), so the recorded curves describe the geometry a bare
    * `INDEX … INTO` actually ships (round-10 verdict ask #2). Why bits
    * must grow with log₂(corpus): a sign-LSH bucket is a FIXED
    * 1/2^bits slice of the sphere, so collision (candidate) mass per
    * batch key is ∝ corpus/2^bits — with constant bits the probe cost
    * grows linearly in the corpus however the cells are partitioned
    * (measured: exponent +0.36 over 16× growth at fixed 4 bits).
    * Keeping per-bucket occupancy constant needs 2^bits ∝ corpus — the
    * bucket-space analogue of cells ∝ corpus, and exactly what the
    * derivation does. Recall at the dedup thresholds is unharmed: a
    * true near-dup pair's per-bit flip probability is ∝ its (tiny)
    * angle, and re-ingested exact copies share every bucket at any
    * width; the exact verify keeps every step a correctness gate.
    */
  private final val Dims = 64

  /** Deterministic pseudo-random vector for any id: component c =
    * xxhash64(id, c) mapped to [-1, 1] — a pure column function, so the
    * "corpus" is reproducible at any k without storing anything.
    */
  private[graft] def synthVec(id: org.apache.spark.sql.Column) =
    transform(sequence(lit(1), lit(Dims)),
      c => (xxhash64(id, c).cast("double") / lit(Long.MaxValue.toDouble)))

  def main(args: Array[String]): Unit = {
    val reps = ScaleHarness.reps("1,4,16")
    val spark = ScaleHarness.session()
    import graft.functions.Vectors.l2norm

    val n0 = 2000L
    // base corpus: ids 0..n0-1; batch = 8 re-ingested corpus vectors
    // (ids 0..7 — cosine 1.0 with their own copies by construction) +
    // 8 batch-only vectors (ids n0·1e6.. — present in NO corpus)
    val batch = spark.range(0, BatchVecs)
      .union(spark.range(n0 * 1000000L, n0 * 1000000L + BatchVecs))
      .select(col("id"), synthVec(col("id")).as("v"))
      .withColumn("nrm", l2norm(col("v")))
      .localCheckpoint()
    val batchKeys = batch.count() * Tables

    var matched1: Option[Set[Long]] = None
    val lines = for (k <- reps) yield {
      // the verb's own derivation at this corpus size (see Dims note)
      val cells = graft.transforms.IndexGeometry.storeCells(n0 * k)
      val bits = graft.transforms.IndexGeometry.cosineBits(n0 * k)
      // corpus ids 0..k·n0-1: the k=1 prefix is shared at every k, the
      // growth rows are new ids = new pseudo-random vectors (disjoint
      // from the batch-only ids, which live at n0·1e6+)
      val corpus = spark.range(0, n0 * k)
        .select(col("id"), synthVec(col("id")).as("v"))
        .withColumn("nrm", l2norm(col("v")))
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint()
      val n = corpus.count()

      val idxDir = java.nio.file.Files.createTempDirectory("graft_cosidx_")
      graft.queries.Advanced.registerTmpDir(idxDir)
      val base = idxDir.toString
      val (_, buildS) = timed {
        VecKnn.cosineStoreTo(base, corpus, Tables, bits, cells)
      }
      val idxRows = MetaParquet.scan(spark, s"$base/buckets").count()

      val (matchedK, probeS) = timed {
        VecKnn.cosineCrossMatchesStored(spark, base, batch,
            Threshold, Some(Tables), Some(bits))
          .collect().map(_.getLong(0)).toSet
      }
      // ---- KNN serving leg (round 12, q164's path): top-k from the
      // SAME stored artifact. Queries are 2× the first 8 corpus
      // vectors — content-DISTINCT (so the store's self-exclusion does
      // not fire) yet sign-IDENTICAL (positive scaling preserves every
      // hyperplane sign), so each query collides with its original in
      // EVERY table at ANY bit width, and doubling is exact in IEEE
      // arithmetic, so the closed form holds bit-for-bit at every k:
      // rank 1 must be the original at round-6 cosine 1.0. Expected
      // flat: per-query candidate mass ≈ tables × corpus/2^bits,
      // constant under the derived 2^bits ∝ corpus.
      // no harness-side checkpoint: cosineKnnStored materializes its
      // panel internally (its multi-consumer contract), and a second
      // checkpoint here would land inside the timed section
      val knnQueries = spark.range(0, BatchVecs)
        .select(col("id").as("qid"),
          transform(synthVec(col("id")), x => x * 2).as("qv"))
        .withColumn("qnrm", l2norm(col("qv")))
      val (knnRows, knnS) = timed {
        VecKnn.cosineKnnStored(spark, base, knnQueries, 5)
          .collect()
          .map(r => (r.getLong(0), r.getDouble(2), r.getInt(3))).toSeq
      }
      val knnRank1 = knnRows.filter(_._3 == 1)
      val knnRank1Self = knnRank1.length == BatchVecs &&
        knnRank1.forall(_._2 == 1.0)

      // diagnostics, outside the timed probe: the cells the batch routes
      // to, and the ROWS those routed cells actually hold — wall-clock at
      // this toy scale carries a per-FILE constant (footer read + task)
      // for every routed cell dir, so the scale claim is pinned on rows
      // scanned, with the file count reported alongside
      val snap = CellStore.snapshot(spark, base, "cosine_vec", "cosine_scale")
      val probed = snap.candidates(batch)
      val probeCells = probed.fold(0L)(_.routed.length.toLong)
      val bucketRowsScanned = probed.flatMap(p =>
        snap.read("buckets", p.routed)).fold(0L)(_.count())
      // vector-store side: candidate ids route into vectors/ cells
      val vectorCells =
        probed.fold(0)(p => snap.paths("vectors", p.ids).length)
      val vectorRowsScanned = probed.fold(0L)(_.stored.count())
      if (k == 1) matched1 = Some(matchedK)

      val checks = Seq(
        "matched_closed_form" -> (k == 1 || matched1.exists(_ == matchedK)),
        "baseline_nonempty" -> matched1.exists(_.nonEmpty),
        "cell_subset" -> (probeCells <= math.min(batchKeys, cells.toLong) &&
          (cells <= batchKeys || probeCells < cells)),
        "knn_rank1_self" -> knnRank1Self)
      report("cosine_scale", Seq("k" -> k, "corpus" -> n, "bits" -> bits,
        "index_rows" -> idxRows, "cells" -> cells,
        "geometry_rule" -> "IndexGeometry.cosineBits+storeCells",
        "probe_cells" -> probeCells, "vector_cells" -> vectorCells,
        "rows_scanned" -> Map("buckets" -> bucketRowsScanned,
          "vectors" -> vectorRowsScanned),
        "matched" -> matchedK.size,
        "sec" -> secs("build" -> buildS, "probe" -> probeS, "knn" -> knnS),
        "knn_rows" -> knnRows.size),
        checks)
      (k, Seq("build" -> buildS, "probe" -> probeS, "knn" -> knnS))
    }

    ScaleHarness.exponents("cosine_scale", lines)
    spark.stop()
  }
}
