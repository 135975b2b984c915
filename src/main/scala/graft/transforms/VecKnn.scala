package graft.transforms

import graft.functions.Vectors.{dot, l2norm, lshBuckets}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vector k-NN machinery behind the KNN language verb — the q34 (exact
  * brute force), q35 (sign-LSH) and q46 (IVF) shapes from
  * [[graft.queries.Similarity]], generalized over column names and
  * parameters so a data engineer can drive similarity search from AQL.
  *
  * Reference analogue: none — the reference engine
  * (michaelbironneau/analyst) has no vector operators; this is the
  * beyond-parity LLM-pipeline surface exposed as a TRANSFORM verb.
  *
  * All entry points take `corpus` and `queries` frames of shape
  * (id, v, nrm) — v an array<double>, nrm its L2 norm (see the verb's
  * prep in TransformParser) — and return (qid, neighbor_id, cosine,
  * rank): each query row's top-k cosine neighbors from the corpus, self
  * excluded, rank 1..k by (cosine DESC, neighbor id) — deterministic
  * including ties. Cosines are rounded at 1e-6 and dot products fold
  * left-to-right, so the EXACT method hash-matches q34's DuckDB oracle
  * (gate q125).
  *
  * Scale shapes (same as the gates they generalize): the corpus side
  * never shuffles for scoring — only the (small) query frame broadcasts;
  * LSH candidates are bucket collisions; IVF scans nprobe/cells of the
  * corpus; the per-query top-k is the only key shuffle.
  */
object VecKnn {

  /** Exact cosine rerank of (qid, qv, qnrm, cid, cv, cnrm) pair rows. */
  private def scored(pairs: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("qid")
      .orderBy(col("cosine").desc, col("cid"))
    pairs
      .withColumn("cosine",
        round(dot(col("qv"), col("cv")) / (col("qnrm") * col("cnrm")), 6))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("cid").as("neighbor_id"), col("cosine"),
        col("rank"))
  }

  /** Exact-rerank a distinct (qid, cid) candidate frame. */
  private def rerank(cand: DataFrame, corpus: DataFrame,
      queries: DataFrame, k: Int): DataFrame =
    scored(cand
      .join(corpus.toDF("cid", "cv", "cnrm"), "cid")
      .join(broadcast(queries.toDF("qid", "qv", "qnrm")), "qid"), k)

  /** Brute-force exact top-k (q34's plan): broadcast the query frame
    * against the partitioned corpus — one corpus scan per query batch,
    * no shuffle until the per-query top-k.
    */
  def exact(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame =
    scored(corpus.toDF("cid", "cv", "cnrm")
      .join(broadcast(queries.toDF("qid", "qv", "qnrm")),
        col("qid") =!= col("cid")), k)

  /** Sign-LSH ANN (q35's plan): `tables` hash tables × `bits` sign bits;
    * candidates collide in ≥ 1 table and only candidates pay the exact
    * rerank. Vector width is probed from one corpus row (bounded driver
    * action — the hyperplanes need the dimension count up front).
    */
  def lsh(corpus: DataFrame, queries: DataFrame, k: Int,
      tables: Int = 16, bits: Int = 4): DataFrame = {
    val dims = corpus.select(size(col("v"))).limit(1).collect()
      .headOption.map(_.getInt(0)).getOrElse(0)
    if (dims == 0) return exact(corpus, queries, k) // empty corpus
    val buckets = corpus.select(col("id").as("cid"),
      posexplode(lshBuckets(col("v"), tables, bits, dims))
        .as(Seq("t", "bucket")))
    val qb = queries.select(col("id").as("qid"),
      posexplode(lshBuckets(col("v"), tables, bits, dims))
        .as(Seq("t", "bucket")))
    val cand = buckets.join(qb, Seq("t", "bucket"))
      .where(col("qid") =!= col("cid"))
      .select("qid", "cid").distinct()
    rerank(cand, corpus, queries, k)
  }

  /** IVF ANN (q46's plan): seeded coarse k-means quantizer, probe the
    * `nprobe` cells whose centroids are cosine-nearest each query, exact
    * rerank inside. Trains per invocation (the verb has no
    * index-lifecycle surface; at 100 TB an engineer materializes the
    * cell assignment once and reuses it across query batches).
    */
  def ivf(corpus: DataFrame, queries: DataFrame, k: Int,
      cells: Int = 16, nprobe: Int = 8): DataFrame = {
    // KMeans.fit throws on zero rows — give the empty corpus the same
    // clean empty result the EXACT and LSH methods produce
    if (corpus.isEmpty) return exact(corpus, queries, k)
    val s = corpus.sparkSession
    val fe = corpus.withColumn("features",
      org.apache.spark.ml.functions.array_to_vector(col("v")))
    val km = new org.apache.spark.ml.clustering.KMeans()
      .setK(cells).setSeed(42L).setMaxIter(3).setInitMode("random")
      .fit(fe)
    val assigned = km.transform(fe)
      .select(col("id").as("cid"), col("v").as("cv"),
        col("nrm").as("cnrm"), col("prediction").as("cluster"))
    val cents = s.createDataFrame(
      km.clusterCenters.toIndexedSeq.zipWithIndex
        .map { case (c, i) => (i, c.toArray) })
      .toDF("cluster", "centroid")
    val cw = Window.partitionBy("qid")
      .orderBy(col("cdist").desc, col("cluster"))
    val probes = queries.toDF("qid", "qv", "qnrm")
      .crossJoin(broadcast(cents))
      .withColumn("cdist",
        dot(col("qv"), col("centroid"))
          / (col("qnrm") * l2norm(col("centroid"))))
      .withColumn("crank", row_number().over(cw))
      .where(col("crank") <= nprobe)
      .select(col("qid"), col("qv"), col("qnrm"), col("cluster"))
    scored(assigned
      .join(broadcast(probes), Seq("cluster"))
      .where(col("qid") =!= col("cid")), k)
  }

  /** Sign-LSH-blocked cosine THRESHOLD pairs over one frame — q44's
    * candidates-then-verify shape generalized over (tables, bits) for
    * the NEARDEDUP METHOD COSINE verb. Input (id, v, nrm); output
    * (doc_a, doc_b, cosine) with doc_a < doc_b and round-6 cosine ≥ t.
    * Candidates are bucket collisions (the pair space never
    * materializes); for a pair at cosine c the all-tables miss
    * probability is (1−(1−acos(c)/π)^bits)^tables — raise bits for
    * tighter thresholds, tables for recall.
    *
    * NOT side-effect free at construction: the [[probeDims]] raggedness
    * probe runs one eager 2-cell aggregate over `e` (two for the
    * AGAINST variant) BEFORE the returned frame is ever executed. The
    * dimension cannot be validated lazily — it parameterizes the native
    * bucket/dot kernel width, so it must be known at plan-build time.
    * Callers pass localCheckpointed rep frames (the verb builders), so
    * the probe reads materialized partitions, not the raw pipeline.
    */
  def cosinePairs(e: DataFrame, threshold: Double,
      tables: Int = 32, bits: Int = 4): DataFrame = {
    val dims = probeDims(e, "NEARDEDUP METHOD COSINE")
    if (dims == 0) // empty input → empty pair frame, same schema
      return e.select(col("id").as("doc_a"), col("id").as("doc_b"),
        lit(0.0).as("cosine")).limit(0)
    // round 16: the bucket fan-out feeds BOTH candidate-join sides —
    // materialize it once (EAGER: the join's sibling map stages would
    // otherwise race to recompute the tables×-way lshBuckets projection
    // over the rep vectors; guide §2.4). cosinePairsStar already
    // checkpoints its extended-signature fan-out the same way.
    val buckets = bucketFrame(e, tables, bits, dims).localCheckpoint()
    val cand = buckets.toDF("doc_a", "t", "bucket")
      .join(buckets.toDF("doc_b", "t", "bucket"), Seq("t", "bucket"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    verifiedCosine(cand
      .join(e.toDF("doc_a", "va", "nrm_a"), "doc_a")
      .join(e.toDF("doc_b", "vb", "nrm_b"), "doc_b"),
      col("va"), col("vb"), col("nrm_a"), col("nrm_b"), threshold)
      .select(col("doc_a"), col("doc_b"), col("cosine"))
  }

  /** Per-bucket document frequencies ≥ `minF` over the sign-LSH tables —
    * [[NearDup.bandHeavyHitters]]'s diagnostic ported to the vector
    * side. A near-identical VECTOR family (one embedding re-encoded
    * with tiny perturbations — the thing exact-first collapse on
    * xxhash64(v) cannot merge, because every copy has a distinct bit
    * pattern) shares the same sign pattern in (almost) every table, so
    * its f members put ~f rows into one bucket per table and the bucket
    * self-join pays Θ(f²) there. Returns (t, bucket, f) for buckets at
    * or above `minF` — run it before a big cosine-dedup job; the mass
    * it reports is where [[cosinePairsStar]] caps the quadratic term.
    * Frame is bucket-vocabulary-bounded and fully partial-aggregatable.
    */
  def bucketHeavyHitters(e: DataFrame, minF: Long,
      tables: Int = 32, bits: Int = 4): DataFrame = {
    val dims = probeDims(e, "cosine bucketHeavyHitters")
    if (dims == 0)
      return e.sparkSession.range(0)
        .select(col("id").cast("int").as("t"),
          col("id").cast("int").as("bucket"), col("id").as("f"))
    bucketFrame(e, tables, bits, dims)
      .groupBy(col("t"), col("bucket"))
      .agg(count(lit(1)).as("f"))
      .where(col("f") >= minF)
  }

  /** [[cosinePairs]] with a hot-bucket star split —
    * [[NearDup.minhashPairsStar]]'s cap-or-split strategy ported to the
    * vector side, with one necessary addition the text star does not
    * need: SUB-BUCKET REFINEMENT. Buckets with ≤ `starAbove` members
    * emit all pairs (identical to [[cosinePairs]]); hotter buckets
    * refine their members by extending the SAME table's signature with
    * up to 16 extra hyperplane bits (the coarse bucket is exactly the
    * low `bits` of the extended id, so refinement never moves a member
    * out of its bucket) and emit only verified
    * (anchor = min id in SUB-bucket, member) star edges — LINEAR in
    * bucket size instead of quadratic.
    *
    * Why refinement is load-bearing here and absent in the text star: a
    * MinHash band collision already implies high Jaccard, so a hot
    * band-bucket is a genuine near-dup family and its min id anchors
    * it. A `bits`-bit sign-LSH bucket is just 1/2^bits of the sphere —
    * a hot bucket holds the ε-family AND ordinary corpus traffic, and
    * the min id lands on a dissimilar corpus vector whose star edges
    * all fail verification (measured: the unrefined port lost EVERY
    * family pair in graft.SkewScale). At bits+16 the family still
    * shares its sub-bucket (per-member flip probability ∝ its tiny
    * angle) while corpus density per sub-bucket drops 2^-16, so the
    * sub-anchor is a family member and the star verifies. Members that
    * flip a refinement bit in one table rejoin the family through the
    * common min-member anchor in the other tables; the exact verify
    * guarantees no false merges in any case — refinement only affects
    * RECALL of the star, and graft.SkewScale gates survivor-set
    * equality with the all-pairs path on a perturbed-copy family while
    * candidate work drops Θ(f²) → Θ(f). Pair-list consumers should use
    * [[cosinePairs]] or cold buckets only.
    */
  def cosinePairsStar(e: DataFrame, threshold: Double, starAbove: Long,
      tables: Int = 32, bits: Int = 4): DataFrame = {
    val dims = probeDims(e, "NEARDEDUP METHOD COSINE")
    if (dims == 0)
      return e.select(col("id").as("doc_a"), col("id").as("doc_b"),
        lit(0.0).as("cosine")).limit(0)
    val refine = math.min(16, 30 - bits)
    // one extended-signature fan-out feeds the size aggregate and both
    // join sides; coarse bucket = low `bits` of the extended id
    val buckets = e.select(col("id"),
        posexplode(lshBuckets(col("v"), tables, bits + refine, dims))
          .as(Seq("t", "ext")))
      .withColumn("bucket", col("ext").bitwiseAND(lit((1 << bits) - 1)))
      .localCheckpoint(false)
    val sizes = buckets.groupBy(col("t"), col("bucket"))
      .agg(count(lit(1)).as("f"))
      .localCheckpoint(false)
    val coldKeys = sizes.where(col("f") <= starAbove)
      .select(col("t"), col("bucket"))
    val cold = buckets.join(coldKeys, Seq("t", "bucket"))
      .select(col("id"), col("t"), col("bucket"))
    val coldPairs = cold.toDF("doc_a", "t", "bucket")
      .join(cold.toDF("doc_b", "t", "bucket"), Seq("t", "bucket"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
    // hot buckets: star within each refined sub-bucket; anchor =
    // sub-bucket min id, so (anchor, member) is already ordered
    val hotMembers = buckets
      .join(sizes.where(col("f") > starAbove)
        .select(col("t"), col("bucket")), Seq("t", "bucket"))
      .select(col("id"), col("t"), col("ext"))
      .localCheckpoint(false)
    val subAnchors = hotMembers.groupBy(col("t"), col("ext"))
      .agg(min(col("id")).as("anchor"))
    val hotPairs = hotMembers.join(subAnchors, Seq("t", "ext"))
      .where(col("id") =!= col("anchor"))
      .select(col("anchor").as("doc_a"), col("id").as("doc_b"))
    val cand = coldPairs.union(hotPairs).distinct()
    verifiedCosine(cand
      .join(e.toDF("doc_a", "va", "nrm_a"), "doc_a")
      .join(e.toDF("doc_b", "vb", "nrm_b"), "doc_b"),
      col("va"), col("vb"), col("nrm_a"), col("nrm_b"), threshold)
      .select(col("doc_a"), col("doc_b"), col("cosine"))
  }

  /** Batch-vs-corpus cosine threshold matching for the AGAINST form:
    * batch ids with ≥ 1 corpus vector at round-6 cosine ≥ t. Same
    * blocking as [[cosinePairs]], but candidates are batch×corpus
    * bucket collisions only — the corpus bucket frame is the write-once
    * index at scale, the batch side shuffles its own buckets. Same
    * construction-time caveat as [[cosinePairs]]: the dimension probe
    * runs eagerly over BOTH frames before the result executes.
    */
  def cosineCrossMatches(batch: DataFrame, corpus: DataFrame,
      threshold: Double, tables: Int = 32, bits: Int = 4): DataFrame = {
    val cd = probeDims(corpus, "NEARDEDUP METHOD COSINE corpus")
    val bd = probeDims(batch, "NEARDEDUP METHOD COSINE batch")
    if (cd == 0 || bd == 0)
      return batch.select(col("id")).limit(0)
    if (cd != bd) throw graft.transforms.TransformParser.TransformError(
      s"NEARDEDUP METHOD COSINE: batch vectors are $bd-dimensional but " +
        s"corpus vectors are $cd-dimensional")
    val cb = bucketFrame(corpus, tables, bits, cd).toDF("cid", "t", "bucket")
    val bb = bucketFrame(batch, tables, bits, cd).toDF("bid", "t", "bucket")
    val cand = bb.join(cb, Seq("t", "bucket"))
      .select("bid", "cid").distinct()
    verifiedCosine(cand
      .join(batch.toDF("bid", "bv", "bnrm"), "bid")
      .join(corpus.toDF("cid", "cv", "cnrm"), "cid"),
      col("bv"), col("cv"), col("bnrm"), col("cnrm"), threshold)
      .select(col("bid").as("id")).distinct()
  }

  /** The once-per-corpus sign-LSH bucket index persisted to disk — the
    * write-once artifact for embedding-level AGAINST (q142's shape): the
    * corpus bucket fan-out is computed ONE time here and every later
    * probe batch ([[cosineCrossMatchesStored]]) answers from the files
    * without touching corpus vectors outside its routed cells. Layout
    * under `base` mirrors NearDup.bandStoreTo:
    *  - `buckets/` — (id, t, bucket) partitioned by
    *    pc = pmod(xxhash64(t, bucket), cells): a bucket's cell is a pure
    *    function of (table, bucket), so a probe batch's candidate scan
    *    reads ONLY its own buckets' cell directories;
    *  - `vectors/` — (id, v, nrm) partitioned by sc = pmod(xxhash64(id),
    *    cells): the exact cosine verify fetches only candidate ids'
    *    cells — vectors are stored once, never ×tables;
    *  - `meta/` — (kind = "cosine_vec", cells, tables, bits, dims): the
    *    hyperplanes are a pure function of (tables, bits, dims), so
    *    recording those pins the whole bucketing; a probe with different
    *    geometry errors instead of silently missing every pair.
    * `e` columns: (id, v, nrm) — callers collapse exact-duplicate
    * vectors first (membership is all the AGAINST probe asks).
    */
  def cosineStoreTo(base: String, e: DataFrame, tables: Int, bits: Int,
      cells: Int, derived: Seq[String] = Nil): Unit = {
    require(cells >= 1, s"cosineStoreTo: cells $cells must be >= 1")
    val dims = probeDims(e, "INDEX METHOD COSINE")
    CellStore.write(base, CellStore.cosine(cells, tables, bits, dims),
      e.select(col("id"), col("v"), col("nrm")).localCheckpoint(), cells)
    // `derived` names the IndexGeometry-derived fields ("" = all
    // pinned); a derived `bits` carries the dedup-grade threshold
    // contract that stored probes enforce with a warning
    MetaParquet.write(e.sparkSession, s"$base/meta", MetaParquet.record(
      "kind" -> "cosine_vec", "cells" -> cells, "tables" -> tables,
      "bits" -> bits, "dims" -> dims, "derived" -> derived.mkString(",")))
  }

  /** Append new vectors to an existing [[cosineStoreTo]] artifact —
    * NearDup.bandStoreAppend's contract for the sign-LSH family:
    * geometry (tables, bits, cells, dims) comes from `meta/`, never the
    * caller; meta is untouched; and because a vector's buckets are a
    * pure function of the vector and the (meta-pinned) hyperplanes,
    * build-then-append ≡ one full build of the union. Appending vectors
    * of a different dimension errors (the hyperplane geometry is pinned
    * to `dims`; mixed dims would bucket nonsense); a batch with no
    * vector appends nothing.
    */
  def cosineStoreAppend(base: String, e: DataFrame)
      : Map[String, Seq[Int]] =
    CellStore.append(base, "cosine_vec", e)

  /** Remove vectors from an existing [[cosineStoreTo]] artifact —
    * NearDup.bandStoreDelete's contract for the sign-LSH family: a
    * vector's bucket keys and vector-store cell are pure functions of
    * the vector itself (hyperplanes are seeded by (t, dims), geometry
    * from `meta/`), so the delete batch routes to exactly the cells
    * holding its rows and only those are rewritten. Content-keyed like
    * the store (id = xxhash64(v)): deleting a vector removes its
    * membership no matter how many rows or appends carried it.
    * Degenerate vectors (the build's null/zero/NaN filter) were never
    * stored, so callers apply the same filter before routing. `e`
    * columns: (id, v, nrm), the build/append frame shape.
    */
  def cosineStoreDelete(base: String, e: DataFrame)
      : Map[String, Seq[Int]] =
    CellStore.delete(base, "cosine_vec", e, "id")

  /** [[cosineCrossMatches]] against a [[cosineStoreTo]] artifact: batch
    * ids with ≥ 1 stored vector at round-6 cosine ≥ threshold, touching
    * ONLY the stored files plus the batch, through the stored-probe
    * reader ([[CellStore.snapshot]]): the batch's buckets route to the
    * bucket cells, candidates share a (t, bucket) key with the broadcast
    * batch, and their ids route to the `vectors/` cells for the shared
    * round-6 cosine predicate. The batch's dimension must equal the
    * artifact's, and geometry comes FROM the artifact: absent (tables,
    * bits) adopt `meta/`'s values (the stored index is the source of
    * truth — required now that the INDEX verb derives bits from the
    * corpus, so a probe cannot guess them), while explicitly passed
    * values are validated against meta (a mismatch would silently miss
    * every true pair).
    * `batch` columns: (id, v, nrm).
    */
  def cosineCrossMatchesStored(s: org.apache.spark.sql.SparkSession,
      base: String, batch: DataFrame, threshold: Double,
      tablesOpt: Option[Int] = None, bitsOpt: Option[Int] = None)
      : DataFrame = {
    val snap = CellStore.snapshot(s, base, "cosine_vec",
      "NEARDEDUP METHOD COSINE AGAINST STORED")
    val meta = snap.meta
    for ((wantOpt, got, what) <- Seq((tablesOpt, meta.getAs[Int]("tables"),
        "TABLES"), (bitsOpt, meta.getAs[Int]("bits"), "BITS"));
        want <- wantOpt)
      require(want == got,
        s"stored cosine index at $base was built with $what=$got but the " +
          s"probe asked for $want — mismatched bucketing would silently " +
          "miss every true pair")
    val bits = meta.getAs[Int]("bits")
    // derived-bits contract (IndexGeometry.cosineBits): the derivation
    // assumes dedup-grade thresholds, so probing a derived-bits
    // artifact at a moderate threshold can deterministically miss
    // boundary pairs — warn (the pairs returned are exact-verified
    // regardless; the risk is recall, not precision)
    if (meta.schema.fieldNames.contains("derived") &&
        meta.getAs[String]("derived").split(",").contains("bits") &&
        threshold < graft.transforms.IndexGeometry.derivedBitsThresholdFloor) {
      val msg =
        s"stored cosine index at $base uses DERIVED bits=$bits, sized " +
          s"for dedup-grade thresholds (>= " +
          s"${graft.transforms.IndexGeometry.derivedBitsThresholdFloor}); " +
          s"probing at THRESHOLD $threshold may silently miss boundary " +
          "pairs — re-bucket with INDEX REBUILD '" + base +
          "' TABLES <t> BITS <b> (explicit geometry, no source corpus " +
          "needed), or serve through KNN/IVF which reranks exactly"
      graft.transforms.IndexMaintenance.Warnings.emit(msg)
      // also persisted (to the artifact's SIBLING warnings dir — see
      // Warnings.persist): the operator who runs INDEX DESCRIBE
      // tomorrow is not the process that probed below contract today
      graft.transforms.IndexMaintenance.Warnings.persist(
        s.sparkContext.hadoopConfiguration, base, msg)
    }
    snap.candidates(batch).fold(batch.select(col("id").as("b_id")).limit(0)) {
      c =>
        verifiedCosine(c.pairs
          .join(batch.toDF("b_id", "bv", "bnrm"), "b_id")
          .join(c.stored.select(col("id").as("c_id"), col("v").as("cv"),
            col("nrm").as("cnrm")), "c_id"),
          col("bv"), col("cv"), col("bnrm"), col("cnrm"), threshold)
          .select(col("b_id")).distinct()
    }
  }

  /** Top-k cosine serving from a [[cosineStoreTo]] artifact — the KNN
    * verb's STORED form for the sign-LSH family, closing the one
    * stored-artifact asymmetry (all four families probe via NEARDEDUP
    * AGAINST STORED, but before this only IVF served KNN): a user who
    * built `INDEX … METHOD COSINE INTO` can now ask top-k from the same
    * files. Candidates come from the stored-probe reader as for
    * [[cosineCrossMatchesStored]]; instead of a threshold keep/drop,
    * they are exact-reranked to the top-k (cosine DESC, neighbor id)
    * per query. Candidates can only be
    * MISSED, never mis-ranked (the rerank reads true vectors), so
    * LSH serving inherits q35's contract: recall is governed by
    * tables × bits, precision is exact.
    *
    * The store is content-keyed (id = xxhash64(v)), so `neighbor_id` is
    * the stored entry's content hash, and a query whose own vector is
    * indexed excludes ITSELF by content (c_id = xxhash64(qv)), not by
    * user key — the gate's oracle states the same as `c.v <> q.v`.
    *
    * 100 TB shape: the per-batch cost is the routed bucket cells + the
    * candidates' vector cells — the corpus never shuffles and nothing
    * outside the batch's own cells is listed or read (q148's pattern).
    * `queries` columns: (qid, qv: array<double>, qnrm).
    */
  def cosineKnnStored(s: org.apache.spark.sql.SparkSession, base: String,
      queries: DataFrame, k: Int): DataFrame = {
    val snap = CellStore.snapshot(s, base, "cosine_vec",
      "KNN … METHOD LSH STORED")
    val meta = snap.meta
    val bits = meta.getAs[Int]("bits")
    // the derived-bits contract, stated for SERVING: the derivation
    // sizes buckets for dedup-grade similarity (~8 entries/bucket), so
    // a top-k ask against a derived-bits artifact can miss MODERATE-
    // similarity neighbors entirely (candidates can only be missed,
    // never mis-ranked — the rerank is exact). Unlike the AGAINST
    // probe there is no threshold to gate on, so the warning fires on
    // every derived-bits serve: pin BITS (and size TABLES up) at build
    // time, or serve through KNN IVF, which routes by distance and
    // reranks exactly.
    if (meta.schema.fieldNames.contains("derived") &&
        meta.getAs[String]("derived").split(",").contains("bits")) {
      val msg =
        s"stored cosine index at $base uses DERIVED bits=$bits, sized " +
          "for dedup-grade similarity; KNN top-k served from it can " +
          "miss moderate-similarity neighbors (candidates are bucket " +
          "collisions) — re-bucket with INDEX REBUILD '" + base +
          "' TABLES <t> BITS <b> (explicit geometry, no source corpus " +
          "needed), or serve through KNN METHOD IVF STORED, which " +
          "reranks exactly"
      graft.transforms.IndexMaintenance.Warnings.emit(msg)
      graft.transforms.IndexMaintenance.Warnings.persist(
        s.sparkContext.hadoopConfiguration, base, msg)
    }
    // materialize the panel once: it feeds the bucket fan-out, the
    // content-hash exclusion frame AND the rerank broadcast join —
    // unmaterialized (the verb's prep passes materialize = false for
    // stored serving) each consumer would re-run the full source
    // scan + cast + norm pipeline just to extract the tiny panel
    val qs = queries.localCheckpoint(false)
    val q = qs.select(col("qid").as("id"), col("qv").as("v"),
      col("qnrm").as("nrm"))
    // self-exclusion is by CONTENT, matching the store's key: the
    // query's own indexed vector must not be its nearest neighbor
    val qh = qs.select(col("qid").as("b_id"), xxhash64(col("qv")).as("qvh"))
    snap.candidates(q,
        _.join(broadcast(qh), "b_id").where(col("c_id") =!= col("qvh")))
      .fold(qs.select(col("qid"), xxhash64(col("qv")).as("neighbor_id"),
        col("qnrm").cast("double").as("cosine"), lit(0).as("rank"))
        .limit(0)) { c =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("qid").orderBy(col("cosine").desc, col("c_id"))
        c.stored.select(col("id").as("c_id"), col("v").as("cv"),
            col("nrm").as("cnrm"))
          .join(broadcast(c.pairs.toDF("qid", "c_id")), "c_id")
          .join(broadcast(qs), "qid")
          .withColumn("cosine", round(dot(col("qv"), col("cv")) /
            (col("qnrm") * col("cnrm")), 6))
          .withColumn("rank", row_number().over(w))
          .where(col("rank") <= k)
          .select(col("qid"), col("c_id").as("neighbor_id"), col("cosine"),
            col("rank"))
      }
  }

  /** Vector dimension of an (id, v, nrm) frame — 0 when empty, a
    * TransformError when ragged. The check is load-bearing: the native
    * bucket/dot kernels iterate min(dims, len), so a silently mixed
    * corpus would hash short vectors as zero-padded and truncate dots
    * to the shared prefix — "matches" the oracle can never reproduce.
    * One 2-cell aggregate over the frame, cheap next to the bucket job.
    */
  private[graft] def probeDims(df: DataFrame, what: String): Int = {
    val r = df.agg(min(size(col("v"))), max(size(col("v")))).collect().head
    if (r.isNullAt(0)) 0
    else if (r.getInt(0) != r.getInt(1))
      throw graft.transforms.TransformParser.TransformError(
        s"$what: ragged vector lengths (${r.getInt(0)}..${r.getInt(1)}) — " +
          "all vectors must share one dimension")
    else r.getInt(1)
  }

  /** ONE definition of the sign-LSH bucket fan-out (id, t, bucket) and
    * of the exact-verify predicate, shared by both cosine threshold
    * paths so a fix to either can never apply to one and not the other.
    * private[graft] (round 16): PlanSpec pins the lsh_buckets derivation
    * on this subplan directly, because the verb-level pair plan now
    * reads the fan-out through a checkpoint boundary (LogicalRDD).
    */
  private[graft] def bucketFrame(df: DataFrame, tables: Int, bits: Int,
      dims: Int): DataFrame =
    df.select(col("id"),
      posexplode(lshBuckets(col("v"), tables, bits, dims))
        .as(Seq("t", "bucket")))

  private def verifiedCosine(joined: DataFrame, va: Column, vb: Column,
      na: Column, nb: Column, threshold: Double): DataFrame =
    joined
      .withColumn("cosine", round(dot(va, vb) / (na * nb), 6))
      .where(col("cosine") >= threshold)
}
