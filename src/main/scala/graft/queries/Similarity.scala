package graft.queries

import graft.{QueryDef, Tables}
import graft.transforms.{CellStore, MetaParquet}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (64-dim float vectors) —
  * beyond-parity LLM-pipeline surface.
  *
  *  - [[q34]] brute-force cosine top-k: the exactness baseline. Query set
  *    broadcast against the corpus, dot products as codegen'd
  *    `zip_with`/`aggregate` folds (left-to-right, so the DuckDB oracle's
  *    `list_reduce` computes bit-identical doubles). At 100 TB the corpus
  *    side stays partitioned; only the (small) query side broadcasts —
  *    cost is a single corpus scan per query batch, embarrassingly
  *    parallel, no shuffle at all until the per-query top-k (which AQE
  *    sizes by the tiny query count).
  *  - [[q35]] random-hyperplane LSH ANN: L hash tables × b sign bits per
  *    table; candidates = bucket collisions in any table, exact-reranked.
  *    The scale path: corpus bucketing is a one-off narrow projection; at
  *    query time only colliding buckets are scanned. Recall vs. q34 is
  *    asserted in PipelineSpec (engine-specific hashing ⇒ no SQL oracle).
  *
  * All math in double precision end-to-end: float dot products would
  * diverge between engines and across partitionings.
  */
object Similarity {

  import graft.functions.Vectors.{dot, l2norm, lshBuckets}

  private val K = 5
  // 100-query panel: wide enough that the PipelineSpec recall@5 floors
  // (≥ 0.8 for LSH/IVF/PQ vs the q34 exact baseline) measure parameter
  // quality rather than panel luck — at 20 queries a single lucky query
  // moves mean recall by 5 points; at 100 it takes a real regression.
  private val NumQueries = 100

  /** q129 portable-IVF shape: 16 cells, 8 probed per query. Mirrors q46's
    * parameters so the two gates pin the same search geometry — q46 with a
    * trained quantizer + recall spec, q129 with a deterministic quantizer
    * + hash-exact oracle.
    */
  private val IvfCells = 16
  private val IvfProbes = 8

  /** q136 stored-index probe panel: small on purpose. 8 queries × 2
    * probed cells draw ≤ 16 of the 16 cells with high probability of a
    * STRICT subset (measured: 10-13 cells at sf0.01/sf0.1), so the
    * partition pruning the gate exists to demonstrate actually prunes —
    * a 100-query × 8-probe panel would touch every cell and make the
    * pruning vacuously true.
    */
  private[queries] val StoredQueries = 8
  private[queries] val StoredProbes = 2

  /** q163 stored IVF-PQ gate shape: 8 subspaces × 8 dims over the
    * 64-dim embeddings, 16 codes per subspace (pinned — the derived
    * default is 256, clamped by IndexGeometry.pqCodes), ADC shortlist
    * 20 before the exact rerank. Shortlist 20 sits BELOW the typical
    * routed-candidate count (≈ 60 at sf0.01, ≈ 625 at sf0.1), so the
    * gate's final answer genuinely depends on the ADC ranking — the
    * oracle replays the whole quantize-encode-LUT-sum chain, not just
    * the rerank.
    */
  private[queries] val StoredPqM = 8
  private[queries] val StoredPqCodes = 16
  private[queries] val StoredPqShortlist = 20

  /** Portable-IVF oracle parameterized on the probe panel — ONE SQL text
    * for q129/q136 so a future change to the scoring/tie-break algebra
    * cannot desynchronize the two gates' oracles.
    */
  private def ivfOracleSql(numQueries: Int, numProbes: Int): String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |n AS (SELECT vec_id, v,
       |  sqrt(list_reduce(list_prepend(0.0, [x*x for x in v]), (a,b) -> a+b)) AS nrm
       |  FROM e),
       |cent AS (
       |  SELECT cluster, cv, cnrm FROM (
       |    SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1
       |        AS cluster,
       |      v AS cv, nrm AS cnrm
       |    FROM n) WHERE cluster < $IvfCells),
       |scored AS (
       |  SELECT q.vec_id, q.v, q.nrm, c.cluster,
       |    round(list_reduce(list_prepend(0.0,
       |        [q.v[i] * c.cv[i] for i in range(1, len(q.v)+1)]), (a,b) -> a+b)
       |      / (q.nrm * c.cnrm), 6) AS score
       |  FROM n q, cent c),
       |assigned AS (
       |  SELECT vec_id, v, nrm, cluster FROM scored
       |  QUALIFY row_number() OVER (PARTITION BY vec_id
       |    ORDER BY score DESC, cluster) = 1),
       |probes AS (
       |  SELECT vec_id AS qid, v AS qv, nrm AS qnrm, cluster FROM scored
       |  WHERE vec_id < $numQueries
       |  QUALIFY row_number() OVER (PARTITION BY vec_id
       |    ORDER BY score DESC, cluster) <= $numProbes),
       |s AS (
       |  SELECT p.qid, a.vec_id AS neighbor_id,
       |    round(list_reduce(list_prepend(0.0,
       |        [p.qv[i] * a.v[i] for i in range(1, len(p.qv)+1)]),
       |        (x, y) -> x + y)
       |      / (p.qnrm * a.nrm), 6) AS cosine
       |  FROM probes p JOIN assigned a
       |    ON p.cluster = a.cluster AND p.qid <> a.vec_id)
       |SELECT qid, neighbor_id, cosine, rank FROM (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY qid ORDER BY cosine DESC, neighbor_id) AS rank FROM s)
       |WHERE rank <= $K""".stripMargin

  /** Deterministic portable-IVF index build shared by q129/q136 — ONE
    * implementation of the centroid pick + scoring + assignment so the
    * in-plan gate (q129) and the stored-artifact gate (q136) can never
    * diverge. Returns (e, cents, scored, assigned):
    *  - e: normalized embeddings, materialized once (feeds centroid pick,
    *    scoring, and both rerank sides — the q133/KnnVerb.prep rationale);
    *  - cents: deterministic seeded sample as centroids — distributed
    *    top-16 by md5(vec_id), the 16-row rank window runs post-limit;
    *  - scored: every (vector, centroid) round-6 cosine, the broadcast
    *    16-row fan-out;
    *  - assigned: argmax cell per vector — lexicographic struct max ==
    *    the oracle's (score DESC, cluster ASC) row_number()=1; the
    *    partial agg collapses the 16 candidate rows map-side before the
    *    one (vec_id) shuffle.
    */
  private def ivfBuild(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val e = emb(s, dir).withColumn("nrm", l2norm(col("v")))
      .localCheckpoint(false)
    val (cents, scored, assigned) = ivfBuildFrom(e, IvfCells)
    (e, cents, scored, assigned)
  }

  /** [[ivfBuild]]'s algebra over an arbitrary normalized frame
    * (vec_id, v, nrm) at an arbitrary cell count — the shared core for
    * the gate constants (16 cells) and the scale harness
    * (graft.AnnScale, cells ∝ √corpus). One definition of centroid
    * pick + scoring + argmax assignment for every IVF consumer.
    */
  private[graft] def ivfBuildFrom(e: DataFrame, cells: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    val cents = e
      .withColumn("mk", md5(col("vec_id").cast("string")))
      .orderBy(col("mk")).limit(cells)
      .withColumn("cluster",
        row_number().over(Window.orderBy(col("mk"))) - 1)
      .select(col("cluster"), col("v").as("cv"), col("nrm").as("cnrm"))
    val scored = e.crossJoin(broadcast(cents))
      .withColumn("score",
        round(dot(col("v"), col("cv")) / (col("nrm") * col("cnrm")), 6))
      .select(col("vec_id"), col("v"), col("nrm"), col("cluster"),
        col("score"))
    val assigned = scored
      .groupBy(col("vec_id"))
      .agg(max(struct(col("score"), (-col("cluster")).as("nc"))).as("m"),
        first(col("v")).as("v"), first(col("nrm")).as("nrm"))
      .select(col("vec_id"), (-col("m.nc")).as("cluster"), col("v"),
        col("nrm"))
    (cents, scored, assigned)
  }

  /** q136's oracle text, exposed for the streaming serving gate (q139):
    * the stream answers the SAME probe panel from the SAME stored index,
    * so the two gates share one oracle by construction.
    */
  private[queries] def storedIvfOracleSql: String =
    ivfOracleSql(StoredQueries, StoredProbes)

  /** The once-per-corpus IVF index-build job: [[ivfBuild]]'s deterministic
    * assignment persisted as the stored artifact — `<base>/index` is the
    * assignment frame written `partitionBy("cluster")` (cell membership
    * encoded in the directory layout, which is what probe-time pruning
    * keys on) and `<base>/centroids` the 16 centroid rows. Shared by the
    * batch probe (q136) and the streaming probe (q139) so both serving
    * gates answer from an identically-built artifact. Returns the base
    * dir (a temp dir registered for JVM-exit cleanup).
    */
  private[queries] def ivfStore(s: SparkSession, dir: String): String =
    storedIvf.getOrElseUpdate(dir, {
      val e = emb(s, dir).withColumn("nrm", l2norm(col("v")))
        .localCheckpoint(false)
      ivfStoreFrom(e, IvfCells)
    })

  /** One PQ-carrying stored artifact per corpus dir per JVM — the
    * [[storedIvf]] memo for the ADC family (q163's artifact shape:
    * same centroids/cells plus per-subspace codebooks + code arrays),
    * shared by the streaming gate so q166 never re-pays the build.
    */
  private val storedIvfPq =
    scala.collection.concurrent.TrieMap.empty[String, String]

  private[queries] def ivfPqStore(s: SparkSession, dir: String): String =
    storedIvfPq.getOrElseUpdate(dir, {
      val e = emb(s, dir).withColumn("nrm", l2norm(col("v")))
        .localCheckpoint(false)
      val idxDir = java.nio.file.Files.createTempDirectory("graft_ivfpq_")
      Advanced.registerTmpDir(idxDir)
      ivfStoreTo(idxDir.toString, e, IvfCells,
        pq = Some((StoredPqM, StoredPqCodes)))
      idxDir.toString
    })

  /** Above this cell count the stored-index build switches from flat
    * argmax assignment (O(N·cells) score rows — the stage SCALING.md
    * measured super-linear: 385 s at 1.02 M vectors × 362 cells) to the
    * two-level coarse quantizer [[ivfBuildHier]] (O(N·√cells)). The gate
    * constants ([[IvfCells]] = 16) sit far below the threshold, so
    * q129/q136/q139 and their DuckDB oracles ride the flat path
    * bit-for-bit; only the scale harness (graft.AnnScale, cells ∝ √N)
    * crosses it.
    */
  private[graft] val IvfFlatMaxCells = 64

  /** Two-level coarse quantizer — the assignment shape every production
    * IVF build uses (FAISS-style IMI/residual coarse level) once the cell
    * count makes flat argmax the dominant cost. Geometry:
    *  - super-centroids = the first ⌈√cells⌉ rows of the SAME md5
    *    ordering that picks the cells, so every super-centroid is also a
    *    child centroid (cluster < g) and assigns to itself (self-cosine
    *    1.0 wins its own argmax);
    *  - each child centroid joins the super it scores highest against
    *    (identical round-6 cosine + smaller-id tie-break algebra as
    *    vector assignment);
    *  - a vector assigns in two argmax hops: nearest super (N·g score
    *    rows), then nearest child WITHIN that super (N·cells/g average) —
    *    O(N·√cells) total vs flat's O(N·cells).
    * The assignment is approximate where flat is exact (a vector near a
    * super-cell boundary can land in a neighboring super's child), which
    * is why the gates stay flat: this path exists for the index-build
    * scale curve, and [[ivfProbeStored]] routes probes through the SAME
    * two hops so a query is always served its own assignment cell first —
    * graft.AnnScale's self-copy-dominance and recall invariants hold on
    * both paths. Identical vectors still get identical cells (the two
    * hops are deterministic functions of v), which the dedup closed form
    * relies on.
    *
    * Returns (cents with their `super` column, supers, assigned).
    */
  private[graft] def ivfBuildHier(e: DataFrame, cells: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    val g = math.ceil(math.sqrt(cells.toDouble)).toInt
    // tiny (≤ cells rows) but derived via a corpus-wide TakeOrdered —
    // checkpoint once so its three consumers don't each rescan the corpus
    val cents0 = e
      .withColumn("mk", md5(col("vec_id").cast("string")))
      .orderBy(col("mk")).limit(cells)
      .withColumn("cluster",
        row_number().over(Window.orderBy(col("mk"))) - 1)
      .select(col("cluster"), col("v").as("cv"), col("nrm").as("cnrm"))
      .localCheckpoint(false)
    val supers = cents0.where(col("cluster") < g)
      .select(col("cluster").as("super"), col("cv").as("sv"),
        col("cnrm").as("snrm"))
      .localCheckpoint(false)
    val cents = cents0.crossJoin(broadcast(supers))
      .withColumn("score",
        round(dot(col("cv"), col("sv")) / (col("cnrm") * col("snrm")), 6))
      .groupBy(col("cluster"))
      .agg(max(struct(col("score"), (-col("super")).as("ns"))).as("m"),
        first(col("cv")).as("cv"), first(col("cnrm")).as("cnrm"))
      .select(col("cluster"), col("cv"), col("cnrm"),
        (-col("m.ns")).as("super"))
      .localCheckpoint(false)
    // hop 1 routes only to OCCUPIED supers: a super-centroid can lose
    // even its own child-row to a lower-id twin (two near-identical
    // vectors in the md5 prefix tie at rounded score 1.0 and the
    // min-id tie-break sends both children to the lower super), and a
    // vector hop-1-routed to a childless super would be silently
    // DROPPED from the index by hop 2's inner join — unservable
    // forever. Restricting the argmax to supers with ≥ 1 child keeps
    // assignment total; both frames are ≤ cells rows.
    val occupied = supers
      .join(cents.select(col("super")).distinct(), "super")
      .localCheckpoint(false)
    // Both argmax hops PROJECT THE VECTOR AWAY before aggregating and
    // rejoin (v, nrm) by key afterwards. Carrying v through the agg
    // (the flat path's first(v) shape, fine at 16 cells) is ruinous
    // here: first() over an array type disqualifies hash aggregation,
    // so Spark runs an object/sort-based aggregate — an external SORT
    // of the ~550-byte fan-out rows (jcmd-profiled: the build spent
    // its time in SortBasedAggregationIterator + UnsafeExternalSorter
    // page allocation, 100-240 s for a 1 M-vector build that reads
    // ~7 s in this shape). A slim (vec_id, cell, score) fan-out keeps
    // the argmax a pure-numeric HashAggregate with map-side combine;
    // the key joins that re-attach (v, nrm) shuffle e by vec_id once
    // each — narrow-row exchanges, cheap next to the sort they
    // replace.
    // hop 1: nearest super — the corpus × g score fan-out
    // The two vec_id re-attach joins below carry a CORPUS-SIZED build
    // side (ids1/ids2 are one row per vector) and are hinted merge:
    // their slim (long, int) rows compress so well that AQE's runtime
    // size estimate can fall under the broadcast threshold and convert
    // them to broadcast hash joins — building an N-row hashed relation
    // in driver memory, which is wrong at ANY scale for a frame ∝
    // corpus (measured: the 2.05 M-vector AnnScale build OOM'd the 8 GB
    // driver on exactly this conversion; merge-hinted it completes).
    // The hint costs nothing real: both sides already shuffle on vec_id.
    val ids1 = e.crossJoin(broadcast(occupied))
      .select(col("vec_id"), col("super"),
        round(dot(col("v"), col("sv")) / (col("nrm") * col("snrm")), 6)
          .as("score"))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("score"), (-col("super")).as("ns"))).as("m"))
      .select(col("vec_id"), (-col("m.ns")).as("super"))
    val e2 = e.join(ids1.hint("merge"), "vec_id")
    // hop 2: nearest child within the vector's own super — the
    // broadcast hash join fans each vector out to ~cells/g children
    val ids2 = e2.join(broadcast(cents), "super")
      .select(col("vec_id"), col("cluster"),
        round(dot(col("v"), col("cv")) / (col("nrm") * col("cnrm")), 6)
          .as("score"))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("score"), (-col("cluster")).as("nc"))).as("m"))
      .select(col("vec_id"), (-col("m.nc")).as("cluster"))
    val assigned = e.join(ids2.hint("merge"), "vec_id")
      .select(col("vec_id"), col("cluster"), col("v"), col("nrm"))
    (cents, supers, assigned)
  }

  /** The non-memoized index-build-and-persist step over an arbitrary
    * normalized frame — shared by [[ivfStore]] (gate constants) and
    * graft.AnnScale (per-k rebuilds, which must NOT memoize: each k is
    * a different corpus). At ≤ [[IvfFlatMaxCells]] cells the assignment
    * is the exact flat argmax the gates' oracles replay; above it the
    * two-level quantizer [[ivfBuildHier]] takes over and the artifact
    * additionally carries `<base>/supers` plus a `super` column on the
    * centroids — the marker [[ivfProbeStored]] keys its routing on.
    */
  private[graft] def ivfStoreFrom(e: DataFrame, cells: Int): String = {
    val idxDir = java.nio.file.Files.createTempDirectory("graft_ivf_")
    Advanced.registerTmpDir(idxDir)
    ivfStoreTo(idxDir.toString, e, cells)
    idxDir.toString
  }

  /** [[ivfStoreFrom]]'s write step against an EXPLICIT base path — the
    * durable form the INDEX language verb drives (a user-chosen
    * directory that outlives the JVM, completing the "write once, probe
    * forever" contract across jobs, not just across probes within one
    * session). Also writes a `meta/` row (kind = "ivf_vec", cells) so
    * cross-family artifact mixups error at probe time; [[ivfProbeStored]]
    * does not require it (pre-meta artifacts stay probe-able).
    */
  private[graft] def ivfStoreTo(base: String, e: DataFrame,
      cells: Int, derived: Seq[String] = Nil,
      pq: Option[(Int, Int)] = None): Unit = {
    val (cents, supersOpt, assigned) =
      if (cells <= IvfFlatMaxCells) {
        val (c, _, a) = ivfBuildFrom(e, cells); (c, None, a)
      } else {
        val (c, s, a) = ivfBuildHier(e, cells); (c, Some(s), a)
      }
    val spark = e.sparkSession
    cents.write.mode("overwrite").parquet(s"$base/centroids")
    supersOpt.foreach(_.write.mode("overwrite").parquet(s"$base/supers"))
    pq match {
      case Some((pm, pk)) =>
        // PQ codes ride the SAME cell layout as the full vectors, so the
        // ADC probe's candidate scan prunes to the routed cells exactly
        // like the full-vector probe — it just reads pm smallints per
        // candidate instead of dim doubles
        val dim = e.select(size(col("v")).as("d")).limit(1).collect()
          .headOption.map(_.getInt(0)).getOrElse(
            throw new IllegalArgumentException(
              "INDEX … PQ: cannot derive the subspace width from an " +
                "empty corpus"))
        require(dim % pm == 0,
          s"INDEX PQ $pm must divide the vector dimension $dim")
        val subDim = dim / pm
        val subs = pqSubsOf(e.select(col("vec_id"), col("v")), pm, subDim)
          .localCheckpoint(false)
        val cb = pqCodebookOf(subs, pm, pk).localCheckpoint(false)
        // `assigned` stays a plan: the index write and the codes join
        // each recompute it
        CellStore.write(base, CellStore.ivf(identity, Some(a =>
            pqEncodeFrom(subs, cb)
              .join(a.select(col("vec_id"), col("cluster")), "vec_id"))),
          assigned, cells)
        cb.coalesce(1).write.mode("overwrite").parquet(s"$base/codebook")
        MetaParquet.write(spark, s"$base/meta", MetaParquet.record(
          "kind" -> "ivf_vec", "cells" -> cells,
          "derived" -> derived.mkString(","), "pq_m" -> pm,
          "pq_subdim" -> subDim, "pq_codes" -> pk))
      case None =>
        CellStore.write(base, CellStore.ivf(identity, None), assigned, cells)
        MetaParquet.write(spark, s"$base/meta", MetaParquet.record(
          "kind" -> "ivf_vec", "cells" -> cells,
          "derived" -> derived.mkString(",")))
    }
  }

  /** Append new vectors to an existing [[ivfStoreTo]] artifact against
    * its FROZEN centroids — the one stored family whose append is not
    * equivalent to a full rebuild: centroids are a function of the
    * whole corpus, so a rebuild over the union would pick different
    * cells, while an append assigns the new vectors into the EXISTING
    * geometry (exactly how production IVF deployments ingest — FAISS
    * `add` after `train`). The assignment replays the build's own
    * argmax algebra — flat artifacts get the flat round-6 argmax,
    * hierarchical ones (marked by the `super` column) the same two
    * occupied-super hops — so an appended vector lands in precisely the
    * cell the build would have assigned it, and [[ivfProbeStored]]'s
    * hierarchy-consistent routing serves it from its own cell first
    * (the self-copy-dominance contract extends to appended rows, which
    * the AqlSpec append case pins at cosine 1.0). The drift caveat,
    * MEASURED (graft.DriftScale sweep, recorded in SCALING.md): if the
    * appended distribution drifts far from the build corpus, the
    * drifted rows concentrate into the few frozen cells nearest them,
    * and the cost is SCAN MASS, not correctness — probes of drifted
    * queries read rows ∝ the accumulated drifted mass (4.6× at a 50 %
    * drifted append) until a rebuild re-trains and re-balances, while
    * recall holds (ranking inside probed cells is exact, and
    * concentration serves the drifted queries' own neighbors first).
    * Monitor per-cell skew with INDEX DESCRIBE and rebuild when the
    * hot cell crosses the probe budget. Centroids, supers and `meta/`
    * are untouched; new
    * rows land as extra files in existing `cluster=` directories.
    * Both argmax hops use the slim project-array-away shape + merge-
    * hinted rejoins (the build's own scale lessons) on BOTH paths —
    * an append batch can be corpus-sized (a backfill), so the flat
    * path must not ride first()-over-array either.
    */
  private[graft] def ivfStoreAppend(base: String, e: DataFrame)
      : Map[String, Seq[Int]] =
    CellStore.append(base, "ivf_vec", e)

  /** A maintenance batch of an IVF artifact for [[CellStore]]: the
    * batch's frozen-centroid assignment (vec_id, cluster) — the frame
    * the writer materializes once, already routed for both stores — and
    * the stores that join it back to the batch: full vectors into
    * `index` and, when the artifact has PQ, the batch encoded against
    * the FROZEN codebook into `codes`. Frozen for the reason centroids
    * are (FAISS `add` after `train`): codebooks are a corpus sample, so
    * re-picking them on append would re-code the whole artifact;
    * drifted appends degrade shortlist quality, not correctness (the
    * rerank is exact), and INDEX REBUILD re-picks codebooks exactly as
    * it re-trains centroids.
    */
  private[graft] def ivfBatch(base: String, meta: org.apache.spark.sql.Row,
      e: DataFrame): (DataFrame, Seq[CellStore]) = {
    val codes =
      if (!meta.schema.fieldNames.contains("pq_m")) None
      else Some { (ids: DataFrame) =>
        val cb = MetaParquet.scan(e.sparkSession, s"$base/codebook")
        pqEncodeFrom(pqSubsOf(e.select(col("vec_id"), col("v")),
            meta.getAs[Int]("pq_m"), meta.getAs[Int]("pq_subdim")), cb)
          .join(ids.hint("merge"), "vec_id")
      }
    (assignToStored(base, e), CellStore.ivf(ids =>
      e.join(ids.hint("merge"), "vec_id")
        .select(col("vec_id"), col("cluster"), col("v"), col("nrm")),
      codes))
  }

  /** The frozen-centroid assignment (vec_id, cluster) of a batch
    * against a stored artifact's geometry — [[ivfStoreAppend]]'s
    * routing step, shared with [[ivfStoreDelete]] so an appended row
    * and its later deletion can never route to different cells. Flat
    * artifacts get the flat round-6 argmax, hierarchical ones (marked
    * by the `super` column) the same two occupied-super hops as the
    * build; both paths ride the slim project-array-away argmax +
    * merge-hinted rejoins (a maintenance batch can be corpus-sized).
    */
  private def assignToStored(base: String, e: DataFrame): DataFrame = {
    val s = e.sparkSession
    val cents = MetaParquet.scan(s, s"$base/centroids").localCheckpoint(false)
    def argmaxInto(scored: DataFrame, cellCol: String): DataFrame = scored
      .groupBy(col("vec_id"))
      .agg(max(struct(col("score"), (-col(cellCol)).as("nc"))).as("m"))
      .select(col("vec_id"), (-col("m.nc")).as(cellCol))
    if (cents.columns.contains("super")) {
      val supers = MetaParquet.scan(s, s"$base/supers")
      // only OCCUPIED supers, as in the build: hop-2's inner join on
      // `super` would silently drop a vector routed to a childless one
      val occupied = supers
        .join(cents.select(col("super")).distinct(), "super")
      val ids1 = argmaxInto(e.crossJoin(broadcast(occupied))
        .select(col("vec_id"), col("super"),
          round(dot(col("v"), col("sv")) / (col("nrm") * col("snrm")), 6)
            .as("score")), "super")
      val e2 = e.join(ids1.hint("merge"), "vec_id")
      argmaxInto(e2.join(broadcast(cents), "super")
        .select(col("vec_id"), col("cluster"),
          round(dot(col("v"), col("cv")) / (col("nrm") * col("cnrm")), 6)
            .as("score")), "cluster")
    } else
      argmaxInto(e.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("cluster"),
          round(dot(col("v"), col("cv")) / (col("nrm") * col("cnrm")), 6)
            .as("score")), "cluster")
  }

  /** Remove vectors from an existing [[ivfStoreTo]] artifact by
    * vec_id — NearDup.bandStoreDelete's contract for the IVF family.
    * Routing replays [[assignToStored]] on the batch's OWN vectors:
    * build and append both assigned each vec_id by this exact argmax
    * over the frozen centroids, so providing the stored vector (the
    * natural case — the delete batch is rows of the indexed corpus)
    * routes to precisely the cell its row lives in, and only the
    * routed cells are rewritten ([[CellStore.delete]]). Unlike
    * the content-keyed text/cosine stores, the anti-join key is the
    * user's vec_id — re-ingesting a key after deletion is a plain
    * append. Centroids, supers and `meta/` are untouched: deletion
    * does not re-train (FAISS `remove_ids` semantics); if deletions
    * hollow out the corpus, a rebuild re-trains exactly as with
    * append drift. `e` columns: (vec_id, v, nrm).
    */
  private[graft] def ivfStoreDelete(base: String, e: DataFrame)
      : Map[String, Seq[Int]] =
    CellStore.delete(base, "ivf_vec", e, "vec_id")

  // --------------------------------------------------------- stored IVF-PQ

  /** (vec_id, m, sub) — each vector split into `pm` contiguous
    * subvectors of `subDim` dims: the PQ subspace explode shared by
    * codebook pick, encoding and the probe-time LUT (q132's `subs`
    * frame generalized to stored geometry). A pure codegen'd
    * slice-transform projection — no UDF.
    */
  private[graft] def pqSubsOf(e: DataFrame, pm: Int, subDim: Int)
      : DataFrame =
    e.select(col("vec_id"), posexplode(expr(
      s"transform(sequence(0, ${pm - 1}), " +
        s"mm -> slice(v, mm * $subDim + 1, $subDim))"))
      .as(Seq("m", "sub")))

  /** Deterministic per-subspace PQ codebooks: for each subspace m, the
    * `pk` corpus subvectors with the smallest md5(vec_id:m), code id =
    * rank in that order. q132's engine-portable pick upgraded from its
    * shared codebook to the per-subspace codebooks real PQ trains —
    * each subspace's codes come from that subspace's own distribution.
    * One distributed TakeOrdered per subspace (map-side top-pk, driver
    * merge of pk rows — never a corpus-wide sort or window); the pm
    * passes run over the caller's checkpointed subs frame.
    */
  private[graft] def pqCodebookOf(subs: DataFrame, pm: Int, pk: Int)
      : DataFrame = {
    val keyed = subs.withColumn("mk", md5(concat_ws(":",
      col("vec_id").cast("string"), col("m").cast("string"))))
    (0 until pm).map { mm =>
      keyed.where(col("m") === mm)
        .orderBy(col("mk")).limit(pk)
        .withColumn("code", // post-limit: the window ranks ≤ pk rows
          row_number().over(Window.orderBy(col("mk"))) - 1)
        .select(col("m"), col("code"), col("sub").as("cent"))
    }.reduce(_ unionByName _)
  }

  /** Encode every vector against the codebooks: per (vector, subspace)
    * the argmin round-6 squared-L2 code (tie → smallest code — a
    * lexicographic struct-min, pure HashAggregate), collapsed to ONE
    * row per vector carrying its code array ordered by subspace. The
    * array form is the 100 TB layout: one narrow row per vector (pm
    * smallints, dictionary-packed by parquet) instead of pm rows, so
    * an ADC candidate scan reads ~(2·pm)/(8·dim) of the bytes the
    * full-vector cells hold — 1/32nd at 64 dims × 8 subspaces.
    */
  private[graft] def pqEncodeFrom(subs: DataFrame, cb: DataFrame)
      : DataFrame =
    subs.join(broadcast(cb), "m")
      .withColumn("diff", zip_with(col("sub"), col("cent"), (x, y) => x - y))
      .withColumn("d2", round(dot(col("diff"), col("diff")), 6))
      .groupBy(col("vec_id"), col("m"))
      .agg(min(struct(col("d2"), col("code"))).as("mn"))
      .groupBy(col("vec_id"))
      .agg(array_sort(collect_list(struct(col("m"),
        col("mn.code").as("code")))).as("mc"))
      .select(col("vec_id"),
        expr("transform(mc, x -> CAST(x.code AS SMALLINT))").as("codes"))

  /** FAISS-IVFADC-style serving from a PQ-coded stored artifact: cell
    * routing identical to [[ivfProbeStored]] (the same hierarchy-
    * consistent argmax over `centroids`), then the candidate scan reads
    * the routed cells of the CODES store — pm smallints per candidate
    * instead of dim doubles — ranks candidates by an asymmetric-
    * distance (ADC) inner product, and touches full vectors ONLY for
    * the per-query top-`shortlist` candidates, which are exact-reranked
    * to the final top-k. The ADC sum rides q132's exactness trick:
    * per-subspace partial dots (query subvector × codebook entry) are
    * DECIMAL(28,12)-quantized BEFORE the per-pair sum, so the shortlist
    * ranking key is exact and order-independent — a double sum over pm
    * subspaces would depend on aggregation order and diverge across
    * partitionings (and from the DuckDB oracle).
    *
    * 100 TB shape: bytes scanned per probe batch ∝ the routed cells'
    * CODE rows (~1/32nd of the full-vector bytes at 64 dims × 8
    * subspaces) + full vectors for |queries| × shortlist rerank rows;
    * the LUT is |queries| × pm × pq_codes broadcast rows. This is what
    * makes IVF serving survive vectors that no longer fit the probe
    * budget as raw floats: at 10⁹ × 768-dim the full-vector cells are
    * ~3 TB while the 96-subspace code cells are ~96 GB.
    */
  private[graft] def ivfProbeStoredAdc(s: SparkSession, base: String,
      queries: DataFrame, nprobe: Int = StoredProbes,
      shortlist: Int = StoredPqShortlist, topK: Int = K): DataFrame = {
    val snap = CellStore.snapshot(s, base, "ivf_vec", "KNN … STORED ADC")
    val meta = snap.meta
    require(meta.schema.fieldNames.contains("pq_m"),
      s"stored index at $base carries no PQ codes — build it with " +
        "INDEX … PQ <m>, or probe without ADC")
    val pm = meta.getAs[Int]("pq_m")
    val subDim = meta.getAs[Int]("pq_subdim")
    val (probes, cellRead) = ivfRouted(s, snap, queries, nprobe)
    val cb = MetaParquet.scan(s, s"$base/codebook")
    val qsubs = queries.select(col("qid"), posexplode(expr(
      s"transform(sequence(0, ${pm - 1}), " +
        s"mm -> slice(qv, mm * $subDim + 1, $subDim))"))
      .as(Seq("m", "qsub")))
    val lut = qsubs.join(cb, "m") // queries × codebook: both tiny
      .select(col("qid"), col("m"), col("code"),
        dot(col("qsub"), col("cent")).cast("decimal(28,12)").as("pdot"))
    val adc = cellRead("codes")
      .select(col("vec_id").as("cid"), col("codes"), col("cluster"))
      .join(broadcast(probes.select(col("qid"), col("cluster"))),
        Seq("cluster"))
      .where(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        posexplode(col("codes")).as(Seq("m", "code")))
      .join(broadcast(lut), Seq("qid", "m", "code"))
      .groupBy(col("qid"), col("cid"))
      .agg(sum(col("pdot")).as("adc"))
    val ws = Window.partitionBy("qid").orderBy(col("adc").desc, col("cid"))
    val short = adc.withColumn("srank", row_number().over(ws))
      .where(col("srank") <= shortlist)
      .select(col("qid"), col("cid"))
    val fullv = cellRead("index")
      .select(col("vec_id").as("cid"), col("v").as("cv"),
        col("nrm").as("cnrm"))
    val w2 = Window.partitionBy("qid").orderBy(col("cosine").desc, col("cid"))
    fullv.join(broadcast(short), "cid")
      .join(broadcast(queries.select(col("qid"), col("qv"), col("qnrm"))),
        "qid")
      .withColumn("cosine",
        round(dot(col("qv"), col("cv")) / (col("qnrm") * col("cnrm")), 6))
      .withColumn("rank", row_number().over(w2))
      .where(col("rank") <= topK)
      .select(col("qid"), col("cid").as("neighbor_id"), col("cosine"),
        col("rank"))
  }

  /** q163's DuckDB oracle: the ENTIRE stored IVF-PQ serving path —
    * deterministic centroid pick, flat cell assignment, probe routing,
    * per-subspace md5-sampled codebooks, argmin encoding, DECIMAL-exact
    * ADC, shortlist, exact rerank — restated in ANSI SQL
    * ([[ivfOracleSql]]'s routing CTEs × q132's PQ algebra, joined on
    * the probed cells). Every stage is a deterministic function of the
    * table, so the gate is hash-exact, not rows-only.
    */
  private def ivfPqOracleSql(numQueries: Int, numProbes: Int, pm: Int,
      subDim: Int, pk: Int, shortlist: Int): String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |n AS (SELECT vec_id, v,
       |  sqrt(list_reduce(list_prepend(0.0, [x*x for x in v]), (a,b) -> a+b)) AS nrm
       |  FROM e),
       |cent AS (
       |  SELECT cluster, cv, cnrm FROM (
       |    SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1
       |        AS cluster,
       |      v AS cv, nrm AS cnrm
       |    FROM n) WHERE cluster < $IvfCells),
       |scored AS (
       |  SELECT q.vec_id, q.v, q.nrm, c.cluster,
       |    round(list_reduce(list_prepend(0.0,
       |        [q.v[i] * c.cv[i] for i in range(1, len(q.v)+1)]), (a,b) -> a+b)
       |      / (q.nrm * c.cnrm), 6) AS score
       |  FROM n q, cent c),
       |assigned AS (
       |  SELECT vec_id, cluster FROM scored
       |  QUALIFY row_number() OVER (PARTITION BY vec_id
       |    ORDER BY score DESC, cluster) = 1),
       |probes AS (
       |  SELECT vec_id AS qid, cluster FROM scored
       |  WHERE vec_id < $numQueries
       |  QUALIFY row_number() OVER (PARTITION BY vec_id
       |    ORDER BY score DESC, cluster) <= $numProbes),
       |subs AS (
       |  SELECT vec_id, m, list_slice(v, m * $subDim + 1, m * $subDim + $subDim) AS sub
       |  FROM e, unnest(range(0, $pm)) AS t(m)),
       |cb AS (
       |  SELECT m, code, cent FROM (
       |    SELECT m, row_number() OVER (PARTITION BY m ORDER BY
       |        md5(CAST(vec_id AS VARCHAR) || ':' || CAST(m AS VARCHAR))) - 1
       |        AS code,
       |      sub AS cent
       |    FROM subs) WHERE code < $pk),
       |enc AS (
       |  SELECT vec_id AS cid, m, code FROM (
       |    SELECT s.vec_id, s.m, c.code,
       |      round(list_reduce(list_prepend(0.0,
       |          [(s.sub[i] - c.cent[i]) * (s.sub[i] - c.cent[i])
       |           for i in range(1, len(s.sub)+1)]), (a,b) -> a+b), 6) AS d2
       |    FROM subs s JOIN cb c ON c.m = s.m) d
       |  QUALIFY row_number() OVER (PARTITION BY vec_id, m
       |    ORDER BY d2, code) = 1),
       |lut AS (
       |  SELECT s.vec_id AS qid, s.m, c.code,
       |    CAST(list_reduce(list_prepend(0.0,
       |        [s.sub[i] * c.cent[i] for i in range(1, len(s.sub)+1)]),
       |        (a,b) -> a+b) AS DECIMAL(28,12)) AS pdot
       |  FROM subs s JOIN cb c ON c.m = s.m WHERE s.vec_id < $numQueries),
       |cand AS (
       |  SELECT p.qid, a.vec_id AS cid FROM probes p
       |  JOIN assigned a ON a.cluster = p.cluster AND a.vec_id <> p.qid),
       |adc AS (
       |  SELECT ca.qid, ca.cid, sum(l.pdot) AS adc FROM cand ca
       |  JOIN enc en ON en.cid = ca.cid
       |  JOIN lut l ON l.qid = ca.qid AND l.m = en.m AND l.code = en.code
       |  GROUP BY 1, 2),
       |short AS (
       |  SELECT qid, cid FROM adc
       |  QUALIFY row_number() OVER (PARTITION BY qid
       |    ORDER BY adc DESC, cid) <= $shortlist),
       |s2 AS (
       |  SELECT sh.qid, sh.cid AS neighbor_id,
       |    round(list_reduce(list_prepend(0.0,
       |        [q.v[i] * c.v[i] for i in range(1, len(q.v)+1)]),
       |        (x, y) -> x + y)
       |      / (q.nrm * c.nrm), 6) AS cosine
       |  FROM short sh
       |  JOIN n q ON q.vec_id = sh.qid
       |  JOIN n c ON c.vec_id = sh.cid)
       |SELECT qid, neighbor_id, cosine, rank FROM (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY qid ORDER BY cosine DESC, neighbor_id) AS rank FROM s2)
       |WHERE rank <= $K""".stripMargin

  /** q163's oracle at the gate constants (8 queries × 2 probed cells of
    * 16, PQ 8 × 8 dims × 16 codes, shortlist 20).
    */
  private[queries] def storedIvfPqOracleSql: String =
    ivfPqOracleSql(StoredQueries, StoredProbes, StoredPqM,
      64 / StoredPqM, StoredPqCodes, StoredPqShortlist)

  /** q164's DuckDB oracle: top-[[K]] cosine from the DISTINCT corpus
    * vectors (the COSINE store's exact-first collapse), each query's own
    * vector excluded by CONTENT (`c.v <> q.qv` — the SQL statement of
    * the store's content-hash self-exclusion). The gate projects
    * (qid, cosine, rank), not neighbor_id: stored entries are keyed by
    * an engine-side content hash no portable SQL can restate, while the
    * (qid, cosine, rank) multiset is both portable and tie-invariant —
    * two neighbors tied at round-6 cosine produce identical output rows
    * whichever one takes the lower rank, so no engine-specific
    * tie-break can leak into the hash. Hash-exactness then rests on the
    * probe's RECALL being 1.0 at the gate geometry (TABLES 32 BITS 2:
    * a miss needs all 32 tables to split the pair — ≤ (1−p²)³² with
    * per-hyperplane agreement p = 1 − θ/π, i.e. ~1e-4 for a fully
    * ORTHOGONAL pair and ≤ ~1e-7 for a true top-5 neighbor at
    * cosine ≥ 0.4, where p² ≥ 0.398), the q153 argument applied to
    * top-k serving: LSH candidates can only be missed, never
    * mis-ranked. The margin is thin in expectation but the GATE is
    * deterministic — seeded hyperplanes over fixed test data — and
    * verified green at every shipped SF; a future corpus change that
    * lands on a deterministic miss fails loudly at gate time, not
    * silently in production.
    */
  private[queries] def storedCosineKnnOracleSql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |n AS (SELECT vec_id, v,
       |  sqrt(list_reduce(list_prepend(0.0, [x*x for x in v]), (a,b) -> a+b)) AS nrm
       |  FROM e),
       |c AS (SELECT DISTINCT v, nrm FROM n),
       |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qnrm FROM n
       |  WHERE vec_id < $StoredQueries),
       |s AS (
       |  SELECT q.qid,
       |    round(list_reduce(list_prepend(0.0,
       |        [q.qv[i] * c.v[i] for i in range(1, len(q.qv)+1)]),
       |        (x, y) -> x + y)
       |      / (q.qnrm * c.nrm), 6) AS cosine
       |  FROM q JOIN c ON c.v <> q.qv)
       |SELECT qid, cosine, rank FROM (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY qid ORDER BY cosine DESC) AS rank FROM s)
       |WHERE rank <= $K""".stripMargin

  /** One stored artifact per corpus dir per JVM — that IS the deployment
    * model (the index-build job runs once; every probe batch, streaming
    * or not, consumes the same files), and it keeps q136+q139 from each
    * paying the identical deterministic build. The build is a pure
    * function of the corpus, so sharing cannot change either gate's
    * output. Same memo pattern as [[quantizers]].
    */
  private val storedIvf =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** The cell-routing step of [[ivfProbeStored]], exposed separately so
    * harnesses (graft.DriftScale) can measure the SCAN MASS a panel's
    * routing implies without duplicating the hierarchy-consistent
    * argmax: returns (qid, qv, qnrm, cluster) — one row per (query,
    * probed cell), checkpointed (it feeds both the candidate join and
    * driver-side cell routing).
    */
  private[graft] def ivfProbeCells(s: SparkSession, base: String,
      queries: DataFrame, nprobe: Int): DataFrame = {
    val dcents = MetaParquet.scan(s, s"$base/centroids")
    // A flat-built artifact ranks cells by plain centroid score. A
    // hierarchically-built one (marked by the `super` column +
    // `<base>/supers`) must rank them through the SAME two argmax hops
    // the build used — (query's super rank, child score) — so the first
    // probed cell IS the cell the assignment would give the query
    // vector. Flat routing over a hierarchical index would probe the
    // globally-nearest centroids, which need not include the query's own
    // assignment cell, silently breaking the "a vector's duplicates are
    // always served" contract AnnScale's self-copy-dominance invariant
    // pins.
    val ranked = if (dcents.columns.contains("super")) {
      val dsupers = MetaParquet.scan(s, s"$base/supers")
      val sw = Window.partitionBy("qid")
        .orderBy(col("sscore").desc, col("super"))
      val qsup = queries.crossJoin(broadcast(dsupers))
        .withColumn("sscore",
          round(dot(col("qv"), col("sv")) / (col("qnrm") * col("snrm")), 6))
        .withColumn("srank", row_number().over(sw))
        .select(col("qid"), col("qv"), col("qnrm"), col("super"),
          col("srank"))
      val pw = Window.partitionBy("qid")
        .orderBy(col("srank"), col("score").desc, col("cluster"))
      qsup.join(broadcast(dcents), "super")
        .withColumn("score",
          round(dot(col("qv"), col("cv")) / (col("qnrm") * col("cnrm")), 6))
        .withColumn("pr", row_number().over(pw))
    } else {
      val pw = Window.partitionBy("qid")
        .orderBy(col("score").desc, col("cluster"))
      queries.crossJoin(broadcast(dcents))
        .withColumn("score",
          round(dot(col("qv"), col("cv")) / (col("qnrm") * col("cnrm")), 6))
        .withColumn("pr", row_number().over(pw))
    }
    ranked
      .where(col("pr") <= nprobe)
      .select(col("qid"), col("qv"), col("qnrm"), col("cluster"))
      // materialized once: the probe frame feeds the candidate join's
      // build side AND the driver-side cell routing below
      .localCheckpoint(false)
  }

  /** The per-query-batch IVF serving step against a stored index at
    * `base`: centroids re-read from disk pick each query's top-
    * [[StoredProbes]] cells, probe ROUTING is driver-side (the probe
    * frame is |queries|×nprobe rows by contract — a query batch, not a
    * corpus — so collecting its distinct cells is bounded), the probed
    * cells are read through the statement's snapshot
    * ([[CellStore.snapshot]]), then exact top-[[K]] rerank over them.
    * `queries` columns: (qid, qv: array<double>, qnrm).
    * ONE implementation serves q136 (the whole panel in one batch) and
    * q139 (the same panel sliced into microbatches) — batch-boundary
    * invariance of the union of outputs is exactly what q139's shared
    * oracle checks.
    */
  private[graft] def ivfProbeStored(s: SparkSession, base: String,
      queries: DataFrame, nprobe: Int = StoredProbes,
      topK: Int = K): DataFrame = {
    // kind check BEFORE touching the stores: probing (say) a cosine
    // bucket artifact here would otherwise fail with an opaque
    // missing-centroids path error instead of naming both kinds
    val snap = CellStore.snapshot(s, base, "ivf_vec", "KNN … STORED")
    val (probes, cellRead) = ivfRouted(s, snap, queries, nprobe)
    val idx = cellRead("index")
      .select(col("vec_id").as("cid"), col("v").as("cv"),
        col("nrm").as("cnrm"), col("cluster"))
    val w2 = Window.partitionBy("qid").orderBy(col("cosine").desc, col("cid"))
    idx.join(broadcast(probes), Seq("cluster"))
      .where(col("qid") =!= col("cid"))
      .withColumn("cosine",
        round(dot(col("qv"), col("cv")) / (col("qnrm") * col("cnrm")), 6))
      .withColumn("rank", row_number().over(w2))
      .where(col("rank") <= topK)
      .select(col("qid"), col("cid").as("neighbor_id"), col("cosine"),
        col("rank"))
  }

  /** A stored IVF probe's routing: the queries' probed cells
    * ([[ivfProbeCells]]), and a read of those cells of a store from the
    * statement's snapshot — an empty frame of the store's schema when no
    * file holds them.
    */
  private def ivfRouted(s: SparkSession, snap: CellStore.Snapshot,
      queries: DataFrame, nprobe: Int): (DataFrame, String => DataFrame) = {
    val probes = ivfProbeCells(s, snap.base, queries, nprobe)
    val cells = CellStore.cellsOf(probes.select("cluster"))
    (probes, store => snap.read(store, cells).getOrElse(
      MetaParquet.scan(s, s"${snap.base}/$store").where(lit(false))))
  }

  /** q132 portable-PQ shape, mirroring q82: 8 subspaces × 8 dims, 16-code
    * shared codebook, ADC shortlist 100 before the exact rerank.
    */
  private val PqM = 8
  private val PqSubDim = 8
  private val PqCodes = 16
  private val PqShortlist = 100

  /** q133 portable sign-LSH shape, mirroring q35: 16 tables × 4 bits. */
  private val LshTables = 16
  private val LshBits = 4

  /** Train-once IVF quantizer cache, keyed by corpus dir. An IVF index is
    * built offline and served; training is not a per-query-batch cost.
    * Deterministic (seeded, fixed data) so a cache hit and a retrain give
    * identical cells. At 100 TB this is the broadcast-the-centroids path:
    * train on a sample once, reuse across every query batch.
    */
  private val quantizers = scala.collection.concurrent.TrieMap
    .empty[String, org.apache.spark.ml.clustering.KMeansModel]

  /** Embeddings, spread across all cores — the local corpus is one parquet
    * file = one input split, which would serialize the (interpreted HOF)
    * dot-product work; real corpora parallelize via scan splits.
    */
  private[queries] def emb(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  /** One stored sign-LSH bucket index per corpus dir per JVM — the
    * [[storedIvf]] / Dedup.bandStore memo applied to the cosine family:
    * the odd-vec_id corpus indexed once (TABLES 32 × BITS 4, 64 cells —
    * the NEARDEDUP COSINE defaults q142/q153 ride), consumed by the
    * streaming gate (q157) and any future batch consumer. Degenerate
    * vectors (null/empty/zero/NaN/Inf norm) are excluded exactly as the
    * INDEX verb excludes them — they can never verify, so storing them
    * would only add dead bytes. Pure function of the corpus ⇒ sharing
    * cannot change any output.
    */
  private val storedCosine =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private[queries] def cosineStore(s: SparkSession, dir: String): String =
    storedCosine.getOrElseUpdate(dir, {
      val idxDir = java.nio.file.Files.createTempDirectory("graft_cosidx_")
      Advanced.registerTmpDir(idxDir)
      val e = emb(s, dir).where(col("vec_id") % 2 === 1)
        .select(col("vec_id").as("id"), col("v"))
        .where(col("v").isNotNull && size(col("v")) > 0)
        .withColumn("nrm", l2norm(col("v")))
        .where(col("nrm") > 0 && !isnan(col("nrm")) &&
          col("nrm") < lit(Double.PositiveInfinity))
      graft.transforms.VecKnn.cosineStoreTo(idxDir.toString, e,
        tables = 32, bits = 4, cells = 64)
      idxDir.toString
    })

  val entries: Seq[QueryDef] = Seq(

    // ---- Brute-force cosine top-k (exact baseline). ----
    QueryDef(
      "q34_knn_bruteforce",
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |n AS (SELECT vec_id, v,
         |  sqrt(list_reduce(list_prepend(0.0, [x*x for x in v]), (a,b) -> a+b)) AS nrm
         |  FROM e),
         |s AS (SELECT q.vec_id AS qid, c.vec_id AS neighbor_id,
         |  round(list_reduce(list_prepend(0.0,
         |      [q.v[i] * c.v[i] for i in range(1, len(q.v)+1)]), (a,b) -> a+b)
         |    / (q.nrm * c.nrm), 6) AS cosine
         |  FROM n q JOIN n c ON q.vec_id <> c.vec_id
         |  WHERE q.vec_id < $NumQueries)
         |SELECT qid, neighbor_id, cosine, rank FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY qid ORDER BY cosine DESC, neighbor_id) AS rank FROM s)
         |WHERE rank <= $K""".stripMargin) { (s, dir) =>
      val e = emb(s, dir).withColumn("nrm", l2norm(col("v")))
      val q = e.where(col("vec_id") < NumQueries).toDF("qid", "qv", "qnrm")
      val c = e.toDF("cid", "cv", "cnrm")
      val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("cid"))
      c.join(broadcast(q), col("qid") =!= col("cid"))
        .withColumn("cosine",
          round(dot(col("qv"), col("cv")) / (col("qnrm") * col("cnrm")), 6))
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= K)
        .select(col("qid"), col("cid").as("neighbor_id"), col("cosine"),
          col("rank"))
    },

    // ---- LSH-bucketed approximate top-k, exact-reranked. ----
    QueryDef.noOracle("q35_ann_lsh") { (s, dir) =>
      // 4-bit buckets: this corpus's true neighbors are only ~60° apart
      // (cos ≈ 0.5), so p(bit agree) ≈ 0.67 — wider buckets would miss
      // them (recall ∝ (1-(1-p^bits)^tables)). With stronger similarity
      // structure (near-dup embeddings at cos ≥ 0.9) raise Bits to 8-16
      // for much sharper pruning at the same recall.
      // 16 tables: this corpus's true neighbors sit near cos≈0.5 (p(bit
      // agree)≈0.67, p^4≈0.2 per table), so 8 tables left per-pair miss
      // probability (1-0.2)^8 ≈ 0.17 — measured recall@5 0.69 on the
      // 100-query panel. Doubling tables squares the miss factor
      // ((1-0.2)^16 ≈ 0.03 → recall ≥ 0.9 measured 0.91); bucketing cost
      // stays one narrow projection, candidates stay collision-bounded.
      val Tables_ = 16; val Bits = 4; val Dims = 64
      val e = emb(s, dir).withColumn("nrm", l2norm(col("v")))
      val buckets = e.select(col("vec_id"), col("v"), col("nrm"),
        posexplode(lshBuckets(col("v"), Tables_, Bits, Dims))
          .as(Seq("t", "bucket")))
      val qb = buckets.where(col("vec_id") < NumQueries)
        .toDF("qid", "qv", "qnrm", "t", "bucket")
      // candidates: collide in ≥1 table; dedupe before the exact rerank
      val cand = buckets.toDF("cid", "cv", "cnrm", "t", "bucket")
        .join(qb, Seq("t", "bucket"))
        .where(col("qid") =!= col("cid"))
        .select("qid", "cid").distinct()
      val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("cid"))
      cand
        .join(e.toDF("cid", "cv", "cnrm"), "cid")
        .join(broadcast(e.toDF("qid", "qv", "qnrm")), "qid")
        .withColumn("cosine",
          round(dot(col("qv"), col("cv")) / (col("qnrm") * col("cnrm")), 6))
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= K)
        .select(col("qid"), col("cid").as("neighbor_id"), col("cosine"),
          col("rank"))
    },

    // ---- IVF (inverted-file) ANN: coarse k-means quantizer + probes. ----
    // The other classic scale path besides LSH: partition the corpus into
    // k cells (seeded MLlib KMeans — deterministic for fixed data), search
    // only the nprobe cells whose centroids are nearest the query, exact
    // cosine rerank inside. At 100 TB the assignment is one narrow
    // column; each query touches nprobe/k of the corpus. Recall vs. q34
    // asserted in PipelineSpec (training is engine-specific ⇒ no oracle).
    QueryDef.noOracle("q46_ann_ivf") { (s, dir) =>
      // nprobe 8 of 16 cells: at nprobe 4 the coarse quantizer's fuzzy
      // boundaries (3 Lloyd rounds, by design) dropped true neighbors into
      // unprobed cells — recall@5 0.60 on the 100-query panel; 8 probes
      // measured 0.82. Per-query work is still nprobe/k = half the corpus
      // here; at a production 100 TB scale k grows with corpus size (e.g.
      // 4096 cells, nprobe 64) and the probed fraction shrinks, the
      // recall/nprobe tradeoff curve is the same.
      val K_ = 16; val NProbe = 8
      val e = emb(s, dir).withColumn("nrm", l2norm(col("v")))
      val fe = e.withColumn("features",
        org.apache.spark.ml.functions.array_to_vector(col("v")))
      // Random init + 3 Lloyd rounds: k-means|| init alone costs ~2k extra
      // corpus passes, and a coarse quantizer only needs balanced-ish
      // cells, not converged ones — nprobe=4 of 16 cells absorbs fuzzy
      // boundaries (recall floor asserted in PipelineSpec). At 100 TB,
      // train on a sample and broadcast the centroids; assignment stays a
      // single narrow map pass either way.
      val km = quantizers.getOrElseUpdate(dir,
        new org.apache.spark.ml.clustering.KMeans()
          .setK(K_).setSeed(42L).setMaxIter(3).setInitMode("random")
          .fit(fe.sample(withReplacement = false, 0.5, 42L)))
      val assigned = km.transform(fe)
        .select(col("vec_id"), col("v"), col("nrm"),
          col("prediction").as("cluster"))
      val cents = s.createDataFrame(
        km.clusterCenters.toIndexedSeq.zipWithIndex
          .map { case (c, i) => (i, c.toArray) })
        .toDF("cluster", "centroid")
      // nprobe nearest cells per query, by cosine to the centroid
      val cw = Window.partitionBy("qid").orderBy(col("cdist").desc, col("cluster"))
      val probes = assigned.where(col("vec_id") < NumQueries)
        .toDF("qid", "qv", "qnrm", "qcluster")
        .crossJoin(broadcast(cents))
        .withColumn("cdist",
          dot(col("qv"), col("centroid"))
            / (col("qnrm") * l2norm(col("centroid"))))
        .withColumn("crank", row_number().over(cw))
        .where(col("crank") <= NProbe)
        .select(col("qid"), col("qv"), col("qnrm"), col("cluster"))
      // scan only the probed cells; exact rerank
      val w2 = Window.partitionBy("qid").orderBy(col("cosine").desc, col("cid"))
      assigned.toDF("cid", "cv", "cnrm", "cluster")
        .join(broadcast(probes), Seq("cluster"))
        .where(col("qid") =!= col("cid"))
        .withColumn("cosine",
          round(dot(col("qv"), col("cv")) / (col("qnrm") * col("cnrm")), 6))
        .withColumn("rank", row_number().over(w2))
        .where(col("rank") <= K)
        .select(col("qid"), col("cid").as("neighbor_id"), col("cosine"),
          col("rank"))
    },

    // ---- Product-quantization ANN: compress each 64-dim vector to 8
    // codebook ids (8 subspaces × 8 dims, 16 centroids each = 4 bits per
    // subspace → 4 bytes/vector vs 256 bytes of floats), then answer
    // top-k by asymmetric distance computation (ADC): the query stays
    // exact, candidates are scored from a per-query lookup table of
    // (subspace, code) → partial dot, summed across subspaces. A shared
    // codebook across subspaces (one seeded k-means over all subvectors
    // instead of 8 per-subspace fits) keeps training one MLlib job —
    // standard PQ variant, fine for a coarse first pass since ADC scores
    // only shortlist candidates; the exact rerank fixes ranks.
    //
    // 100 TB shape: codes are a 9-column narrow table (32× smaller than
    // the embeddings), the LUT is |queries|×8×16 rows (broadcast), the
    // ADC join is map-side broadcast + one (qid, cid) partial agg, and
    // only |queries|×shortlist rows reach the exact rerank — the corpus
    // floats are touched once at encode time and then only for
    // shortlisted candidates. Engine-specific training ⇒ no SQL oracle;
    // recall vs q34 asserted in PipelineSpec.
    QueryDef.noOracle("q82_ann_pq") { (s, dir) =>
      // Shortlist 100: ADC scores from a 16-centroid shared codebook are
      // coarse (4-bit codes), so the true top-5 ranks 40-100 for a fair
      // share of queries — shortlist 40 measured recall@5 0.63 on the
      // 100-query panel, 100 measures 0.86. The exact rerank still touches
      // only |queries|×shortlist rows; corpus-side cost is unchanged.
      val M = 8; val SubDim = 8; val Codes = 16; val Shortlist = 100
      val e = emb(s, dir).withColumn("nrm", l2norm(col("v")))
      val subs = e.select(col("vec_id"),
          posexplode(expr(
            s"transform(sequence(0, ${M - 1}), m -> slice(v, m * $SubDim + 1, $SubDim))"))
            .as(Seq("m", "sub")))
      val fe = subs.withColumn("features",
        org.apache.spark.ml.functions.array_to_vector(col("sub")))
      val km = quantizers.getOrElseUpdate(dir + "#pq",
        new org.apache.spark.ml.clustering.KMeans()
          .setK(Codes).setSeed(7L).setMaxIter(3).setInitMode("random")
          .fit(fe.sample(withReplacement = false, 0.5, 7L)))
      // corpus → 8 codes per vector (the compressed index)
      val codes = km.transform(fe)
        .select(col("vec_id").as("cid"), col("m"),
          col("prediction").as("code"))
      val cents = s.createDataFrame(
        km.clusterCenters.toIndexedSeq.zipWithIndex
          .map { case (c, i) => (i, c.toArray) })
        .toDF("code", "centroid")
      // per-query ADC lookup table: dot(query subvector, centroid)
      val lut = subs.where(col("vec_id") < NumQueries)
        .toDF("qid", "m", "qsub")
        .crossJoin(broadcast(cents))
        .select(col("qid"), col("m"), col("code"),
          dot(col("qsub"), col("centroid")).as("pdot"))
      // ADC scores: codes ⋈ broadcast LUT on (m, code), summed per pair
      val adc = codes.join(broadcast(lut), Seq("m", "code"))
        .where(col("qid") =!= col("cid"))
        .groupBy(col("qid"), col("cid"))
        .agg(sum(col("pdot")).as("adc"))
      val ws = Window.partitionBy("qid").orderBy(col("adc").desc, col("cid"))
      val shortlist = adc.withColumn("srank", row_number().over(ws))
        .where(col("srank") <= Shortlist)
        .select(col("qid"), col("cid"))
      // exact rerank of the shortlist only
      val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("cid"))
      shortlist
        .join(e.toDF("cid", "cv", "cnrm"), "cid")
        .join(broadcast(e.toDF("qid", "qv", "qnrm")), "qid")
        .withColumn("cosine",
          round(dot(col("qv"), col("cv")) / (col("qnrm") * col("cnrm")), 6))
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= K)
        .select(col("qid"), col("cid").as("neighbor_id"), col("cosine"),
          col("rank"))
    },

    // ---- Vector normalization: the unit-vector projection every
    // embedding pipeline runs before indexing. Pure map-side (no shuffle);
    // per-row left-fold math is bit-identical to the DuckDB list_reduce
    // oracle, rounded at 1e-6 like q34/q44.
    QueryDef(
      "q54_vector_normalize",
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT vec_id, v,
        |  sqrt(list_reduce(list_prepend(0.0, [x*x for x in v]), (a,b) -> a+b)) AS nrm
        |  FROM e)
        |SELECT vec_id, round(nrm, 6) AS norm,
        |  round(v[1] / nrm, 6) AS x0_unit,
        |  round(v[64] / nrm, 6) AS x63_unit
        |FROM n WHERE nrm > 0""".stripMargin) { (s, dir) =>
      emb(s, dir)
        .withColumn("nrm", l2norm(col("v")))
        .where(col("nrm") > 0)
        .select(col("vec_id"), round(col("nrm"), 6).as("norm"),
          round(element_at(col("v"), 1) / col("nrm"), 6).as("x0_unit"),
          round(element_at(col("v"), 64) / col("nrm"), 6).as("x63_unit"))
    },

    // ---- Per-class centroids — the k-means/IVF UPDATE step (q46 trains
    // its quantizer with exactly this reduction) and the class-prototype
    // computation behind nearest-centroid diagnostics. The scale shape is
    // posexplode to (label, dim, value) rows and ONE aggregation shuffle
    // on (label, dim): partial sums reduce each partition to
    // |labels|×dims cells before the exchange, so shuffle volume is
    // independent of corpus size. Component sums ride DECIMAL(18,9)
    // (floats quantized identically on both engines) so the partial
    // aggregation is exact and order-independent; the mean goes back to
    // double only at the end. No collect_list, no per-group array
    // buffering — the output frame (|labels|×64 rows) is the centroid
    // matrix, re-assembled only if a consumer needs arrays.
    QueryDef(
      "q103_group_centroid",
      """WITH x AS (
        |  SELECT label, i - 1 AS dim,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e9 + 0.5) AS BIGINT)
        |      AS vq
        |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)),
        |g AS (
        |  SELECT label, dim, count(*) AS n, sum(vq) AS s FROM x GROUP BY 1, 2)
        |SELECT label, dim, n,
        |  CAST((CASE WHEN s < 0 THEN -1 ELSE 1 END)
        |       * ((2 * abs(s) + n) // (2 * n)) AS DOUBLE) / 1e9 AS centroid
        |FROM g""".stripMargin) { (s, dir) =>
      // engine-exact nano quantization (q73's floor(x+0.5) trick): a plain
      // float→DECIMAL cast rounds half-ulp cases differently across
      // engines; floor over identical correctly-rounded doubles cannot.
      // The mean is rounded to 9 dp in INTEGER arithmetic — half away from
      // zero, (2|s|+n) div 2n with the sign reapplied — because
      // round(s/(n·1e9), 9) on a double hits representation-boundary
      // cases where Spark's exact-BigDecimal HALF_UP and DuckDB's scaled
      // nearbyint disagree by 1 ulp of the 9th decimal (observed at
      // sf0.001: -0.016307126 vs -0.016307125). Exact integers divided by
      // 1e9 as the last step give bit-identical doubles on both engines.
      Tables.load(s, dir, "embeddings")
        .select(col("label"), posexplode(col("embedding")))
        .select(col("label"), col("pos").cast("bigint").as("dim"),
          floor(col("col").cast("double") * lit(1e9) + lit(0.5))
            .cast("bigint").as("vq"))
        .groupBy(col("label"), col("dim"))
        .agg(count(lit(1)).as("n"), sum(col("vq")).as("s"))
        .select(col("label"), col("dim"), col("n"),
          (when(col("s") < 0, lit(-1L)).otherwise(lit(1L))
            * expr("(2 * abs(s) + n) DIV (2 * n)")).cast("double")
            ./(lit(1e9)).as("centroid"))
    },

    // ---- IVF with an engine-portable quantizer: the q46 search algebra
    // made oracle-checkable. q46's coarse quantizer is seeded MLlib
    // KMeans — engine-specific training, so it carries a recall spec
    // instead of a hash match. THIS gate pins the *search* side of IVF
    // cross-engine: centroids are the 16 corpus vectors with the
    // smallest md5(vec_id) (a deterministic seeded sample both engines
    // replay, cluster id = rank in md5 order), assignment is
    // argmax-cosine to a centroid, queries probe their 8 nearest cells,
    // and only the probed cells' members reach the exact rerank. Every
    // comparison is on round(·,6) doubles over the same left-fold dot
    // product as q34, so DuckDB replays cell assignment, probe choice,
    // and final ranks bit-for-bit.
    //
    // 100 TB shape: centroid pick is a distributed top-16
    // (TakeOrderedAndProject), never a global sort; the 16-row centroid
    // frame is broadcast to both the assignment and probe stages. The
    // 16× assignment fan-out collapses back to one row per vector in
    // the map-side partial agg (all 16 candidate rows of a vector are
    // born in the same task), so the only corpus-sized shuffle is the
    // (vec_id) combine. Candidates = probed-cell members only — the
    // corpus × query product never materializes, same
    // candidates-then-verify contract as q35/q46/q82.
    QueryDef(
      "q129_ivf_portable",
      ivfOracleSql(NumQueries, IvfProbes)) { (s, dir) =>
      val (_, _, scored, assigned) = ivfBuild(s, dir)
      val pw = Window.partitionBy("vec_id")
        .orderBy(col("score").desc, col("cluster"))
      val probes = scored.where(col("vec_id") < NumQueries)
        .withColumn("pr", row_number().over(pw))
        .where(col("pr") <= IvfProbes)
        .select(col("vec_id").as("qid"), col("v").as("qv"),
          col("nrm").as("qnrm"), col("cluster"))
      val w2 = Window.partitionBy("qid").orderBy(col("cosine").desc, col("cid"))
      assigned.toDF("cid", "cluster", "cv", "cnrm")
        .join(broadcast(probes), Seq("cluster"))
        .where(col("qid") =!= col("cid"))
        .withColumn("cosine",
          round(dot(col("qv"), col("cv")) / (col("qnrm") * col("cnrm")), 6))
        .withColumn("rank", row_number().over(w2))
        .where(col("rank") <= K)
        .select(col("qid"), col("cid").as("neighbor_id"), col("cosine"),
          col("rank"))
    },

    // ---- PQ with an engine-portable codebook: q82's ADC search algebra
    // made oracle-checkable, completing the pattern q129 set for IVF.
    // q82's shared codebook comes from seeded MLlib KMeans (engine-
    // specific training ⇒ recall spec only); here the codebook is the 16
    // corpus SUBvectors with the smallest md5(vec_id:m) — a deterministic
    // sample over the (vector, subspace) population both engines replay,
    // code id = rank in md5 order. Encoding (argmin round-6 squared L2,
    // tie → smallest code), the per-query ADC lookup table, shortlist
    // choice, and the exact rerank are then all bit-replayable: ADC
    // partial dots are DECIMAL(28,12)-quantized before the per-pair sum
    // (q112's trick) so the shortlist ranking key is exact and
    // order-independent — a double sum over 8 subspaces would depend on
    // aggregation order and diverge across engines/partitionings.
    //
    // 100 TB shape: identical to q82's — codes are a narrow 9-column
    // frame, the LUT is |queries|×8×16 broadcast rows, ADC is one
    // (qid,cid) partial agg, floats are touched at encode and for
    // shortlisted candidates only. Codebook pick is a distributed
    // top-16, never a global sort.
    QueryDef(
      "q132_pq_portable",
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |n AS (SELECT vec_id, v,
         |  sqrt(list_reduce(list_prepend(0.0, [x*x for x in v]), (a,b) -> a+b)) AS nrm
         |  FROM e),
         |subs AS (
         |  SELECT vec_id, m, list_slice(v, m * $PqSubDim + 1, m * $PqSubDim + $PqSubDim) AS sub
         |  FROM e, unnest(range(0, $PqM)) AS t(m)),
         |cb AS (
         |  SELECT code, cent FROM (
         |    SELECT row_number() OVER (ORDER BY
         |        md5(CAST(vec_id AS VARCHAR) || ':' || CAST(m AS VARCHAR))) - 1
         |        AS code,
         |      sub AS cent
         |    FROM subs) WHERE code < $PqCodes),
         |enc AS (
         |  SELECT vec_id AS cid, m, code FROM (
         |    SELECT s.vec_id, s.m, c.code,
         |      round(list_reduce(list_prepend(0.0,
         |          [(s.sub[i] - c.cent[i]) * (s.sub[i] - c.cent[i])
         |           for i in range(1, len(s.sub)+1)]), (a,b) -> a+b), 6) AS d2
         |    FROM subs s, cb c) d
         |  QUALIFY row_number() OVER (PARTITION BY vec_id, m
         |    ORDER BY d2, code) = 1),
         |lut AS (
         |  SELECT s.vec_id AS qid, s.m, c.code,
         |    CAST(list_reduce(list_prepend(0.0,
         |        [s.sub[i] * c.cent[i] for i in range(1, len(s.sub)+1)]),
         |        (a,b) -> a+b) AS DECIMAL(28,12)) AS pdot
         |  FROM subs s, cb c WHERE s.vec_id < $NumQueries),
         |adc AS (
         |  SELECT l.qid, en.cid, sum(l.pdot) AS adc
         |  FROM enc en JOIN lut l ON en.m = l.m AND en.code = l.code
         |  WHERE l.qid <> en.cid
         |  GROUP BY 1, 2),
         |short AS (
         |  SELECT qid, cid FROM adc
         |  QUALIFY row_number() OVER (PARTITION BY qid
         |    ORDER BY adc DESC, cid) <= $PqShortlist),
         |s2 AS (
         |  SELECT sh.qid, sh.cid AS neighbor_id,
         |    round(list_reduce(list_prepend(0.0,
         |        [q.v[i] * c.v[i] for i in range(1, len(q.v)+1)]),
         |        (x, y) -> x + y)
         |      / (q.nrm * c.nrm), 6) AS cosine
         |  FROM short sh
         |  JOIN n q ON q.vec_id = sh.qid
         |  JOIN n c ON c.vec_id = sh.cid)
         |SELECT qid, neighbor_id, cosine, rank FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY qid ORDER BY cosine DESC, neighbor_id) AS rank FROM s2)
         |WHERE rank <= $K""".stripMargin) { (s, dir) =>
      // subs feeds THREE consumers (codebook pick, encoding, LUT) and e
      // two rerank sides — materialize each once instead of re-running
      // the scan + explode per consumer (the q133/KnnVerb.prep rationale)
      val e = emb(s, dir).withColumn("nrm", l2norm(col("v")))
        .localCheckpoint(false)
      val subs = e.select(col("vec_id"),
        posexplode(expr(s"transform(sequence(0, ${PqM - 1}), " +
          s"m -> slice(v, m * $PqSubDim + 1, $PqSubDim))"))
          .as(Seq("m", "sub")))
        .localCheckpoint(false)
      // deterministic shared codebook: distributed top-16 by md5(vec_id:m)
      val cb = subs
        .withColumn("mk", md5(concat_ws(":", col("vec_id").cast("string"),
          col("m").cast("string"))))
        .orderBy(col("mk")).limit(PqCodes)
        .withColumn("code", row_number().over(Window.orderBy(col("mk"))) - 1)
        .select(col("code"), col("sub").as("cent"))
      // encode: argmin round-6 squared L2 as a lexicographic struct-min —
      // the 16-code fan-out collapses map-side in the (vec_id, m) combine
      val codes = subs.crossJoin(broadcast(cb))
        .withColumn("diff", zip_with(col("sub"), col("cent"), (x, y) => x - y))
        .withColumn("d2", round(dot(col("diff"), col("diff")), 6))
        .groupBy(col("vec_id"), col("m"))
        .agg(min(struct(col("d2"), col("code"))).as("mn"))
        .select(col("vec_id").as("cid"), col("m"), col("mn.code").as("code"))
      // per-query ADC LUT, partial dots exact-DECIMAL before any sum
      val lut = subs.where(col("vec_id") < NumQueries)
        .toDF("qid", "m", "qsub")
        .crossJoin(broadcast(cb))
        .select(col("qid"), col("m"), col("code"),
          dot(col("qsub"), col("cent")).cast("decimal(28,12)").as("pdot"))
      val adc = codes.join(broadcast(lut), Seq("m", "code"))
        .where(col("qid") =!= col("cid"))
        .groupBy(col("qid"), col("cid"))
        .agg(sum(col("pdot")).as("adc"))
      val ws = Window.partitionBy("qid").orderBy(col("adc").desc, col("cid"))
      val shortlist = adc.withColumn("srank", row_number().over(ws))
        .where(col("srank") <= PqShortlist)
        .select(col("qid"), col("cid"))
      val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("cid"))
      shortlist
        .join(e.toDF("cid", "cv", "cnrm"), "cid")
        .join(broadcast(e.toDF("qid", "qv", "qnrm")), "qid")
        .withColumn("cosine",
          round(dot(col("qv"), col("cv")) / (col("qnrm") * col("cnrm")), 6))
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= K)
        .select(col("qid"), col("cid").as("neighbor_id"), col("cosine"),
          col("rank"))
    },

    // ---- Sign-LSH with engine-portable hyperplanes: q35's bucketing
    // algebra made oracle-checkable, closing the last ANN family without
    // a hash-exact twin (q129 did IVF, q132 did PQ). Two portability
    // moves replace the engine-specific parts:
    //  1. hyperplane components come from md5 parity over (table:bit:dim)
    //     — not the splitmix mix of functions.Vectors.hyper, whose
    //     wrapping int64 multiplies DuckDB cannot replay (its BIGINT
    //     arithmetic raises on overflow);
    //  2. projections are INTEGER dot products over nano-quantized
    //     components (q103's floor(x·1e9+0.5) trick) — a double
    //     projection's sign could flip with summation order near zero,
    //     an integer sum cannot, so bucket ids are exact under ANY
    //     aggregation order, partitioning, or engine.
    // Candidates = bucket collisions in ≥ 1 of 16 tables, deduped, then
    // exact-reranked in round-6 double cosine — the same candidates-then-
    // verify contract as q35, replayed bit-for-bit by DuckDB end to end.
    //
    // 100 TB shape: the hyperplane frame is 4096 broadcast rows; the dim
    // fan-out collapses map-side in the (vec, table, bit) combine (every
    // dim row of a vector is born in one task), the bucket fold is a
    // second 16-cell-per-vector combine, and the collision join shuffles
    // by (table, bucket) — collision-bounded, never the pair space. The
    // native LshBucketsExpression (q35) stays the bench path: one fused
    // per-row kernel instead of a 64× row fan-out.
    QueryDef(
      "q133_lsh_portable",
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |n AS (SELECT vec_id, v,
         |  sqrt(list_reduce(list_prepend(0.0, [x*x for x in v]), (a,b) -> a+b)) AS nrm
         |  FROM e),
         |hyper AS (
         |  SELECT t, b, d,
         |    CASE WHEN CAST(('0x' || substr(md5(
         |        CAST(t AS VARCHAR) || ':' || CAST(b AS VARCHAR) || ':' ||
         |        CAST(d AS VARCHAR)), 1, 1)) AS BIGINT) % 2 = 0
         |      THEN 1 ELSE -1 END AS sign
         |  FROM range(0, $LshTables) rt(t), range(0, $LshBits) rb(b),
         |       range(0, 64) rd(d)),
         |dims AS (
         |  SELECT vec_id, i - 1 AS d,
         |    CAST(floor(v[i] * 1e9 + 0.5) AS BIGINT) AS vq
         |  FROM n, unnest(range(1, len(v) + 1)) AS u(i)),
         |proj AS (
         |  SELECT dims.vec_id, h.t, h.b, sum(dims.vq * h.sign) AS p
         |  FROM dims JOIN hyper h ON dims.d = h.d
         |  GROUP BY 1, 2, 3),
         |bk AS (
         |  SELECT vec_id, t,
         |    SUM(CASE WHEN p > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)
         |      AS bucket
         |  FROM proj GROUP BY 1, 2),
         |cand AS (
         |  SELECT DISTINCT q.vec_id AS qid, c.vec_id AS cid
         |  FROM bk q JOIN bk c ON q.t = c.t AND q.bucket = c.bucket
         |  WHERE q.vec_id < $NumQueries AND q.vec_id <> c.vec_id),
         |s AS (
         |  SELECT cand.qid, cand.cid AS neighbor_id,
         |    round(list_reduce(list_prepend(0.0,
         |        [q.v[i] * c.v[i] for i in range(1, len(q.v)+1)]),
         |        (x, y) -> x + y)
         |      / (q.nrm * c.nrm), 6) AS cosine
         |  FROM cand
         |  JOIN n q ON q.vec_id = cand.qid
         |  JOIN n c ON c.vec_id = cand.cid)
         |SELECT qid, neighbor_id, cosine, rank FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY qid ORDER BY cosine DESC, neighbor_id) AS rank FROM s)
         |WHERE rank <= $K""".stripMargin) { (s, dir) =>
      val e = emb(s, dir).withColumn("nrm", l2norm(col("v")))
      // 16×4×64 = 4096-row hyperplane frame; md5-parity signs
      val hyper = s.range(LshTables).toDF("t")
        .withColumn("b", explode(sequence(lit(0), lit(LshBits - 1))))
        .withColumn("d", explode(sequence(lit(0), lit(63))))
        .withColumn("sign",
          when(conv(substring(md5(concat_ws(":",
            col("t").cast("string"), col("b").cast("string"),
            col("d").cast("string"))), 1, 1), 16, 10)
            .cast("bigint") % 2 === 0, lit(1L)).otherwise(lit(-1L)))
      // nano-quantized components -> integer projections -> bit fold
      val dims = e.select(col("vec_id"), posexplode(col("v")).as(Seq("d", "x")))
        .select(col("vec_id"), col("d"),
          floor(col("x") * lit(1e9) + lit(0.5)).cast("bigint").as("vq"))
      // materialized once: both sides of the collision join consume the
      // frame, and without the checkpoint each side re-runs the full
      // fan-out + two-level agg chain (KnnVerb.prep's re-scan rationale);
      // the frame is |vectors|×16 narrow rows — cheap to hold
      val buckets = dims.join(broadcast(hyper), "d")
        .groupBy(col("vec_id"), col("t"), col("b"))
        .agg(sum(col("vq") * col("sign")).as("p"))
        .groupBy(col("vec_id"), col("t"))
        .agg(sum(when(col("p") > 0,
          expr("shiftleft(CAST(1 AS BIGINT), b)")).otherwise(0L))
          .as("bucket"))
        .localCheckpoint(false)
      val cand = buckets.toDF("qid", "t", "bucket")
        .where(col("qid") < NumQueries)
        .join(buckets.toDF("cid", "t", "bucket"), Seq("t", "bucket"))
        .where(col("qid") =!= col("cid"))
        .select("qid", "cid").distinct()
      val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("cid"))
      cand
        .join(e.toDF("cid", "cv", "cnrm"), "cid")
        .join(broadcast(e.toDF("qid", "qv", "qnrm")), "qid")
        .withColumn("cosine",
          round(dot(col("qv"), col("cv")) / (col("qnrm") * col("cnrm")), 6))
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= K)
        .select(col("qid"), col("cid").as("neighbor_id"), col("cosine"),
          col("rank"))
    },

    // ---- IVF index as a STORED artifact: build once, persist
    // partitioned by cell, probe from the files. q129 proves the IVF
    // algebra cross-engine; this gate proves the DEPLOYMENT shape a
    // 100 TB corpus actually runs: the corpus-sized work (assignment)
    // happens once in an index-build job whose output is parquet
    // partitioned by `cluster`, and every later query batch answers from
    // the stored artifact alone — centroids re-read from disk pick the
    // probe cells, and the candidate scan reads ONLY the probed cells'
    // files because the broadcast probe frame turns into a dynamic
    // partition pruning filter on the partition column (PlanSpec pins
    // the `dynamicpruning` expression in the scan). Probed-cell fraction
    // IS the scan fraction — the index never loads whole.
    //
    // The oracle is q129's algebra at the q136 panel constants: identical
    // deterministic centroids and assignment, so storing and re-reading
    // them (doubles round-trip parquet exactly) must not change a bit.
    QueryDef(
      "q136_ivf_stored",
      ivfOracleSql(StoredQueries, StoredProbes)) { (s, dir) =>
      // ---- Index build (the once-per-corpus job) — the SHARED ivfStore
      // (q129's ivfBuild by construction), persisted partitioned by cell.
      val base = ivfStore(s, dir)
      // ---- Probe (the per-query-batch job) — touches ONLY the stored
      // artifact plus the query panel (derived fresh, NOT the build job's
      // frame: in production the query batch arrives independently of the
      // index build). Probe-cell choice replays the assignment scoring
      // against the disk centroids (same doubles, so the same round-6
      // scores q129's in-plan probes got). Probe routing is driver-side,
      // like every IVF serving system — the collected cells are read as
      // EXPLICIT directory paths (a strict subset of the cell
      // directories — PlanSpec pins the scan's partition-count metric),
      // so neither the scan NOR partition discovery touches unprobed
      // cells. The declarative
      // alternative — dynamic partition pruning off the broadcast probe
      // join — plans the filter but AQE demotes it to `true` here because
      // the window-over-broadcast probe subtree doesn't canonicalize to
      // the reused exchange, and a demoted filter reads the whole index:
      // the one case where hand-routing beats the optimizer is exactly
      // the case the operator exists for.
      val queries = emb(s, dir).where(col("vec_id") < StoredQueries)
        .select(col("vec_id").as("qid"), col("v").as("qv"),
          l2norm(col("v")).as("qnrm"))
      ivfProbeStored(s, base, queries)
    },
  )
}
