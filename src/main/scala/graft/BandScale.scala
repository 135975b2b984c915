package graft

import graft.ScaleHarness.{report, secs, timed}
import graft.functions.Text
import graft.transforms.{CellStore, MetaParquet, NearDup}
import org.apache.spark.sql.functions._

/** Scale-replication harness for the STORED banded text index
  * (q144's machinery, `NearDup.bandStoreFrom` /
  * `minhashCrossMatchesStored`): grows the corpus ×k with DISTINCT
  * salted documents and probes a FIXED small batch against the stored
  * artifact at every k, with the partition-cell count taken from the
  * INDEX verb's own derivation (`IndexGeometry.storeCells` over the
  * shingled-entry count — cells ∝ corpus), so the recorded curves are
  * the geometry a bare `INDEX … INTO` actually ships.
  *
  * Why salted replicas instead of AnnScale's exact copies: the stored
  * index is built over text SHINGLES, and the AGAINST paths collapse
  * exact duplicates before indexing — exact-copy replication would
  * leave the index flat and measure nothing. Salting every token with
  * the replica ordinal (`tok` → `tokq<r>`) makes every added document's
  * shingle set disjoint from the batch's, so the corpus genuinely grows
  * (index rows ∝ k) while the batch's TRUE match set is invariant —
  * which turns every scale step into a correctness gate.
  *
  * What the measurement claims: the index BUILD is the one corpus-sized
  * job (time ∝ N), while the per-batch PROBE cost is governed by the
  * batch's own band keys — the scanned fraction is
  * |batch cells| / cells, and with cells ∝ N the scanned ROW count
  * (|batch cells| × N/cells) stays constant as the corpus grows. That
  * is the whole reason the artifact exists at 100 TB: a batch pays for
  * its own collision mass, never for corpus size.
  *
  * Invariants at every k (each scale step is also a correctness gate):
  *  - matched-set closed form: the batch ids matched at k are EXACTLY
  *    the k=1 matched ids — salted docs share no shingles with the
  *    batch, so any band collision they produce (hash chance) must die
  *    in the exact verify; a survivor would be a verification bug;
  *  - nonempty baseline: the k=1 matched set is nonempty BY
  *    CONSTRUCTION — half the batch is verbatim corpus docs
  *    (re-ingestion, which AGAINST matches at J = 1 on purpose), so the
  *    closed form never passes vacuously; the other half is batch-only
  *    docs driving the negative verify path;
  *  - cell-subset: the probe touched at most min(|batch keys|, cells)
  *    band cells, and strictly fewer than `cells` once cells exceeds
  *    the batch's key count — the index is never scanned whole.
  *
  * Each k also runs the full MAINTENANCE cycle as closed-form gates:
  * APPEND the batch's unmatched docs (re-probe ⇒ everything matches),
  * then DELETE them (re-probe ⇒ the matched set returns exactly to the
  * pre-append set — false retention is a superset, over-deletion a
  * subset, both fail), with both legs timed to show cost ∝ the batch's
  * own band keys, flat across corpus growth.
  *
  * Usage: SPARK_GRAFT_SF_DIR=… SPARK_GRAFT_REPS=1,4,16 runMain
  * graft.BandScale. REPS must start with 1 (the matched-set baseline).
  * Prints one JSON line per k plus fitted build/probe exponents.
  */
object BandScale {

  private final val BatchDocs = 8
  private final val Threshold = 0.5
  // autoBands(0.5) over 128 permutations — the q128/q144 banding
  private final val NumPerm = 128
  private final val NumBands = 64
  private final val RowsPerBand = 2

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = ScaleHarness.reps("1,4,16")
    val spark = ScaleHarness.session()

    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
      .repartition(spark.sparkContext.defaultParallelism)
      .localCheckpoint()

    // FIXED batch: the 8 smallest odd doc ids (VERBATIM corpus members —
    // re-ingestion, which the AGAINST semantics deliberately match at
    // J = 1, so the baseline matched set is nonempty by construction)
    // plus the 8 smallest even ids (batch-only docs, exercising the
    // negative verify path) — the same 16 query documents at every k
    // (the streaming-microbatch serving shape)
    val batchIds = docs.where(col("doc_id") % 2 === 1)
      .select(col("doc_id")).orderBy(col("doc_id")).limit(BatchDocs)
      .union(docs.where(col("doc_id") % 2 === 0)
        .select(col("doc_id")).orderBy(col("doc_id")).limit(BatchDocs))
    val batch = docs.join(batchIds, "doc_id")
    val shB = batch
      .select(col("doc_id"), Text.tokens(col("text")).as("ws"))
      .where(size(col("ws")) >= 3)
      .select(col("doc_id").as("id"),
        Text.shinglesFromTokens(col("ws")).as("shs"))
      .localCheckpoint()
    val batchKeys = shB.count() * NumBands

    val corpus0 = docs.where(col("doc_id") % 2 === 1)

    var matched1: Option[Set[Long]] = None
    val lines = for (k <- reps) yield {
      // salted replicas r = 1..k-1: every token carries the replica
      // ordinal, so each replica's shingle set is disjoint from every
      // other replica's AND from the batch's — the corpus "exists"
      // before the build job starts (checkpoint), mirroring AnnScale
      // multiplicative id encoding (id = doc_id * maxRep + r, originals
      // at r = 0) — collision-free for ANY doc_id range, unlike an
      // additive doc_id*1e6+r salt which collides with original ids
      // once they reach 1e6 (AnnScale's scheme, applied here after the
      // round-8 advice flagged the additive form)
      val maxRep = reps.max.toLong
      val corpus =
        if (k == 1) corpus0
          .select((col("doc_id") * lit(maxRep)).as("id"), col("text").as("txt"))
          .localCheckpoint()
        else corpus0
          .select(col("doc_id"), col("text"),
            explode(sequence(lit(1), lit(k - 1))).as("r"))
          .select((col("doc_id") * lit(maxRep) + col("r")).as("id"),
            array_join(transform(Text.tokens(col("text")),
              t => concat(t, lit("q"), col("r").cast("string"))), " ")
              .as("txt"))
          .union(corpus0.select((col("doc_id") * lit(maxRep)).as("id"),
            col("text").as("txt")))
          .localCheckpoint()
      val n = corpus.count()
      val shC = corpus
        .select(col("id"), Text.tokens(col("txt")).as("ws"))
        .where(size(col("ws")) >= 3)
        .select(col("id"), Text.shinglesFromTokens(col("ws")).as("shs"))
        .localCheckpoint()

      // cells come from the VERB'S OWN derivation (IndexGeometry over
      // the shingled-entry count — exactly what a bare `INDEX … INTO`
      // does), so the recorded curves describe the geometry users get
      // from the shipped one-line statement, not a hand-sizing that
      // merely agrees with it (round-10 verdict ask #2)
      val cells = graft.transforms.IndexGeometry.storeCells(shC.count())

      val (base, buildS) = timed {
        NearDup.bandStoreFrom(shC, NumPerm, NumBands, RowsPerBand, cells)
      }
      val idxRows = MetaParquet.scan(spark, s"$base/bands").count()
      // Artifact-size audit (the round-8 "hash the stored shingle sets"
      // change): bytes of the band postings and of the verification
      // store under BOTH schemes — the hashed store is what
      // bandStoreFrom writes (8-byte keys); the raw-string store is
      // written here purely to measure what the artifact WOULD cost
      // without the hashing (same partitioning/write shape), then
      // deleted. Diagnostic, outside the timed sections.
      def dirBytes(path: String): Long = Tables.dirBytes(spark, path)
      val rawDir = java.nio.file.Files.createTempDirectory("graft_rawsh_")
      shC.withColumn("sc",
          pmod(xxhash64(col("id")), lit(cells.toLong)).cast("int"))
        .repartition(col("sc"))
        .write.mode("overwrite").partitionBy("sc")
        .parquet(s"$rawDir/shingles")
      val bandsBytes = dirBytes(s"$base/bands")
      val shHashedBytes = dirBytes(s"$base/shingles")
      val shRawBytes = dirBytes(s"$rawDir/shingles")
      org.apache.commons.io.FileUtils.deleteQuietly(rawDir.toFile)

      def probe(): Set[Long] = NearDup.minhashCrossMatchesStored(spark, base,
          shB, Threshold, NumPerm, NumBands, RowsPerBand)
        .collect().map(_.getLong(0)).toSet
      // the bands store's entry count as INDEX DESCRIBE reports it
      def describeBands(): Long = graft.transforms.TransformParser
        .parse(s"INDEX DESCRIBE '$base'")
        .build(Map.empty, shB)
        .collect()
        .find(_.getAs[String]("store") == "bands")
        .map(_.getAs[Long]("entries")).getOrElse(-1L)
      val (matchedK, probeS) = timed(probe())
      // the routing the probe just used, recomputed for the report
      // (outside the timed section — it is a diagnostic, not probe
      // work): distinct band-store cells of the batch's keys
      val probeCells = CellStore.snapshot(spark, base, "lsh_text",
        "band_scale").route(shB).fold(0L)(_.cells.length.toLong)
      if (k == 1) matched1 = Some(matchedK)

      // APPEND leg (round 9): add the batch's 8 UNMATCHED docs to the
      // store via NearDup.bandStoreAppend and re-probe. Two claims,
      // both closed-form:
      //  - append COST is governed by the appended rows' own band
      //    keys (8 docs × 64 bands), never corpus size — the
      //    ingest-today's-documents-without-re-shingling-yesterday's-
      //    corpus contract, measured flat across the ×16 corpus;
      //  - after the append EVERY batch doc matches (the re-ingested
      //    half matches corpus as before, the batch-only half now
      //    matches its own appended copy at J = 1) — so the append
      //    provably changed probe answers in exactly the predicted
      //    way. Appended ids are doc_id × maxRep (even doc_ids; corpus
      //    holds odd×maxRep+r, r < maxRep — parity makes collision
      //    impossible).
      val appendSh = shB.where(col("id") % 2 === 0)
        .select((col("id") * lit(maxRep)).as("id"), col("shs"))
      val (_, appendS) = timed {
        NearDup.bandStoreAppend(base, appendSh)
      }
      val (matchedAfter, reprobeS) = timed(probe())
      val allBatchIds = shB.select(col("id")).collect()
        .map(_.getLong(0)).toSet

      // DELETE leg (round 10): remove the docs the APPEND leg added
      // (same shingle frame — content-keyed routing) and re-probe. Two
      // claims, both closed-form:
      //  - delete COST is governed by the delete batch's own band keys
      //    (8 docs × 64 bands route to ≤ 512 of the k-scaled cells and
      //    only those are rewritten), never corpus size — the
      //    forget-a-terabyte-without-re-shingling-the-exabyte contract,
      //    measured flat across the ×16 corpus;
      //  - after the delete the matched set returns EXACTLY to the
      //    pre-append set: a falsely retained appended entry would keep
      //    its batch copy matched (superset ⇒ fail), an over-deleted
      //    corpus entry would lose a true match (subset ⇒ fail).
      val (_, deleteS) = timed {
        NearDup.bandStoreDelete(base, appendSh)
      }
      val (matchedAfterDelete, reprobe2S) = timed(probe())

      // the build committed the layout record from its file reports and
      // the append and delete above folded theirs in, with no recount
      // job: it must equal a full recount snapshot, file for file
      val mf = graft.transforms.IndexManifest
      val conf = spark.sparkContext.hadoopConfiguration
      val stores =
        graft.transforms.CellStore.storesFor("lsh_text", "BandScale")
      val reported = mf.read(spark, base).map(_.layout)
      // dropped, so the DESCRIBE below measures the honest FALLBACK at
      // this k, the closed-form check against the full recount the
      // round-12 curve demands
      mf.invalidate(conf, base)

      // DESCRIBE leg (round 12): the statement recommended as the
      // skew/COMPACT monitor must carry its own price tag at the cell
      // counts the derivation actually ships — cost model is directory
      // listings ∝ cells plus ONE footer-only aggregation per store,
      // so the curve should grow with CELLS (⇒ with the corpus until
      // the 65 536 cap), never with probe or batch size. The entries
      // figure doubles as a closed-form check: after append-then-delete
      // of the same content, the bands store must hold EXACTLY the
      // original row count.
      val (descEntries, describeS) = timed(describeBands())

      // record-served DESCRIBE leg: snapshot the record with the full
      // recount (what INDEX MANIFEST pays on an absent record) and
      // measure the served DESCRIBE, a fold of one small read,
      // closed-form checked against the same truth.
      val (snapshot, snapshotS) = timed(mf.snapshot(spark, base, stores))
      val (descEntries2, describeServedS) = timed(describeBands())

      // restored-cell refresh leg: a mutation recounts only the cells a
      // sweep restored, whose rows no writer report holds — priced here
      // against the full recount. The record is dropped BEFORE the
      // append so the writer commits nothing, then the appended cells
      // are refreshed COLD as if restored. The claim is the
      // asymptotics: refresh cost ∝ refreshed cells (bounded by the
      // batch's band keys, flat across corpus growth), full cost ∝ all
      // cells. Closed-form: the refreshed record equals the full
      // recount file for file, on the SAME artifact state.
      mf.invalidate(conf, base)
      val touched = NearDup.bandStoreAppend(base, appendSh)
      val touchedCells = touched.values.map(_.size).sum
      val (refreshed, refreshS) = timed {
        mf.merge(spark, base, stores, snapshot.layout, touched.map {
          case (sub, cs) => sub -> graft.transforms.CellStore.Landed(
            restored = cs) })
      }
      val (full, recountS) = timed {
        graft.transforms.IndexMaintenance.Stats.recount(spark, base, stores)
      }
      NearDup.bandStoreDelete(base, appendSh) // restore the artifact

      val checks = Seq(
        "record_report_closed_form" -> reported.contains(snapshot.layout),
        "record_restored_closed_form" -> (refreshed == full),
        // exists, not forall: a missing baseline must FAIL (reps are
        // require'd to start at 1)
        "matched_closed_form" -> (k == 1 || matched1.exists(_ == matchedK)),
        "baseline_nonempty" -> matched1.exists(_.nonEmpty),
        "cell_subset" -> (probeCells <= math.min(batchKeys, cells.toLong) &&
          (cells <= batchKeys || probeCells < cells)),
        "append_closed_form" -> (matchedAfter == allBatchIds),
        "delete_closed_form" -> (matchedAfterDelete == matchedK),
        "describe_entries" -> (descEntries == idxRows),
        "describe_served_entries" -> (descEntries2 == idxRows))
      report("band_scale", Seq("k" -> k, "corpus" -> n,
        "index_rows" -> idxRows, "cells" -> cells,
        "cells_rule" -> "IndexGeometry.storeCells",
        "probe_cells" -> probeCells, "matched" -> matchedK.size,
        "matched_after_append" -> matchedAfter.size,
        "matched_after_delete" -> matchedAfterDelete.size,
        "sec" -> secs("build" -> buildS, "probe" -> probeS,
          "append" -> appendS, "reprobe" -> reprobeS, "delete" -> deleteS,
          "reprobe2" -> reprobe2S, "describe" -> describeS,
          "snapshot" -> snapshotS, "describe_served" -> describeServedS,
          "restored_refresh" -> refreshS, "recount_full" -> recountS),
        "touched_cells" -> touchedCells,
        "artifact_bytes" -> Map("bands" -> bandsBytes,
          "shingles_hashed" -> shHashedBytes,
          "shingles_raw" -> shRawBytes)),
        checks)
      (k, Seq("build" -> buildS, "probe" -> probeS))
    }

    ScaleHarness.exponents("band_scale", lines)
    spark.stop()
  }
}
