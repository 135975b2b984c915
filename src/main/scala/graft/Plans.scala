package graft

import org.apache.spark.sql.execution.ExplainMode

import java.nio.file.{Files, Paths}

/** Physical-plan audit dump: writes PLANS.md with `explain("formatted")`
  * output for the flagship queries, so the plan shapes the PlanSpec
  * contracts assert (pushdown, broadcast, partial agg, codegen spans,
  * no-join window ops) are reviewable without running Spark. With
  * `--out DIR --suffix S` it writes one `DIR/<query>_S.txt` per query
  * instead — the before/after dumps an optimization commits under
  * `plans/` — for the queries named, or the flagship list.
  *
  *   SPARK_GRAFT_SF_DIR=… sbt "runMain graft.Plans [--out DIR --suffix S] [queries…]"
  */
object Plans {

  private val flagship = Seq(
    "q01_agg_pricing_summary" -> "partial+final hash agg, decimal sums",
    "q05_lookup_inner" -> "broadcast hash join on the dimension",
    "q07_star_join" -> "multi-dim star join, filters pushed to scans",
    "q17_filter_pushdown" -> "PushedFilters + pruned ReadSchema",
    "q24_asof_join" -> "as-of join as a window (no join operator)",
    "q26_sliding_window" -> "hop windows: map-side expand, one shuffle",
    "q31_dedup_ngram_jaccard" -> "inverted-index join on 8-byte shingle hashes",
    "q32_dedup_minhash_lsh" -> "native MinHash/LSH expressions in codegen",
    "q44_dedup_embedding" -> "sign-LSH blocking + exact cosine verify",
    "q48_salted_join" -> "salted shuffled-hash join (skew pattern)",
    "q49_top_terms" -> "partial agg + TakeOrderedAndProject top-k",
    "q55_bucketed_join" -> "bucketed SMJ: one Exchange total (agg only)",
    "q56_tfidf" -> "in-plan n_docs (broadcast 1-row cross-join), vocab-broadcast df",
    "q63_bloom_semi_join" -> "scalar-subquery bloom build, map-side prune, exact semi verify",
    "q64_unpivot" -> "unpivot = Expand (map-side), single aggregation shuffle",
    "q67_doc_chunking" -> "chunking = explode fan-out, zero Exchange",
    "q70_contamination" -> "inverted-index gram join, probe side broadcast",
    "q71_sequence_packing" -> "per-shard window pack: one shuffle on source",
    "q72_decontaminate" -> "broadcast left-anti removal of contaminated ids",
    "q76_repeated_spans" -> "stride-window explode, one span hash-agg, no join",
    "q77_source_cap" -> "salted two-phase top-N: hot domains spread over 16 lanes",
    "q78_bigram_logprob" -> "model windows over vocab² frame, broadcast scoring join",
    "q80_mad_outliers" -> "two group medians, broadcast joins back, no fact shuffle",
    "q81_range_layout" -> "range-partitioned rewrite; filtered re-read prunes footers",
    "q83_token_pagerank" -> "checkpointed edge list; iterations = node-key joins only",
    "q84_rolling_features" -> "bounded ROWS frame, single user_id exchange",
    "q96_scd2_history" -> "SCD2: lag-compress + lead/version on one exchange+sort",
    "q97_snapshot_diff" -> "full-outer key SMJ, unchanged rows dropped in-join",
    "q98_dedup_typo" -> "delete-1 variant index, xxhash64 equi-join, lev verify",
    "q100_temperature_mix" -> "stats agg -> broadcast rates -> map-side thinning",
    "q101_group_corr" -> "six decimal moments, one group-key shuffle, closed form",
    "q106_dedup_containment" -> "inverted-index join; checkpointed count frame blocks filter re-substitution",
    "q107_stopword_prune" -> "broadcast stoplist frame, map-side HOF rewrite, one df shuffle",
    "q108_zorder_layout" -> "Morton-clustered rewrite; box re-read pushes BOTH range predicates",
    "q109_count_min_sketch" -> "256-cell counter frame broadcasts back; min-over-rows estimate",
    "q110_sessionize" -> "lag + running-sum + rollup on ONE user_id exchange",
    "q111_kmv_distinct" -> "k-smallest distinct hashes via TakeOrderedAndProject",
    "q112_bm25" -> "broadcast 3-term query frame prunes tf before the dl join",
    "q114_incremental_agg" -> "broadcast semi retract prune + signed-delta union agg",
    "q116_hybrid_rrf" -> "two rank lists on one corpus scan each, integer-exact RRF fuse",
    "q117_source_kl" -> "two term-count aggs share the token explode, add-one smoothing",
    "q118_cluster_canonical" -> "argmax-agg canonical pick + same-key join, no per-cluster window",
    "q122_dup_coverage" -> "span explode, un-hinted dup-set equi-join, partial-agg coverage",
    "q123_boilerplate_prune" -> "per-source stoplist broadcast, map-side rewrite, vocab-bounded shuffles",
    "q126_simhash_portable" -> "md5 token votes -> (doc,bit) partial agg -> 15-bit band self-join",
    "q127_sample_quantile" -> "salted two-phase bottom-k sample, nearest-rank over k rows",
    "q129_ivf_portable" -> "top-16 centroid pick, struct-max cell assignment, broadcast probe join",
    "q132_pq_portable" -> "md5 codebook, DECIMAL-exact ADC partial agg, WindowGroupLimit shortlist",
    "q133_lsh_portable" -> "md5-parity hyperplanes, integer projections, (t,bucket) collision join",
    "q130_seeded_shards" -> "seeded shard key map-side, one 8-cell partial+final agg",
    "q131_writer_packing" -> "salt-partitioned rank windows, serpentine deal, no join",
    "q136_ivf_stored" -> "stored-index probe: static cell filter prunes the partitioned scan",
    "q140_aql_chunk_verb" -> "CHUNK verb through the Aql layer: explode fan-out, zero Exchange",
    "q141_aql_neardedup_cosine" -> "COSINE dedup verb: bucket-blocked pairs, anti-join keep",
    "q143_aql_typo_verb" -> "TYPO dedup verb: delete-1 variant join, anti-join keep",
    "q144_neardedup_stored" -> "stored band index probe: routed-cell scan, left-anti keep",
    "q145_aql_split_verb" -> "SPLIT verb: md5-ppm assignment map-side, no shuffle",
    "q146_aql_mix_verb" -> "MIX verb: rates rollup -> broadcast back -> map-side keep",
    "q147_aql_knn_stored" -> "KNN STORED: persisted-IVF probe via the shared serving step",
    "q148_aql_neardedup_stored_verb" -> "AGAINST STORED verb: q144's stored-band probe via the language layer, left-anti keep",
    "q149_stream_stored_neardedup" -> "streaming stored-band dedup: idempotent sink read-back (each microbatch runs q144's shared probe shape — see q144/q148 for the per-batch plan; explain cannot render the in-flight streaming plan)",
    "q150_pii_scrub" -> "PII scrub: pure map-side compiled-regex chain, zero Exchange",
    "q151_aql_index_lsh_build_probe" -> "INDEX verb build (separate engine run) -> AGAINST STORED probe, left-anti keep",
    "q152_aql_index_ivf_knn" -> "INDEX IVF (separate engine run) -> KNN STORED: q147's shared serving step over the verb-built artifact",
    "q153_aql_cosine_stored" -> "stored sign-LSH bucket probe: routed cells, exact cosine verify, left-anti keep",
    "q154_aql_typo_stored" -> "stored delete-1 variant probe: routed cells, banded-lev verify, left-anti keep",
    "q155_aql_mix_t07" -> "general-T MIX: DECIMAL-quantized pow rate, broadcast back, map-side keep",
    "q156_aql_index_lsh_append" -> "INDEX APPEND (two separate engine runs) -> AGAINST STORED probe over the grown artifact: q148's routed-cell left-anti shape, append-invariant",
    "q157_stream_stored_cosine_dedup" -> "streaming stored-cosine dedup: idempotent sink read-back (each microbatch runs q153's shared probe shape - see q153 for the per-batch plan; explain cannot render the in-flight streaming plan)",
    "q158_aql_index_compact" -> "build -> APPEND -> COMPACT -> probe: answers identical to q156 (compaction rewrites cells, never rows); probe plan is q148's routed-cell left-anti shape",
    "q159_aql_index_delete" -> "build -> APPEND -> DELETE -> probe: content-keyed deletion rewrites only routed cells; probe plan is q148's routed-cell left-anti shape over the post-delete artifact",
    "q160_aql_index_describe" -> "INDEX DESCRIBE (separate engine run after the build): per-store stats from directory listings + one footer-only partition-column aggregation per store",
    "q161_stream_index_append" -> "streaming INDEX APPEND: 4 microbatches ingest into the stored band index via the verb's append step (explain cannot render the in-flight streaming plan; the probe run is q148's routed-cell left-anti shape)",
    "q162_aql_index_rebuild" -> "build -> APPEND -> REBUILD -> probe: the rebuild re-partitions every store and rewrites meta (content-preserving; derivation legs spec-pinned); probe plan is q148's routed-cell left-anti shape over the rebuilt artifact",
    "q163_aql_index_ivf_pq" -> "INDEX PQ build (separate engine run) -> KNN STORED ADC: routed CODE cells scan (pm smallints/candidate), broadcast (qid,m,code) LUT join, DECIMAL-exact partial+final ADC agg, WindowGroupLimit shortlist, full vectors only under the broadcast rerank join",
    "q164_aql_knn_cosine_stored" -> "INDEX COSINE (separate engine run) -> KNN LSH STORED: routed bucket cells, broadcast query-bucket collision join, content self-exclusion, exact rerank with WindowGroupLimit top-k",
    "q165_aql_index_rebuild_threshold" -> "build at 0.5 -> REBUILD THRESHOLD 0.9 (re-bands from the stored hashed shingles) -> probe at 0.9: q148's routed-cell left-anti shape over the re-banded artifact",
    "q166_stream_knn_adc" -> "streaming ADC serving: 4 microbatches each answered from the PQ codes store (explain cannot render the in-flight streaming plan; the per-batch plan is q163's broadcast-LUT ADC shape)",
    "q167_aql_index_rebuild_geometry" -> "INDEX REBUILD TABLES/BITS: derived-bits build re-bucketed to explicit 32x2 from the artifact's own vectors store, then KNN-served — the serve leg is q164's routed-bucket broadcast rerank shape, now warning-free (bits pinned in meta)",
    "q168_aql_knn_jaccard_stored" -> "KNN METHOD JACCARD STORED: top-10 Jaccard retrieval from the band artifact — routed band cells, broadcast batch bands, exact-Jaccard rerank over routed shingle cells, bounded per-qid window (shares storedVerifiedPairs with the AGAINST probe)",
    "q169_stream_stored_typo_dedup" -> "streaming TYPO dedup from the stored variant index: 4 microbatches each answered via q154's probe step (explain cannot render the in-flight streaming plan; the per-batch plan is the routed variant-cell broadcast left-anti shape)",
    "q170_aql_knn_jaccard_inplan" -> "KNN METHOD JACCARD in-plan (no artifact): banded candidates between the two frames' own MinHash band keys (never all-pairs), exact-Jaccard rerank over the in-plan shingle frames, bounded per-qid window — shared bodies with the q168 stored serve",
    "q171_aql_index_rebuild_cells" -> "build -> APPEND -> REBUILD CELLS 32 -> probe: explicit re-cell pinned in meta (cells leaves the derived list); probe plan is q148's routed-cell left-anti shape over the 32-cell artifact",
    "q172_stream_index_delete" -> "streaming INDEX DELETE: 4 microbatches of forget requests removed from the stored band index via the verb's delete step (explain cannot render the in-flight streaming plan; per-batch cell rewrites are q159's routed rewrite shape, the probe run q148's routed-cell left-anti shape)",
    "q173_stream_knn_jaccard" -> "streaming JACCARD retrieval: 4 microbatches of query docs each answered from the stored band artifact by the KNN verb's own parsed statement (explain cannot render the in-flight streaming plan; the per-batch plan is q168's routed-band exact-rerank shape)",
  )

  def main(args: Array[String]): Unit = {
    val (out, named) = args.toSeq match {
      case Seq("--out", dir, "--suffix", suffix, rest @ _*) =>
        (Some((Paths.get(dir), suffix)), rest)
      case rest if !rest.exists(_.startsWith("--")) => (None, rest)
      case _ =>
        sys.error("usage: graft.Plans [--out DIR --suffix S] [queries…]")
    }
    val queries = if (named.nonEmpty) named else flagship.map(_._1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession()
    def plan(name: String): String = SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    out match {
      case Some((dir, suffix)) =>
        Files.createDirectories(dir)
        queries.foreach { name =>
          val file = dir.resolve(s"${name}_$suffix.txt")
          Files.writeString(file, plan(name))
          println(s"[plans] wrote $file")
        }
      case None =>
        val notes = flagship.toMap
        val sb = new StringBuilder
        sb ++= "# PLANS — physical plans of flagship queries\n\n"
        sb ++= s"Auto-generated by `graft.Plans` (explain mode: formatted) at $sfDir.\n"
        sb ++= "Plan-shape contracts are enforced by PlanSpec; this file is the\n"
        sb ++= "human-readable audit trail.\n"
        queries.foreach { name =>
          sb ++= s"\n## $name — ${notes.getOrElse(name, "")}\n\n```\n"
          sb ++= plan(name)
          sb ++= "```\n"
        }
        Files.writeString(Paths.get("PLANS.md"), sb.toString)
        println(s"[plans] wrote PLANS.md (${queries.size} queries)")
    }
    spark.stop()
  }
}
