package graft.transforms

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import TransformParser.{KnnVerb, NearDedupVerb, TransformError}
import VerbSupport.{CosineDefaults, intOption}

/** A TRANSFORM block verb — the interface every block body compiles to.
  *
  * Lives at package level (round 14, moved out of [[TransformParser]])
  * because the hierarchy deliberately spans two files — the 15 language
  * verbs in TransformParser and the INDEX maintenance family in
  * [[IndexMaintenance]] — and Scala's `sealed` binds subclasses to the
  * defining FILE: re-sealing would mean collapsing ~3 500 lines of
  * verbs back into one file to buy exhaustiveness on a trait nothing
  * pattern-matches over (dispatch is by verb keyword in
  * TransformParser.parse, never by type). The intended bound is the
  * package: every implementation lives in `graft.transforms`, and the
  * verb registry in `parse` is the closed list of what a block can
  * contain.
  *
  * Snapshot at build: `build` may run Spark jobs, and what it returns
  * can be a snapshot rather than a plan over the sources. Verbs that
  * share a frame between several consumers (the NEARDEDUP/KNN band,
  * bucket and variant frames, the stored probes' batch side) and the
  * INDEX writers materialize it with an EAGER `localCheckpoint` while
  * the statement is built — so the sources are read once, at build
  * time. Executing the returned frame again after a source changed
  * answers for the source as it was when the statement was built, and
  * `explain` on it runs the checkpointed fan-out first. Build the
  * statement again to see new source data.
  */
trait Verb {
  /** Build the output DataFrame. `sources` maps UPPERCASE source alias →
    * DataFrame; `primary` is the first FROM source (used when the body
    * references sources positionally).
    */
  def build(sources: Map[String, DataFrame], primary: DataFrame): DataFrame
}

/** Shared verb-grammar and frame-prep helpers, extracted from
  * [[TransformParser]] (round 14, mechanical move): the top-level
  * clause splitters the verb parsers share, the bounded option parses,
  * the CPU-spread guard the shingle/minhash/dot-product stages apply
  * before fan-out work, and the exact-first collapse.
  */
private[transforms] object VerbSupport {

  /** Split on top-level commas (not inside parens or quotes). */
  private[transforms] def splitTop(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0; var inStr = false
    val sb = new StringBuilder
    for (c <- s) c match {
      case '\'' => inStr = !inStr; sb += c
      case '(' if !inStr => depth += 1; sb += c
      case ')' if !inStr => depth -= 1; sb += c
      case ',' if !inStr && depth == 0 =>
        out += sb.toString.trim; sb.clear()
      case _ => sb += c
    }
    if (sb.toString.trim.nonEmpty) out += sb.toString.trim
    out.result()
  }

  /** Spread a small-or-unknown-size source across all cores before a
    * CPU-heavy projection (shingle/minhash/dot-product stages): a small
    * parquet source may be one input split = one task, and a JDBC (or
    * other driver-side) relation without partitioning options is ONE
    * partition regardless of size. Plan-only (optimizer stats), no RDD
    * materialization. "Unknown" = the optimizer's defaultSizeInBytes
    * placeholder (conservatively huge) — for such sources the scan's own
    * parallelism is at most its configured partition count, so one
    * exchange is the safe default before CPU-bound work; a many-split
    * 100 TB parquet corpus reports its real size, blows the bound, and
    * keeps its scan splits.
    */
  private[transforms] def spreadForCpu(df: DataFrame,
      projected: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    val size = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val small = size <= BigInt(par.toLong) * (16L << 20)
    val unknown = size >= BigInt(Long.MaxValue)
    // size alone misses sources whose SCAN parallelism is capped below
    // their size: a large non-splittable compressed file reads as one
    // task per FILE, and a driver-side relation (JDBC et al.) is one
    // partition unless explicitly range-partitioned — both would run the
    // CPU-heavy projection serially however big they are. Still
    // plan-only (the file index is already resolved; no RDD
    // materialization). A deliberately partitioned JDBC read pays one
    // extra exchange here — acceptable before CPU-bound stages.
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val scanCapped = df.queryExecution.optimizedPlan.collectFirst {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation =>
          val files = fs.location.inputFiles
          files.length < par && files.exists(f =>
            f.endsWith(".gz") || f.endsWith(".bz2") ||
              f.endsWith(".zst") || f.endsWith(".deflate"))
        case _ => true // JDBC & other driver-side relations
      }
    }.getOrElse(false)
    if (small || unknown || scanCapped) projected.repartition(par)
    else projected
  }

  /** EXACT-FIRST collapse of an INDEX or NEARDEDUP batch: one row per
    * distinct row of `rows`, whose column `hash` is a hash of the row's
    * content, `defaultParallelism` tasks wide. One hash exchange on
    * `hash` both spreads the CPU stage that follows and meets the
    * distinct's clustering, so the collapse is one HashAggregate over
    * that exchange and AQE leaves its width alone (a repartition to a
    * fixed count is never coalesced): one job under the checkpoint that
    * follows. A map-side distinct's exchange is coalesced below the CPU
    * stage and needs a repartition after it, a second job. `rows` needs
    * no spread of its own when it only projects and hashes.
    *
    * The aggregate runs after the exchange, so every input row is
    * shuffled and every copy of a text lands in the same task. Against
    * a map-side distinct that costs more bytes once exact duplicates
    * pass half the input, and one heavily repeated text loads one task.
    * The inputs measured so far hold under 1% exact duplicates
    * (BASELINE.md, "Exact duplicates at the collapse"); a highly
    * duplicated batch is unmeasured. The corpus-side collapses of
    * NEARDEDUP AGAINST and KNN JACCARD keep their map-side distinct for
    * that reason.
    */
  private[transforms] def exactFirst(rows: DataFrame, hash: String)
      : DataFrame =
    rows.repartition(rows.sparkSession.sparkContext.defaultParallelism,
      col(hash)).distinct()

  /** Bounded integer option parse: the verb grammars match `\d+`, which
    * admits values beyond Int.MaxValue — surface those as TransformError
    * like every other malformed clause, not a NumberFormatException.
    */
  private[transforms] def intOption(verb: String, name: String, s: String): Int =
    try s.toInt
    catch { case _: NumberFormatException => throw TransformError(
      s"$verb $name $s out of integer range") }

  /** Case-insensitive regex split helper keeping SQL-ish casing intact. */
  private[transforms] def splitKeyword(s: String, kw: String)
      : (String, Option[String]) = {
    val m = s"(?is)\\b$kw\\b".r.findFirstMatchIn(s)
    m match {
      case Some(mm) => (s.substring(0, mm.start).trim,
        Some(s.substring(mm.end).trim))
      case None => (s.trim, None)
    }
  }

  private[transforms] def stripQuotes(s: String): String = {
    val t = s.trim
    if (t.length >= 2 && t.head == '\'' && t.last == '\'')
      t.substring(1, t.length - 1)
    else t
  }

  /** `expr [AS alias]` — alias may be quoted or bare. */
  private[transforms] def splitAlias(term: String)
      : (String, Option[String]) = {
    val m = raw"(?is)^(.*?)\s+AS\s+('[^']*'|[A-Za-z_][\w]*)\s*$$".r
    term.trim match {
      case m(e, a) => (e.trim, Some(stripQuotes(a)))
      case e => (e.trim, None)
    }
  }

  /** NEARDEDUP METHOD COSINE's (TABLES, BITS) defaults — ONE definition
    * for the parser's partial-option fill and both builders.
    */
  private[transforms] val CosineDefaults = (32, 4)
}

/** NEARDEDUP [<Batch> AGAINST <Corpus>] ON <textcol> KEY <keycol>
  *           [THRESHOLD <0-1>]
  *           [METHOD EXACT|LSH [BANDS <b> ROWS <r>] [STAR ABOVE <n>]]
  *
  * The two-source form `NEARDEDUP Batch AGAINST Corpus ON …` is the
  * incremental-dedup shape (q85, decontamination-style): drop every
  * Batch row whose text near-matches ≥ 1 Corpus doc at the threshold;
  * Batch-internal near-dups are NOT collapsed (compose with a plain
  * NEARDEDUP stage for that). No clustering or canonical pick — the
  * keep set is a left-anti join against the matched batch ids, and
  * candidate work is batch×corpus collision mass only
  * ([[NearDup.crossMatchesExact]] / [[NearDup.minhashCrossMatches]];
  * at 100 TB the corpus band index is write-once and each batch pays
  * ∝ its own size). STAR ABOVE applies only to the single-source form
  * (there is no per-cluster spanning structure to preserve here).
  *
  * Beyond-parity verb (SURVEY §7.3): near-duplicate removal as a
  * language operator — the q31→q47→q118 pipeline (3-gram Jaccard
  * pairs → min-label connected components → one canonical survivor
  * per cluster) applied to the primary source. The longest text in
  * each near-dup cluster survives (lowest key breaks ties); rows that
  * near-match nothing pass through untouched, including rows too
  * short to shingle (< 3 tokens). Default threshold 0.5 matches the
  * q31 gate.
  *
  * METHOD picks the candidate-pair generator. The DEFAULT is LSH —
  * the scale path — whenever the threshold admits a banding
  * (t ≳ 0.105); below that the default falls back to EXACT (strictly
  * more complete, and banding has no config there). Explicit METHOD
  * always wins, and explicit LSH at an un-bandable threshold is a
  * parse-time error:
  *   - EXACT — inverted-index join on hashed shingles
  *     ([[NearDup.pairs]]): full recall, but a shingle shared by f
  *     docs costs f² join work, so near-identical *families* (that
  *     exact-first collapse can't merge) pay quadratic postings mass.
  *   - LSH — banded MinHash ([[NearDup.minhashPairs]]): candidates ∝
  *     true-collision mass, measured 13–18× faster at duplication
  *     (SCALING.md) and sublinear to 320 k docs. Banding is auto-
  *     chosen from the threshold ([[NearDup.autoBands]]: per-pair
  *     miss ≤ 1e-6 at the threshold, fewest bands that achieve it)
  *     unless BANDS/ROWS pins it. Candidates are exact-verified
  *     either way, so LSH can only *miss* a pair (P ≤ 1e-6 at the
  *     boundary), never admit a false one — the q124 gate hash-
  *     matches its survivor set against the exact path's.
  *
  * STAR ABOVE n (LSH only) applies [[NearDup.minhashPairsStar]]'s
  * hot-bucket split: band buckets holding more than n docs emit
  * verified anchor-star edges (linear) instead of all pairs
  * (quadratic) — the band-skew response for boilerplate-heavy
  * corpora where near-identical families defeat exact-first
  * collapse. Cluster-preserving for homogeneous families; measured
  * flat to 16 000-member families in SCALING.md (graft.SkewScale)
  * while producing the identical cluster partition.
  *
  * Scale shape: see [[NearDup]] — the pair space is bounded by shared
  * shingles / band collisions (never O(n²)), postings join on 8-byte
  * hashes, components converge in diameter rounds with a constant-
  * depth checkpointed plan, and the final keep is a left-anti join
  * against the (small) loser set, which AQE broadcasts while it fits.
  * Identical texts are collapsed BEFORE pair generation (exact-first,
  * see build) — the ordering SCALING.md measures as decisive under
  * duplication.
  */
private[transforms] object NearDedupParser {
  private val Re =
    raw"(?is)^NEARDEDUP(?:\s+(\w+)\s+AGAINST\s+(?:STORED\s+'([^']+)'|(\w+)))?\s+ON\s+([A-Za-z_]\w*)\s+KEY\s+([A-Za-z_]\w*)(?:\s+THRESHOLD\s+([0-9]*\.?[0-9]+))?(?:\s+METHOD\s+([A-Za-z]+)(?:\s+BANDS\s+(\d+)\s+ROWS\s+(\d+))?(?:\s+STAR\s+ABOVE\s+(\d+))?(?:\s+TABLES\s+(\d+))?(?:\s+BITS\s+(\d+))?)?\s*$$".r

  def parse(t: String): Verb = t.trim match {
    case Re(batch, storedPath, corpus, text, key, th, method, bands,
        rows, star, tables, bits) =>
      val threshold = Option(th).map(_.toDouble).getOrElse(0.5)
      if (threshold <= 0 || threshold > 1) throw TransformError(
        s"NEARDEDUP threshold $threshold out of range (0, 1]")
      val m = Option(method).map(_.toUpperCase) match {
        case Some(x) =>
          if (x != "EXACT" && x != "LSH" && x != "COSINE" && x != "TYPO")
            throw TransformError(
              s"NEARDEDUP METHOD $x unknown (expected EXACT, LSH, " +
                "COSINE or TYPO)")
          x
        case None =>
          // default = the banded scale path: LSH candidate generation
          // is measured 13-18x cheaper under duplication (SCALING.md)
          // with a survivor set proven equal to the exact path's (q124
          // hash-matches both against one oracle). Thresholds too low
          // to band (no (bands, rows) within 128 permutations reaches
          // per-pair miss <= 1e-6, t <~ 0.105) fall back to the exact
          // inverted index, which is strictly more complete — explicit
          // METHOD LSH at such thresholds still errors at parse time.
          val lshFeasible =
            try { NearDup.autoBands(threshold); true }
            catch { case _: IllegalArgumentException => false }
          if (lshFeasible) "LSH" else "EXACT"
      }
      // TYPO is fixed edit-distance-1 matching — a Jaccard/cosine
      // threshold has no meaning there, so an explicit THRESHOLD is a
      // config error, not something to silently ignore
      if (m == "TYPO" && th != null) throw TransformError(
        "NEARDEDUP THRESHOLD does not apply to METHOD TYPO " +
          "(fixed edit distance 1)")
      val br = (Option(bands), Option(rows)) match {
        case (Some(b), Some(r)) => Some((intOption("NEARDEDUP", "BANDS", b),
          intOption("NEARDEDUP", "ROWS", r)))
        case _ => None // regex captures BANDS+ROWS together or not at all
      }
      br.foreach { case (b, r) =>
        if (m != "LSH") throw TransformError(
          "NEARDEDUP BANDS/ROWS only apply to METHOD LSH")
        if (b < 1 || r < 1 || b * r > 128) throw TransformError(
          s"NEARDEDUP BANDS $b ROWS $r invalid (need BANDS ≥ 1, " +
            "ROWS ≥ 1, BANDS × ROWS ≤ 128 signature permutations)")
      }
      val starAbove = Option(star)
        .map(intOption("NEARDEDUP", "STAR ABOVE", _).toLong)
      starAbove.foreach { n =>
        if (m != "LSH" && m != "COSINE") throw TransformError(
          "NEARDEDUP STAR ABOVE only applies to METHOD LSH or COSINE " +
            "(the bucketed methods with a hot-bucket split)")
        if (n < 1) throw TransformError(
          s"NEARDEDUP STAR ABOVE $n must be >= 1")
      }
      if (m == "LSH" && br.isEmpty)
        try NearDup.autoBands(threshold)
        catch { // surface the no-config case at parse time, not mid-job
          case e: IllegalArgumentException => throw TransformError(
            s"NEARDEDUP METHOD LSH: ${e.getMessage}")
        }
      val tb = (Option(tables).map(intOption("NEARDEDUP", "TABLES", _)),
        Option(bits).map(intOption("NEARDEDUP", "BITS", _))) match {
        case (None, None) => None
        case (t2, b2) =>
          if (m != "COSINE") throw TransformError(
            "NEARDEDUP TABLES/BITS only apply to METHOD COSINE")
          val tv = t2.getOrElse(CosineDefaults._1)
          val bv = b2.getOrElse(CosineDefaults._2)
          if (tv < 1 || bv < 1 || bv > 30) throw TransformError(
            s"NEARDEDUP TABLES $tv BITS $bv invalid (need TABLES ≥ 1, " +
              "1 ≤ BITS ≤ 30)")
          Some((tv, bv))
      }
      val against = (Option(batch), Option(corpus)) match {
        case (Some(b), Some(c)) => Some((b, c))
        case _ => None // regex captures both or neither
      }
      val againstStored = (Option(batch), Option(storedPath)) match {
        case (Some(b), Some(p)) => Some((b, p))
        case _ => None
      }
      if ((against.isDefined || againstStored.isDefined) &&
          starAbove.isDefined) throw TransformError(
        "NEARDEDUP STAR ABOVE applies only to the single-source form " +
          "(AGAINST has no cluster structure to span)")
      // every non-EXACT method has a stored-artifact family (LSH →
      // band store, COSINE → sign-LSH bucket store, TYPO → delete-1
      // variant store — all INDEX-verb-buildable); EXACT's "index" IS
      // the corpus, so it has nothing to persist beyond the data
      if (againstStored.isDefined && m == "EXACT") throw TransformError(
        "NEARDEDUP AGAINST STORED requires METHOD LSH, COSINE or TYPO " +
          "(EXACT has no stored index form — its candidate index is " +
          "the corpus itself; use the two-source AGAINST)")
      NearDedupVerb(text, key, threshold, m, br, starAbove, against, tb,
        againstStored)
    case _ => throw TransformError(
      "cannot parse NEARDEDUP (expected NEARDEDUP [<Batch> AGAINST " +
        "<Corpus>] ON <textcol|veccol> KEY <keycol> [THRESHOLD <0-1>] " +
        "[METHOD EXACT|LSH [BANDS <n> ROWS <n>] [STAR ABOVE <n>] | " +
        "COSINE [STAR ABOVE <n>] [TABLES <n>] [BITS <n>] | TYPO])")
  }
}

/** KNN [<Queries> WITH <Corpus>] ON <veccol> KEY <keycol>
  *     [TOP <k>] [METHOD EXACT|LSH|IVF]
  *     [TABLES <t>] [BITS <b>] [CELLS <c>] [PROBE <p>]
  *     [STORED '<index-dir>'] [QUERIES <sql-expr>]
  *
  * `METHOD IVF STORED '<dir>'` serves from a PERSISTED IVF index
  * (built once by Similarity.ivfStoreFrom — the q136/q139 artifact)
  * instead of indexing the source in-plan: the one source supplies
  * only the query rows, the candidate scan reads only the probed
  * cells' files, and the answers are byte-identical to the in-plan
  * build over the same corpus (gate q147 hash-matches q136's oracle
  * from the same stored index). CELLS is fixed by the artifact;
  * PROBE picks the cells per query. This is the serving shape the
  * AnnScale curve measures flat to 2 M vectors. With a PQ-carrying
  * artifact (INDEX … PQ <m>), `ADC [SHORTLIST <n>]` ranks the routed
  * candidates by asymmetric distance over the narrow codes store and
  * reads full vectors only for the top-n shortlist (gate q163).
  *
  * `METHOD LSH STORED '<dir>'` serves top-k from a COSINE sign-LSH
  * bucket artifact (INDEX … METHOD COSINE INTO — the q153/q157
  * store): candidates are bucket collisions in any table, exact-
  * reranked (gate q164). Geometry (TABLES/BITS/CELLS) is frozen in
  * the artifact's meta and cannot be passed here. The store is
  * content-keyed, so neighbor_id is the stored entry's content hash
  * (exact-duplicate vectors collapse to one entry) and a query's own
  * indexed vector excludes itself by content, not by key.
  *
  * Beyond-parity verb (SURVEY §7.3): similarity search as a language
  * operator, riding the q34/q35/q46 machinery ([[VecKnn]]). For every
  * query row (rows matching QUERIES — default all — of the primary
  * source, or of <Queries> in the two-source form), emits its top-k
  * cosine neighbors from the corpus (the same source, or <Corpus>),
  * same key excluded: (qid, neighbor_id, cosine, rank) with rank 1..k
  * by (cosine DESC, neighbor id) — deterministic including ties.
  *
  * The two-source form `KNN Batch WITH Corpus ON …` is the
  * incremental-serving shape (q85's batch-vs-corpus pattern for
  * vectors): a new batch queries an existing indexed corpus without
  * self-joining either side. Both sources must carry the vec and key
  * columns; a key present in both (a re-indexed doc) never matches
  * itself.
  *
  * Degenerate vectors — null/empty arrays and zero/NaN/Inf norms —
  * leave BOTH sides before any scoring: their cosine is NaN, which
  * Spark's NaN-safe ordering ranks above every real value, so an
  * unfiltered zero vector would be every query's "nearest" neighbor.
  * A degenerate query row simply emits no neighbor rows.
  *
  * METHOD EXACT (default) is the brute-force baseline whose output
  * hash-matches a DuckDB oracle (gate q125). METHOD LSH buckets by
  * sign-LSH (TABLES × BITS, defaults 16 × 4) and METHOD IVF probes a
  * seeded coarse quantizer (PROBE of CELLS cells, defaults 8 of 16);
  * both exact-rerank their candidates, so they can only miss
  * neighbors, never mis-rank the ones they find. Recall floors vs the
  * exact baseline are asserted in PipelineSpec (≥ 0.8 at defaults on
  * the sf0.001 panel).
  */
private[transforms] object KnnParser {
  private val Re =
    raw"(?is)^KNN(?:\s+(\w+)\s+WITH\s+(\w+))?\s+ON\s+([A-Za-z_]\w*)\s+KEY\s+([A-Za-z_]\w*)(?:\s+TOP\s+(\d+))?(?:\s+METHOD\s+([A-Za-z]+))?(?:\s+THRESHOLD\s+([0-9]*\.?[0-9]+))?(?:\s+TABLES\s+(\d+))?(?:\s+BITS\s+(\d+))?(?:\s+CELLS\s+(\d+))?(?:\s+PROBE\s+(\d+))?(?:\s+STORED\s+'([^']+)')?(\s+ADC)?(?:\s+SHORTLIST\s+(\d+))?(?:\s+QUERIES\s+(.+?))?\s*$$".r

  def parse(t: String): Verb = t.trim match {
    case Re(qsrc, csrc, vec, key, top, method, thr, tables, bits, cells,
        probe, storedPath, adcFlag, shortlist, queries) =>
      val k = Option(top).map(intOption("KNN", "TOP", _)).getOrElse(5)
      if (k < 1) throw TransformError(s"KNN TOP $k must be >= 1")
      val m = Option(method).map(_.toUpperCase).getOrElse("EXACT")
      if (!Set("EXACT", "LSH", "IVF", "JACCARD").contains(m))
        throw TransformError(
          s"KNN METHOD $m unknown (expected EXACT, LSH, IVF or JACCARD)")
      // THRESHOLD is JACCARD's grade floor (the banded artifact only
      // promises recall at >= its banding threshold, so the statement
      // states the grade it serves at); distance methods rank without
      // a floor and reject it
      val th = Option(thr).map(_.toDouble)
      th.foreach { v =>
        if (m != "JACCARD") throw TransformError(
          "KNN THRESHOLD only applies to METHOD JACCARD (the banded " +
            "text artifact serves at threshold grade; vector methods " +
            "rank without a floor)")
        if (v <= 0 || v > 1) throw TransformError(
          s"KNN THRESHOLD $v out of range (0, 1]")
      }
      def only(name: String, v: Option[String], meth: String): Option[Int] = {
        v.foreach(_ => if (m != meth) throw TransformError(
          s"KNN $name only applies to METHOD $meth"))
        v.map(intOption("KNN", name, _)).map { n =>
          if (n < 1) throw TransformError(s"KNN $name $n must be >= 1")
          n
        }
      }
      val tb = only("TABLES", Option(tables), "LSH")
      val bi = only("BITS", Option(bits), "LSH")
      // surface the bucket-expression's own bounds as TransformErrors
      // with verb context, not a bare `require` from deep in the build
      bi.foreach(b => if (b > 30) throw TransformError(
        s"KNN BITS $b must be <= 30 (bucket ids are positive Ints)"))
      tb.foreach(t => if (t > 1024) throw TransformError(
        s"KNN TABLES $t must be <= 1024 (per-row bucket array and " +
          "hyperplane table grow linearly in TABLES)"))
      val ce = only("CELLS", Option(cells), "IVF")
      val pr = only("PROBE", Option(probe), "IVF")
      val st = Option(storedPath)
      // in-plan JACCARD has no artifact to inherit a grade from: the
      // threshold both shapes the banding and states the grade the
      // answer serves at, so it must be explicit. The STORED form may
      // omit it (defaults 0.5, validated against the artifact's meta
      // — a mismatched grade errors rather than silently missing
      // pairs).
      if (m == "JACCARD" && st.isEmpty && th.isEmpty) throw TransformError(
        "KNN METHOD JACCARD requires THRESHOLD for the in-plan form " +
          "(no stored artifact fixes the banding — the threshold " +
          "shapes it and states the grade served at)")
      st.foreach { _ =>
        if (m == "EXACT") throw TransformError(
          "KNN STORED applies to METHOD IVF (an IVF artifact), " +
            "METHOD LSH (a COSINE sign-LSH artifact) or METHOD " +
            "JACCARD (an lsh_text band artifact) — METHOD EXACT " +
            "scans the source, there is nothing stored to serve from")
        if (ce.isDefined) throw TransformError(
          "KNN CELLS does not apply with STORED (the artifact fixes " +
            "the cell count at index-build time)")
        // the same meta-is-truth algebra as CELLS: the artifact's
        // bucketing is frozen at build time, and accepting a knob the
        // store overrides would silently lie about what serves
        if (m == "LSH" && (tb.isDefined || bi.isDefined))
          throw TransformError(
            "KNN TABLES/BITS do not apply with STORED (the bucket " +
              "geometry comes from the artifact's meta)")
        if (qsrc != null || csrc != null) throw TransformError(
          "KNN STORED replaces the corpus side — use the one-source " +
            "form (the source provides only the queries)")
      }
      // validate against the DEFAULTS too: 'PROBE 32' with implicit
      // CELLS 16 is the same invalid config as the explicit pair.
      // STORED skips it: the artifact's cell count is unknown at parse
      // time, and an over-large nprobe just probes every cell.
      if (m == "IVF" && st.isEmpty && pr.getOrElse(8) > ce.getOrElse(16))
        throw TransformError(
          s"KNN PROBE ${pr.getOrElse(8)} exceeds CELLS ${ce.getOrElse(16)}")
      val adc = adcFlag != null
      if (adc && st.isEmpty) throw TransformError(
        "KNN ADC only applies with STORED (the PQ codes live in the " +
          "stored artifact — build it with INDEX … PQ <m>)")
      if (adc && m != "IVF") throw TransformError(
        "KNN ADC only applies to METHOD IVF STORED (PQ codes ride " +
          "the IVF artifact; the sign-LSH store has none)")
      val sl = Option(shortlist).map(intOption("KNN", "SHORTLIST", _))
      sl.foreach { n =>
        if (!adc) throw TransformError(
          "KNN SHORTLIST only applies with ADC (it sizes the ADC " +
            "candidate list the exact rerank reads full vectors for)")
        if (n < k) throw TransformError(
          s"KNN SHORTLIST $n must be >= TOP $k (the rerank can only " +
            "return shortlisted candidates)")
      }
      KnnVerb(vec, key, k, m, tb, bi, ce, pr,
        Option(queries).map(_.trim),
        (Option(qsrc), Option(csrc)) match {
          case (Some(q), Some(c)) => Some((q, c))
          case _ => None // regex captures both or neither
        }, st, adc, sl, th)
    case _ => throw TransformError(
      "cannot parse KNN (expected KNN [<Queries> WITH <Corpus>] " +
        "ON <veccol> KEY <keycol> [TOP <k>] " +
        "[METHOD EXACT|LSH|IVF|JACCARD] [THRESHOLD <0-1>] " +
        "[TABLES <t>] [BITS <b>] [CELLS <c>] [PROBE <p>] " +
        "[STORED '<index-dir>'] [ADC] [SHORTLIST <n>] [QUERIES <expr>])")
  }
}
