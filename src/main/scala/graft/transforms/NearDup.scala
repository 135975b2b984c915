package graft.transforms

import graft.functions.Text
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Near-duplicate machinery shared by the dedup gates
  * (`queries/Dedup.scala` q31/q47) and the NEARDEDUP language verb:
  * exact n-gram Jaccard pair generation via an inverted-index join, and
  * min-label connected components over the resulting pair graph.
  *
  * Reference analogue: none — the reference engine
  * (michaelbironneau/analyst) has no text operators; this is the
  * beyond-parity LLM-pipeline surface exposed both as verification
  * gates and as a first-class TRANSFORM verb.
  */
object NearDup {

  /** Minimum token count for a text to produce 3-gram shingles. Shared
    * between [[shingled]]'s filter and [[shingleable]] (the NEARDEDUP
    * verb's isolated-clique gate) so the two can never diverge.
    */
  final val MinShingleTokens = 3

  /** True iff the text would survive [[shingled]]'s filter — i.e. it can
    * participate in the pair graph at all.
    */
  def shingleable(textCol: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    size(Text.tokens(textCol)) >= MinShingleTokens

  /** (id, shs): distinct 3-gram shingle arrays for rows with ≥
    * [[MinShingleTokens]] tokens. Filtered on the cheap token count, NOT
    * on the shingle array — see [[Text.shinglesFromTokens]] for the
    * pushdown rationale. Rows with fewer tokens have no shingles, can
    * never pair, and therefore always survive dedup.
    */
  def shingled(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"), Text.tokens(col(textCol)).as("ws"))
      .where(size(col("ws")) >= MinShingleTokens)
      .select(col("id"), Text.shinglesFromTokens(col("ws")).as("shs"))

  /** Pairs (doc_a, doc_b, jaccard) with round(jaccard, 6) ≥ threshold,
    * via an inverted-index join on hashed shingles.
    *
    * `sh` must have columns (id, shs) as produced by [[shingled]].
    *
    * Scale shape (the q31 plan): postings carry xxhash64(shingle), not
    * the string — an 8-byte shuffle/join key instead of ~20-char text
    * (shs is distinct per doc, so per-doc hash sets stay sets; cross-doc
    * hash collisions would merge two shingles globally — P ≈ n²/2⁶⁵,
    * ignorable next to the 1e-6 rounding). The pair space is only pairs
    * sharing ≥ 1 shingle, shuffled by shingle hash — never O(n²). At
    * 100 TB prefer [[minhashPairs]] (full recall, candidate work ∝
    * true-collision mass) or, where some recall loss is acceptable,
    * [[pairsCapped]] — whose recall cost is corpus-dependent and
    * MEASURED in graft.Scale/SCALING.md, not assumed.
    */
  def pairs(sh: DataFrame, threshold: Double): DataFrame = {
    // materialize the postings ONCE (round 16): they feed the per-doc
    // size frame and BOTH sides of the inverted-index self-join — three
    // consumers, each of which otherwise re-runs the tokenize+shingle+
    // hash chain from the source scan (guide §2.4's recompute family;
    // the before-plan shows 4 corpus scans). Lazy: the eager counts
    // checkpoint below materializes it in one job at build time, so the
    // self-join's sibling stages read cached blocks instead of racing.
    val posts = sh
      .select(col("id"), size(col("shs")).as("n"),
        explode(Text.hashedShingles(col("shs"))).as("h"))
      .localCheckpoint(false)
    // localCheckpoint: the per-doc size frame is |docs|-sized and feeds
    // BOTH broadcast probe sides — materializing it once replaces two
    // full tokenize+shingle corpus scans with one, and (critically for
    // q106) stops predicate pushdown from alias-substituting n back
    // into size(<shingle pipeline>) inside a per-row scan filter.
    val counts = posts.select(col("id"), col("n")).distinct()
      .localCheckpoint()
    val a = posts.select(col("id").as("doc_a"), col("h"))
    val b = posts.select(col("id").as("doc_b"), col("h"))
    val common = a.join(b, "h")
      .where(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("common"))
    // per-doc sizes are |docs| rows — broadcast both probe sides
    val na = broadcast(counts.toDF("doc_a", "n_a"))
    val nb = broadcast(counts.toDF("doc_b", "n_b"))
    common.join(na, "doc_a").join(nb, "doc_b")
      .withColumn("jaccard",
        round(col("common").cast("double")
          / (col("n_a") + col("n_b") - col("common")), 6))
      .where(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** DF-capped near-dup pairs: the high-duplication variant of [[pairs]].
    * Postings whose shingle document-frequency exceeds `maxDf` are
    * dropped BEFORE the inverted-index self-join — but only for
    * CANDIDATE generation; survivors are exactly verified against the
    * full shingle arrays, so capping can only lose pairs whose every
    * shared shingle is hot (no false positives, jaccard values exact).
    *
    * Scale shape: a shingle shared by f docs contributes f² join work;
    * the cap bounds that product at maxDf² per shingle, turning the one
    * quadratic-prone stage into a linear one. The DF frame is vocab-
    * sized and partial-aggregatable. Recall cost is corpus-dependent
    * and measured in graft.Scale (SCALING.md): near-free when shingle
    * DF is heavy-tailed (natural text), substantial when the vocabulary
    * is small and near-dups share only hot shingles — measure before
    * trusting a cap; [[minhashPairs]] keeps full recall without one.
    */
  def pairsCapped(sh: DataFrame, threshold: Double, maxDf: Long): DataFrame = {
    // round 16: the shingle frame also feeds BOTH exact-verify sides at
    // the end — materialize it once (lazy; the eager posts checkpoint
    // below runs through it at build time, so the verify joins read
    // cached blocks instead of re-running tokenize+shingle twice more)
    val shC = sh.localCheckpoint(false)
    // materialize the postings once: they feed the df aggregate and both
    // probe sides of the self-join — without this the tokenize+shingle+
    // hash scan re-runs per consumer (same rationale as pairs' counts
    // checkpoint; at 100 TB the postings ARE the stored index artifact)
    val posts = shC
      .select(col("id"), explode(Text.hashedShingles(col("shs"))).as("h"))
      .localCheckpoint()
    val cold = posts.groupBy(col("h"))
      .agg(count(lit(1)).as("df"))
      .where(col("df") <= maxDf)
      .select(col("h"))
    val kept = posts.join(cold, "h")
    val cand = kept.toDF("h", "doc_a")
      .join(kept.toDF("h", "doc_b"), "h")
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
    verifyPairs(cand, shC, threshold)
  }

  /** MinHash + LSH banded near-dup pairs, exact-verified (the q32
    * algorithm, shared with the Scale harness): 128-permutation
    * signatures over hashed shingles, banded into `numBands` ×
    * `rowsPerBand` LSH keys; docs colliding in ≥ 1 band become
    * candidates, and only candidates pay the exact array_intersect
    * verification. `sh` must have (id, shs) as from [[shingled]].
    * Output (doc_a, doc_b, jaccard) with true jaccard ≥ threshold.
    *
    * Scale shape: the pair space is band-key collisions — never O(n²);
    * signatures are one map-side native-codegen projection per doc
    * (functions/Text.scala MinHashSigExpression); verification joins
    * shingle arrays only onto the candidate frame.
    */
  def minhashPairs(sh: DataFrame, threshold: Double,
      numPerm: Int = 128, numBands: Int = 32,
      rowsPerBand: Int = 4): DataFrame = {
    // round 16: materialize the shingle frame once (it feeds the band-
    // key chain AND both exact-verify sides) and the band keys once
    // (both candidate-join sides) — before this the tokenize+shingle
    // chain ran up to 4x and the signature chain 2x per statement
    // (guide §2.4; the before-plan shows 8 corpus scans). The EAGER
    // bands checkpoint materializes shC in the same job at build time;
    // the join's sibling stages then read cached blocks instead of
    // racing to recompute the shared frames.
    val shC = sh.localCheckpoint(false)
    val bands = bandKeys(shC, numPerm, numBands, rowsPerBand)
      .localCheckpoint()
    val cand = bands.toDF("doc_a", "band", "bh")
      .join(bands.toDF("doc_b", "band", "bh"), Seq("band", "bh"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
    verifyPairs(cand, shC, threshold)
  }

  /** (id, band, bh): LSH band keys for every doc — one row per (doc,
    * band). Shared by [[minhashPairs]], [[minhashPairsStar]] and
    * [[bandHeavyHitters]] so the three can never disagree on banding.
    */
  private[graft] def bandKeys(sh: DataFrame, numPerm: Int, numBands: Int,
      rowsPerBand: Int): DataFrame =
    bandKeysWith(sh, numPerm, numBands, rowsPerBand, carryShingles = false)
      .select(col("id"), col("band"), col("bh"))

  /** [[bandKeys]] with the shingle payload optionally carried through
    * the fan-out — the ONE banding expression chain (token-hash →
    * signature → band fold) for every consumer, so a slim index build
    * (carry = false) and a payload-carrying probe side (carry = true,
    * the streaming gate's shape: a stream row cannot statelessly re-join
    * its own shingles) can never diverge on the algebra.
    */
  private[graft] def bandKeysWith(sh: DataFrame, numPerm: Int, numBands: Int,
      rowsPerBand: Int, carryShingles: Boolean): DataFrame = {
    val carried = if (carryShingles) Seq(col("shs")) else Seq.empty
    val sig = sh.select(Seq(col("id"),
      Text.minhashSigFromHashes(
        Text.hashedShingles(col("shs")), numPerm).as("sig")) ++ carried: _*)
    sig
      .select(Seq(col("id"),
        explode(Text.lshBands(col("sig"), numBands, rowsPerBand)).as("bk"))
        ++ carried: _*)
      .select(Seq(col("id"), col("bk.band").as("band"),
        col("bk.bh").as("bh")) ++ carried: _*)
  }

  /** [[bandKeys]] recomputed from a STORED shingle frame — the
    * `INDEX REBUILD … THRESHOLD` step: the shingle store persists each
    * entry's full shingle set, already xxhash64'd under the default
    * scheme, and MinHash signatures are a pure function of those hashes
    * ([[bandKeysWith]] computes sig = minhashSigFromHashes(
    * hashedShingles(raw))), so a stored `shs` that IS the hashed array
    * feeds the signature directly — re-hashing hashes would band
    * nonsense that matches no probe. Raw-scheme stores take the full
    * chain, identical to the build's. Same output contract as
    * [[bandKeys]]: (id, band, bh).
    */
  private[graft] def bandKeysFromStored(sh: DataFrame, scheme: String,
      numPerm: Int, numBands: Int, rowsPerBand: Int): DataFrame = {
    val hashes = scheme match {
      case "xxhash64" => col("shs")
      case "raw" => Text.hashedShingles(col("shs"))
      case other => throw new IllegalArgumentException(
        s"unknown shingle scheme '$other'")
    }
    sh.select(col("id"),
        Text.minhashSigFromHashes(hashes, numPerm).as("sig"))
      .select(col("id"),
        explode(Text.lshBands(col("sig"), numBands, rowsPerBand)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.bh").as("bh"))
  }

  /** Per-band-bucket document frequencies ≥ `minF` — the heavy-hitter
    * diagnostic for the banded pipeline (q87's sketch shape applied to
    * band keys). Near-identical FAMILIES that exact-first collapse
    * cannot merge (boilerplate with per-page mutations) put all f family
    * members into the same bucket in every band, and the bucket
    * self-join then costs f² candidates there. Returns (band, bh, f)
    * for buckets at or above `minF`: run it before a big LSH job; the
    * mass it reports is exactly where [[minhashPairsStar]]'s anchor
    * split caps the quadratic term. The frame is vocab-bounded (one row
    * per hot bucket) and fully partial-aggregatable.
    */
  def bandHeavyHitters(sh: DataFrame, minF: Long,
      numPerm: Int = 128, numBands: Int = 32,
      rowsPerBand: Int = 4): DataFrame =
    bandKeys(sh, numPerm, numBands, rowsPerBand)
      .groupBy(col("band"), col("bh"))
      .agg(count(lit(1)).as("f"))
      .where(col("f") >= minF)

  /** [[minhashPairs]] with a hot-bucket star split — the cap-or-split
    * strategy for band skew. Buckets with ≤ `starAbove` docs emit all
    * pairs (identical to [[minhashPairs]]); hotter buckets emit only
    * (anchor = min id in bucket, member) star edges — LINEAR in bucket
    * size instead of quadratic. All candidates are exact-verified.
    *
    * What this trades, precisely: the full pair LIST of a hot bucket is
    * Θ(f²) — if the f docs are genuinely pairwise-similar, that output
    * is itself quadratic and no algorithm emits it in sub-quadratic
    * work. But CONNECTED COMPONENTS (the dedup consumer) only needs a
    * spanning structure per cluster: a verified star reaches every
    * member in one hop. The star preserves cluster membership whenever
    * anchor↔member similarity clears the threshold — true for
    * homogeneous near-dup families (the thing that makes buckets hot);
    * a member whose only qualifying partners are non-anchor members of
    * hot buckets can be lost (measured, not assumed: graft.SkewScale
    * drives a mutated-copy family through both paths and requires
    * CLUSTER equality while candidate work drops from Θ(f²) to Θ(f)).
    * Pair-list consumers (q31-style audits) should use [[minhashPairs]]
    * or cold buckets only.
    */
  def minhashPairsStar(sh: DataFrame, threshold: Double,
      starAbove: Long, numPerm: Int = 128, numBands: Int = 32,
      rowsPerBand: Int = 4): DataFrame = {
    // round 16: the shingle frame also feeds both exact-verify sides —
    // materialize it once (lazy; the eager bands checkpoint just below
    // runs through it at build time)
    val shC = sh.localCheckpoint(false)
    // bands feed the size aggregate and both join sides — materialize once
    val bands = bandKeys(shC, numPerm, numBands, rowsPerBand)
      .localCheckpoint()
    val sizes = bands.groupBy(col("band"), col("bh"))
      .agg(count(lit(1)).as("f"), min(col("id")).as("anchor"))
      .localCheckpoint()
    val coldKeys = sizes.where(col("f") <= starAbove)
      .select(col("band"), col("bh"))
    // join puts the (band, bh) keys first — re-select before renaming
    val cold = bands.join(coldKeys, Seq("band", "bh"))
      .select(col("id"), col("band"), col("bh"))
    val coldPairs = cold.toDF("doc_a", "band", "bh")
      .join(cold.toDF("doc_b", "band", "bh"), Seq("band", "bh"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
    // anchor = bucket min id, so (anchor, member) is already ordered
    val hotPairs = bands
      .join(sizes.where(col("f") > starAbove)
        .select(col("band"), col("bh"), col("anchor")), Seq("band", "bh"))
      .where(col("id") =!= col("anchor"))
      .select(col("anchor").as("doc_a"), col("id").as("doc_b"))
    verifyPairs(coldPairs.union(hotPairs).distinct(), shC, threshold)
  }

  /** Pick (numBands, rowsPerBand) for a banded MinHash signature so that
    * a pair at exactly `threshold` true Jaccard is missed with
    * probability ≤ 1e-6 — i.e. LSH candidate generation is (for any
    * realistic corpus) indistinguishable from the exact inverted-index
    * join, while candidate mass stays ∝ collision probability above the
    * threshold. Fewer bands = fewer spurious candidates, so we take the
    * FEWEST-bands config that still meets the recall bound: per-pair
    * miss prob is (1 − t^r)^b with b·r = numPerm.
    *
    * Throws when no config over `numPerm` permutations meets the bound
    * (threshold ≲ 0.105 at 128 perms) — at that point "near-duplicate"
    * means "shares almost anything" and the caller should raise the
    * threshold or choose the exact method.
    */
  def autoBands(threshold: Double, numPerm: Int = 128): (Int, Int) = {
    val rowChoices = Seq(16, 8, 4, 2, 1).filter(numPerm % _ == 0)
    rowChoices.iterator
      .map(r => (numPerm / r, r))
      .find { case (b, r) =>
        math.pow(1.0 - math.pow(threshold, r), b) <= 1e-6
      }
      .getOrElse(throw new IllegalArgumentException(
        s"no ($numPerm-permutation) LSH banding reaches 1e-6 recall at " +
          s"threshold $threshold; raise the threshold (>= ~0.11 at 128 " +
          "perms) or use the exact method / explicit BANDS-ROWS"))
  }

  /** Exact-Jaccard verification of candidate pairs: joins the shingle
    * arrays onto (doc_a, doc_b) candidates and keeps true-jaccard ≥
    * threshold. The candidate frame is collision-bounded (sub-quadratic)
    * so the per-pair array_intersect is cheap. `sh` columns: (id, shs).
    */
  def verifyPairs(cand: DataFrame, sh: DataFrame,
      threshold: Double): DataFrame =
    verifyPairsAcross(cand, sh, sh, threshold)

  /** round-6 Jaccard of two distinct-shingle arrays — the ONE place the
    * intersection/union/rounding algebra lives, so every verification
    * path (batch self-join, batch-vs-corpus, the streaming gate) computes
    * the same value. Spark's subexpression elimination dedups the
    * repeated intersection size at codegen.
    */
  def jaccardCol(shA: org.apache.spark.sql.Column,
      shB: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val common = size(array_intersect(shA, shB))
    round(common.cast("double") / (size(shA) + size(shB) - common), 6)
  }

  /** [[verifyPairs]] generalized over two shingle frames — shared by the
    * self-join and batch-vs-corpus
    * ([[crossMatchesExact]]/[[minhashCrossMatches]]) paths so they can
    * never diverge on the [[jaccardCol]] algebra. `cand` columns
    * (doc_a, doc_b) resolve against `shA`/`shB` respectively.
    */
  def verifyPairsAcross(cand: DataFrame, shA: DataFrame, shB: DataFrame,
      threshold: Double): DataFrame = {
    val a = shA.toDF("doc_a", "sh_a")
    val b = shB.toDF("doc_b", "sh_b")
    cand.join(a, "doc_a").join(b, "doc_b")
      .withColumn("jaccard", jaccardCol(col("sh_a"), col("sh_b")))
      .where(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Delete-1 variant fan-out — SymSpell's index adapted to a join key
    * (reference shape: q98 / the NEARDEDUP METHOD TYPO verb; ONE
    * definition for every edit-distance consumer). Emits one row per
    * variant of each input string: the identity (i = length deletes
    * nothing) plus every single-character deletion, keyed by
    * `vh` = xxhash64(variant) — 8-byte join rows regardless of string
    * length. Completeness: two strings within edit distance 1 always
    * share a member of {s} ∪ deletes1(s) (deletion ⇒ q ∈ D1(c);
    * substitution ⇒ same-position deletes collide; equality trivial),
    * so an equi-join on `vh` covers every true pair and levenshtein
    * runs only on candidates (hash collisions can only add candidates,
    * never drop them — the exact verify removes them). All other input
    * columns pass through; `vh` and `__i` are RESERVED working names —
    * an input already carrying either is rejected (withColumn would
    * silently replace it) rather than corrupted.
    *
    * Keep the carried columns narrow: the fan-out multiplies every
    * passthrough byte by len+1 (the TYPO verb carries only (hash, vh)
    * through its candidate join and rejoins the strings afterwards).
    */
  def delete1Variants(df: DataFrame, strCol: String): DataFrame = {
    for (n <- Seq("vh", "__i"))
      require(!df.columns.exists(_.equalsIgnoreCase(n)),
        s"delete1Variants: input column $n collides with a reserved " +
          "working column; rename it first")
    df
      .withColumn("__i",
        explode(sequence(lit(0), length(col(strCol)).cast("int"))))
      .withColumn("vh", xxhash64(concat(
        expr(s"substr($strCol, 1, __i)"), expr(s"substr($strCol, __i + 2)"))))
      .drop("__i")
  }

  /** Batch-vs-corpus near-dup matches via the exact inverted index:
    * distinct batch ids whose text reaches Jaccard ≥ threshold against
    * ≥ 1 corpus doc. `shB`/`shC`: (id, shs) per [[shingled]]. The join
    * is asymmetric (batch postings ⋈ corpus postings on shingle hash) —
    * no self-pairs, no ordering filter; candidate work ∝
    * Σ_h f_B(h)·f_C(h), i.e. probe-side collision mass (the q85
    * incremental shape), and verification rides the shared
    * [[verifyPairsAcross]] — NOTHING corpus-sized is ever broadcast.
    */
  def crossMatchesExact(shB: DataFrame, shC: DataFrame,
      threshold: Double): DataFrame = {
    // round 16: each side feeds its postings chain AND the exact-verify
    // join — materialize both once (EAGER: the candidate join's map
    // stages and the verify-side stages are siblings in one query and
    // would otherwise race to recompute the shared tokenize+shingle
    // chains; guide §2.4)
    val b = shB.localCheckpoint()
    val c = shC.localCheckpoint()
    val pb = b.select(col("id").as("doc_a"),
      explode(Text.hashedShingles(col("shs"))).as("h"))
    val pc = c.select(col("id").as("doc_b"),
      explode(Text.hashedShingles(col("shs"))).as("h"))
    val cand = pb.join(pc, "h").select("doc_a", "doc_b").distinct()
    verifyPairsAcross(cand, b, c, threshold)
      .select(col("doc_a").as("b_id")).distinct()
  }

  /** Batch-vs-corpus near-dup matches via banded MinHash: candidates
    * are batch×corpus band-key collisions (never batch×corpus all-pairs;
    * at 100 TB the corpus band index is written once and every batch
    * pays only its own collision mass — the q85 deployment shape), then
    * exact-verified via the shared [[verifyPairsAcross]]. Returns
    * distinct batch ids with ≥ 1 corpus match at the threshold.
    */
  def minhashCrossMatches(shB: DataFrame, shC: DataFrame,
      threshold: Double, numPerm: Int = 128, numBands: Int = 32,
      rowsPerBand: Int = 4): DataFrame = {
    // round 16: each side feeds its band-key chain AND the exact-verify
    // join — materialize both once (EAGER: the candidate join's map
    // stages and the verify-side stages are siblings in one query and
    // would otherwise race to recompute the shared tokenize+shingle
    // chains; guide §2.4 — the before-plan shows each side scanned 2x)
    val b = shB.localCheckpoint()
    val c = shC.localCheckpoint()
    val bb = bandKeys(b, numPerm, numBands, rowsPerBand)
      .toDF("doc_a", "band", "bh")
    val bc = bandKeys(c, numPerm, numBands, rowsPerBand)
      .toDF("doc_b", "band", "bh")
    val cand = bb.join(bc, Seq("band", "bh"))
      .select("doc_a", "doc_b").distinct()
    verifyPairsAcross(cand, b, c, threshold)
      .select(col("doc_a").as("b_id")).distinct()
  }

  /** Default partition-cell count for [[bandStoreFrom]]'s artifact
    * layout. Sized like IVF cells: grow ∝ corpus so a fixed probe
    * batch's scanned fraction shrinks as the corpus grows
    * (graft.BandScale measures the resulting flat per-batch cost).
    */
  final val BandStoreCells = 1024

  /** The once-per-corpus banded text index persisted to disk — the
    * write-once artifact the 100 TB AGAINST story names
    * ([[minhashCrossMatches]]'s scaladoc): corpus shingling, MinHash
    * signatures, and band keys are computed ONE time here, and every
    * later probe batch ([[minhashCrossMatchesStored]], batch or
    * streaming) answers from the files without touching corpus text.
    * Layout under the returned base dir:
    *  - `bands/` — (band, bh, id) partitioned by
    *    pc = pmod(xxhash64(band, bh), cells): a band key's cell is a
    *    pure function of the key, so a probe batch's candidate scan
    *    reads ONLY its own keys' cell directories (static routing, the
    *    q136 pattern — the scanned fraction is probe-cells/cells);
    *  - `shingles/` — (id, shs) partitioned by
    *    sc = pmod(xxhash64(id), cells): exact verification fetches only
    *    the candidate docs' cells, so the full-shingle store is stored
    *    once (no ×numBands payload duplication) yet never scanned whole;
    *  - `meta/` — one row (cells, num_perm, num_bands, rows_per_band):
    *    probing with a DIFFERENT banding than the index was built with
    *    would silently miss every true pair, so the probe validates
    *    against this and errors instead.
    * Each partitioned write repartitions on its cell column first —
    * without it every task opens a file in every cell directory
    * (tasks × cells small files, the ivfStoreFrom lesson); with it file
    * count ∝ cells. `shC` columns: (id, shs) per [[shingled]].
    */
  def bandStoreFrom(shC: DataFrame, numPerm: Int = 128, numBands: Int = 32,
      rowsPerBand: Int = 4, cells: Int = BandStoreCells,
      hashShingles: Boolean = true): String = {
    val idxDir = java.nio.file.Files.createTempDirectory("graft_bands_")
    graft.queries.Advanced.registerTmpDir(idxDir)
    bandStoreTo(idxDir.toString, shC, numPerm, numBands, rowsPerBand, cells,
      hashShingles)
    idxDir.toString
  }

  /** [[bandStoreFrom]]'s write step against an EXPLICIT base path — the
    * durable form the INDEX language verb drives (a user-chosen
    * directory that outlives the JVM, so "write once, probe forever"
    * holds across jobs, not just across probes within one session).
    *
    * `hashShingles` (default true) stores the verification sets as
    * xxhash64'd shingles (array<long>, 8 bytes each) instead of the raw
    * ~20-char strings — the q31 postings key applied to the artifact:
    * the exact verify only needs intersection/size algebra, which is
    * hash-invariant modulo cross-doc collisions (P ≈ n²/2⁶⁵, the same
    * documented budget as the postings join). ON DISK the two schemes
    * are nearly equal — parquet dictionary+snappy already compresses
    * the repetitive shingle strings to within 2–9 % of the hash columns
    * (measured in graft.BandScale's artifact-bytes column; SCALING.md
    * records the overturned expectation). The hashed form is the
    * default for the cost encoding can NOT remove: the exact verify
    * DECODES the sets into rows, and 8-byte longs are ≈3× narrower
    * in-memory than ~20-char strings — every byte of that width rides
    * the candidate join and any broadcast of it.
    * The scheme is recorded in `meta/` and the probe adapts its batch
    * side to match, so mixed-scheme probing is impossible.
    */
  def bandStoreTo(base: String, shC: DataFrame, numPerm: Int, numBands: Int,
      rowsPerBand: Int, cells: Int, hashShingles: Boolean = true,
      derived: Seq[String] = Nil): Unit = {
    require(cells >= 1, s"bandStoreTo: cells $cells must be >= 1")
    CellStore.write(base,
      CellStore.lsh(cells, bandKeys(_, numPerm, numBands, rowsPerBand),
        hashShingles),
      shC.localCheckpoint(), cells)
    // `derived` records which geometry fields came from IndexGeometry's
    // corpus-size derivation rather than a user pin ("" = all pinned) —
    // probes read it to enforce the derivation's threshold contract,
    // and INDEX DESCRIBE surfaces it to operators
    MetaParquet.write(shC.sparkSession, s"$base/meta", MetaParquet.record(
      "kind" -> "lsh_text", "cells" -> cells, "num_perm" -> numPerm,
      "num_bands" -> numBands, "rows_per_band" -> rowsPerBand,
      "shingle_scheme" -> (if (hashShingles) "xxhash64" else "raw"),
      "derived" -> derived.mkString(",")))
  }

  /** Append new docs to an existing [[bandStoreTo]] artifact — the
    * index-MAINTENANCE step of the deployment story (a growing corpus
    * must not rebuild its whole index to ingest a day's documents).
    * Geometry (banding, cells, shingle scheme) comes from the
    * artifact's `meta/`, never from the caller, so an append can never
    * silently mix bandings. Because a doc's band signature and shingle
    * set are pure functions of its own text, build-then-append is
    * EXACTLY equivalent to one full build of the union (modulo file
    * layout) — the property the q156 gate pins bit-for-bit against the
    * full-build oracle. Re-appending an id that is already stored
    * duplicates its postings: harmless for correctness (candidates are
    * distinct-ed and the verify is per-pair) but wasted bytes — callers
    * collapse to distinct texts first, as the INDEX verb does.
    *
    * This is the path a streaming ingest job calls per microbatch; it
    * commits through [[CellStore.append]] (single-writer lock, crashed
    * cells restored first, layout record maintained). Returns the
    * store → touched-cells routing.
    */
  def bandStoreAppend(base: String, shC: DataFrame)
      : Map[String, Seq[Int]] =
    CellStore.append(base, "lsh_text", shC)

  /** Remove docs from an existing [[bandStoreTo]] artifact — the
    * third index-MAINTENANCE form (build / APPEND / DELETE), and the
    * one a 100 TB deployment cannot live without: contaminated,
    * opted-out or re-ingested documents must leave the corpus index
    * without re-shingling the exabyte already there. Because a doc's
    * band keys and shingle-store cell are PURE FUNCTIONS of its own
    * text (same banding, from `meta/`), the delete batch routes to
    * exactly the cell directories that hold its rows, so only those
    * cells are rewritten ([[CellStore.delete]]) and the cost is
    * governed by the batch's own band keys, never by index size.
    *
    * Semantics are CONTENT-KEYED, matching the store: entries are one
    * per distinct text (keyed th = xxhash64(text)), so deleting a text
    * removes its membership no matter how many source rows carried it —
    * including rows appended twice (duplicated postings share the id
    * and vanish together). The q159 gate pins this against an oracle
    * that states the same semantics in SQL (corpus minus shared texts),
    * with the delete batch fully appended first, so both false
    * retention (a surviving posting would match everything back) and
    * over-deletion (a lost neighbor) fail hash-exactly.
    * `shC` columns: (id, shs) per [[shingled]] — the same frame shape
    * the build and append take, because routing NEEDS the content.
    */
  def bandStoreDelete(base: String, shC: DataFrame)
      : Map[String, Seq[Int]] =
    CellStore.delete(base, "lsh_text", shC, "id")

  /** [[minhashCrossMatches]] against a [[bandStoreFrom]] artifact: the
    * per-batch probe job that touches ONLY the stored files plus the
    * batch, through the stored-probe reader ([[CellStore.snapshot]]):
    * the batch's band keys route to the band cells, candidates are the
    * stored bands that share a (band, bh) key with the broadcast batch
    * (the corpus side never shuffles — a corpus-sized "batch" belongs in
    * the in-plan [[minhashCrossMatches]]), and their ids route to the
    * shingle cells for the shared [[verifyPairsAcross]] algebra.
    * Returns distinct batch ids with ≥ 1 corpus match at `threshold`.
    * The banding arguments must equal the stored index's (validated
    * against `meta/` — a mismatch would silently miss every true pair).
    */
  def minhashCrossMatchesStored(s: org.apache.spark.sql.SparkSession,
      base: String, shB: DataFrame, threshold: Double,
      numPerm: Int = 128, numBands: Int = 32,
      rowsPerBand: Int = 4): DataFrame =
    storedVerifiedPairs(s, base, shB, threshold, numPerm, numBands,
      rowsPerBand, "NEARDEDUP … AGAINST STORED")
      .select(col("doc_a").as("b_id")).distinct()

  /** Top-k most-similar stored docs per query doc, served from a
    * [[bandStoreTo]] artifact — the RETRIEVAL statement of the dedup
    * pipeline's investigation step ("show me the 10 docs most similar
    * to this one"), where AGAINST only answers membership. Candidates
    * route exactly like the AGAINST probe (band collisions — SHARED
    * code, [[storedVerifiedPairs]], so the two serving paths can never
    * diverge), the rerank is exact Jaccard over the shingle store, and
    * the answer is the top `k` at `threshold` GRADE: banding only
    * surfaces pairs the artifact's threshold contract promises, so the
    * statement returns "the k most similar docs with jaccard ≥ t" —
    * possibly fewer than k rows, never a silently-unranked distant doc
    * (the same candidates-only-missed honesty as the cosine serve,
    * with the threshold floor making the answer set exact).
    * Self-exclusion is by ID EQUALITY — the KNN verb keys BOTH sides
    * by xxhash64(text) (the store's own exact-first collapse), so for
    * the language layer this IS content exclusion: a query's own
    * indexed text is never its neighbor, while an exact-dup text
    * under a different id legitimately surfaces at jaccard 1.0 — the
    * investigation's whole point (the cosine serve's semantics,
    * q164). Scala-API stores keyed by user ids get plain key
    * exclusion. Rank is (jaccard DESC, neighbor_id ASC) per qid — a
    * deterministic total order, so (qid, jaccard, rank) is
    * engine-portable even at ties.
    * Returns (qid, neighbor_id, jaccard, rank). `shB`: (id, shs) per
    * [[shingled]].
    */
  def jaccardKnnStored(s: org.apache.spark.sql.SparkSession,
      base: String, shB: DataFrame, threshold: Double, k: Int,
      numPerm: Int = 128, numBands: Int = 32,
      rowsPerBand: Int = 4): DataFrame =
    topKByJaccard(
      storedVerifiedPairs(s, base, shB, threshold, numPerm,
        numBands, rowsPerBand, "KNN … METHOD JACCARD STORED")
        .where(col("doc_a") =!= col("doc_b")), k)

  /** [[jaccardKnnStored]]'s retrieval semantics computed IN-PLAN — the
    * KNN verb's `METHOD JACCARD` form without STORED (round 14, the
    * text-retrieval symmetry with cosine KNN's EXACT/LSH/IVF in-plan
    * forms): candidates are band collisions between the two frames'
    * own MinHash band keys ([[minhashCrossMatches]]'s no-all-pairs
    * machinery — the banded join is the only corpus-sized contact),
    * the rerank is exact Jaccard over the in-plan shingle frames
    * ([[verifyPairsAcross]]), and the answer is the top `k` at
    * `threshold` GRADE with self-pairs (same id — content hash at the
    * verb layer, so content self-exclusion) removed. Because banding,
    * verification and the rank window are the STORED path's own
    * bodies, `INDEX … METHOD LSH THRESHOLD t INTO d` + `KNN … STORED
    * d` answers IDENTICALLY to this form over the same corpus (the
    * AqlSpec symmetry pin). Returns (qid, neighbor_id, jaccard, rank);
    * `shB` (queries) and `shC` (corpus): (id, shs) per [[shingled]].
    */
  def jaccardKnnAcross(shB: DataFrame, shC: DataFrame,
      threshold: Double, k: Int, numPerm: Int, numBands: Int,
      rowsPerBand: Int): DataFrame = {
    // round 16: same shape as [[minhashCrossMatches]] — each side feeds
    // banding AND the exact-Jaccard rerank; materialize both once
    // (EAGER, so sibling stages read cached blocks instead of racing to
    // re-run the corpus tokenize+shingle chain; guide §2.4)
    val b = shB.localCheckpoint()
    val c = shC.localCheckpoint()
    val bb = bandKeys(b, numPerm, numBands, rowsPerBand)
      .toDF("doc_a", "band", "bh")
    val bc = bandKeys(c, numPerm, numBands, rowsPerBand)
      .toDF("doc_b", "band", "bh")
    val cand = bb.join(bc, Seq("band", "bh"))
      .select(col("doc_a"), col("doc_b")).distinct()
    topKByJaccard(
      verifyPairsAcross(cand, b, c, threshold)
        .where(col("doc_a") =!= col("doc_b")), k)
  }

  /** The shared rank step of [[jaccardKnnStored]] /
    * [[jaccardKnnAcross]]: per-query top-k over verified (doc_a,
    * doc_b, jaccard) pairs by (jaccard DESC, neighbor ASC) — a
    * deterministic total order, so (qid, jaccard, rank) is
    * engine-portable even at ties; the window partitions by qid
    * (bounded per-key state, WindowGroupLimit pushdown — the PlanSpec
    * pin).
    */
  private def topKByJaccard(pairs: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_a"))
      .orderBy(col("jaccard").desc, col("doc_b").asc)
    pairs.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("doc_a").as("qid"), col("doc_b").as("neighbor_id"),
        col("jaccard"), col("rank"))
  }

  /** The shared probe body of [[minhashCrossMatchesStored]] and
    * [[jaccardKnnStored]]: both stages of the stored-probe reader
    * ([[CellStore.snapshot]]) — the batch's band keys route to the band
    * cells, the candidates' ids to the shingle cells — then exact
    * Jaccard against the batch's sets in the artifact's shingle scheme.
    * Returns verified (doc_a, doc_b, jaccard) pairs at ≥ `threshold`
    * (doc_a = batch id, doc_b = stored id).
    */
  private def storedVerifiedPairs(s: org.apache.spark.sql.SparkSession,
      base: String, shB: DataFrame, threshold: Double,
      numPerm: Int, numBands: Int, rowsPerBand: Int,
      what: String): DataFrame = {
    val snap = CellStore.snapshot(s, base, "lsh_text", what)
    val meta = snap.meta
    for ((want, got, what) <- Seq(
        (numPerm, meta.getAs[Int]("num_perm"), "numPerm"),
        (numBands, meta.getAs[Int]("num_bands"), "numBands"),
        (rowsPerBand, meta.getAs[Int]("rows_per_band"), "rowsPerBand")))
      require(want == got,
        s"stored band index at $base was built with $what=$got but the " +
          s"probe asked for $want — probing with mismatched banding " +
          "would silently miss every true pair")
    // checkpoint the batch's shingle frame ONCE: it feeds the band-key
    // chain AND the exact-verify join at the end — without this the
    // verify side re-runs the batch's tokenize+shingle pipeline from the
    // source scan (round-15 measurement: ~0.3 s per probe at panel
    // scale, paid by every AGAINST STORED / KNN STORED statement)
    snap.candidates(shB.localCheckpoint(false)).fold(
      shB.select(col("id").as("doc_a"), col("id").as("doc_b"),
        lit(0.0).as("jaccard")).limit(0)) { c =>
      verifyPairsAcross(c.pairs.toDF("doc_a", "doc_b"), c.batch,
        c.stored.select(col("id"), col("shs")), threshold)
    }
  }

  /** Validate a stored artifact's `kind` against what the probe expects —
    * probing (say) an IVF vector index with the banded-text path would
    * otherwise fail with an opaque missing-column error or, worse, a
    * silent empty match set. Artifacts written before the kind column
    * existed are accepted (nothing to check against).
    */
  private[graft] def requireKind(meta: org.apache.spark.sql.Row,
      base: String, want: String, who: String): Unit =
    if (meta.schema.fieldNames.contains("kind")) {
      val got = meta.getAs[String]("kind")
      require(got == want,
        s"$who expects a '$want' artifact but $base holds kind '$got' — " +
          "the stored index families are not interchangeable")
    }

  /** The once-per-corpus delete-1 variant index persisted to disk — the
    * "write-once corpus delete index" SURVEY names for q98/METHOD TYPO,
    * completing the stored-artifact family (band store for LSH text,
    * cosine store for vectors, THIS for edit-distance strings). Layout
    * under `base` mirrors [[bandStoreTo]]:
    *  - `variants/` — (id, vh) rows from [[delete1Variants]] partitioned
    *    by pc = pmod(vh, cells): a variant's cell is a pure function of
    *    its hash, so a probe batch reads ONLY its own variants' cells;
    *  - `strings/` — (id, txt) partitioned by sc = pmod(xxhash64(id),
    *    cells): the exact levenshtein verify fetches only candidate
    *    docs' cells, and the string is stored ONCE, not ×(len+1) on the
    *    variant rows (the slim-join contract applied to the artifact);
    *  - `meta/` — (kind = "typo_text", cells).
    * `reps` columns: (id, txt), one row per distinct string (callers
    * collapse exact duplicates first — membership is all a probe asks).
    */
  def typoStoreTo(base: String, reps: DataFrame,
      cells: Int = BandStoreCells, derived: Seq[String] = Nil): Unit = {
    require(cells >= 1, s"typoStoreTo: cells $cells must be >= 1")
    CellStore.write(base, CellStore.typo(cells),
      reps.select(col("id"), col("txt")).localCheckpoint(), cells)
    MetaParquet.write(reps.sparkSession, s"$base/meta", MetaParquet.record(
      "kind" -> "typo_text", "cells" -> cells,
      "derived" -> derived.mkString(",")))
  }

  /** Append new strings to an existing [[typoStoreTo]] artifact —
    * [[bandStoreAppend]]'s contract for the delete-1 family: cells from
    * `meta/` (never the caller), meta untouched, and because a string's
    * variant set is a pure function of the string itself,
    * build-then-append ≡ one full build of the union.
    */
  def typoStoreAppend(base: String, reps: DataFrame)
      : Map[String, Seq[Int]] =
    CellStore.append(base, "typo_text", reps)

  /** Remove strings from an existing [[typoStoreTo]] artifact —
    * [[bandStoreDelete]]'s contract for the delete-1 family: a
    * string's variant hashes and string-store cell are pure functions
    * of the string itself, so the delete batch routes to exactly the
    * cells holding its rows and only those are rewritten. Content-keyed
    * like the store (id = xxhash64(string)): deleting a string removes
    * its membership no matter how many rows or appends carried it.
    * `reps` columns: (id, txt), the build/append frame shape.
    */
  def typoStoreDelete(base: String, reps: DataFrame)
      : Map[String, Seq[Int]] =
    CellStore.delete(base, "typo_text", reps, "id")

  /** Batch-vs-corpus edit-distance-≤1 matches against a [[typoStoreTo]]
    * artifact: distinct batch ids whose string is within edit distance 1
    * of ≥ 1 stored string, through the stored-probe reader
    * ([[CellStore.snapshot]]): the batch's delete-1 variant hashes (the
    * only fan-out work per batch) route to the variant cells, candidates
    * share a `vh` with the broadcast batch, and their ids route to the
    * `strings/` cells for the banded 3-arg levenshtein over candidate
    * pairs only. `bReps` columns: (id, txt), one row per distinct batch
    * string.
    */
  def typoCrossMatchesStored(s: org.apache.spark.sql.SparkSession,
      base: String, bReps: DataFrame): DataFrame = {
    val snap = CellStore.snapshot(s, base, "typo_text",
      "NEARDEDUP METHOD TYPO AGAINST STORED")
    val br = bReps.select(col("id"), col("txt")).localCheckpoint(false)
    snap.candidates(br).fold(br.select(col("id").as("b_id")).limit(0)) { c =>
      c.pairs
        .join(br.select(col("id").as("b_id"), col("txt").as("tb")), "b_id")
        .join(c.stored.select(col("id").as("c_id"), col("txt").as("tc")),
          "c_id")
        .where(levenshtein(col("tb"), col("tc"), 1) >= 0)
        .select(col("b_id")).distinct()
    }
  }

  /** Min-label connected components over an undirected pair graph:
    * (doc_a, doc_b) edges → (id, cluster_id = min reachable id), one row
    * per id that appears in ≥ 1 pair. Ids must be integral (the
    * convergence check sums labels — see below).
    *
    * Scale shape (the q47 plan): iterative label propagation with a
    * localCheckpoint per round, so every round re-optimizes a constant-
    * depth plan instead of one that grows by a join+agg layer per
    * iteration. Labels seed at min(self, direct neighbours) — one
    * propagation round for free — and only ever decrease, so sum(label)
    * is strictly monotone and "no change" = "sum unchanged" (a 1-row agg
    * on the already-materialized result, not a collect). Round count is
    * the graph diameter, ≤ log n for near-dup clusters in practice.
    */
  def clusters(pairDf: DataFrame): DataFrame = {
    val p = pairDf.toDF("doc_a", "doc_b")
    val edges = p
      .union(p.select(col("doc_b"), col("doc_a")))
      .toDF("src", "dst")
      .localCheckpoint(true)
    var labels = edges
      .groupBy(col("src"))
      .agg(min(col("dst")).as("m"))
      .select(col("src").as("id"), least(col("m"), col("src")).as("label"))
      .localCheckpoint(true)
    def labelSum(df: DataFrame): Long =
      Option(df.agg(sum(col("label"))).head().get(0))
        .fold(0L)(_.asInstanceOf[Long])
    var prev = labelSum(labels)
    var rounds = 0
    var converged = false
    // round cap is a runaway backstop, not a silent truncation: diameter
    // > maxRounds would return fragmented clusters (duplicates surviving
    // dedup with no signal), so non-convergence FAILS below. Raise via
    // -Dgraft.neardedup.maxRounds for pathological chain-shaped graphs.
    val maxRounds =
      sys.props.get("graft.neardedup.maxRounds").map(_.toInt).getOrElse(50)
    while (!converged && rounds < maxRounds) {
      // min over own label and in-neighbours' labels, in one aggregation
      val next = edges.join(labels, edges("src") === labels("id"))
        .select(col("dst").as("id"), col("label"))
        .union(labels)
        .groupBy("id").agg(min(col("label")).as("label"))
        .localCheckpoint(true)
      val cur = labelSum(next)
      converged = cur == prev
      prev = cur
      labels = next
      rounds += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge in $maxRounds rounds " +
          "(pair-graph diameter exceeds the cap); raise " +
          "-Dgraft.neardedup.maxRounds")
    labels.select(col("id"), col("label").as("cluster_id"))
  }
}
