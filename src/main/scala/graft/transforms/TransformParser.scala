package graft.transforms

import graft.functions.Zoh
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Built-in TRANSFORM verbs — AGGREGATE, LOOKUP, APPLY — parsed from the
  * block body and compiled to DataFrame operations.
  *
  * Reference grammars: transforms/aggregate.go:33-54, lookup.go:22-40,
  * apply.go:22-40 (participle PEGs). Execution here is Catalyst — hash
  * aggregate with automatic partial aggregation, broadcast hash join —
  * instead of the reference's single-threaded streaming reducers, but the
  * *semantics* (null handling, join multiplicity, cast rules) match.
  */
object TransformParser {

  final case class TransformError(msg: String)
      extends RuntimeException(msg)

  // the Verb interface and the shared verb-grammar helpers live in
  // VerbSupport.scala (round-14 move — see the scaladoc there)
  import VerbSupport._

  def parse(content: String): Verb = {
    val t = content.trim
    val head = t.takeWhile(!_.isWhitespace).toUpperCase
    head match {
      case "AGGREGATE" => AggregateParser.parse(t)
      case "LOOKUP" => LookupParser.parse(t)
      case "APPLY" => ApplyParser.parse(t)
      case "DEDUP" => DedupParser.parse(t)
      case "FILTER" => FilterVerb(t.substring("FILTER".length).trim)
      case "SAMPLE" => SampleParser.parse(t)
      case "QUOTA" => QuotaParser.parse(t)
      case "MERGE" => MergeParser.parse(t)
      case "NEARDEDUP" => NearDedupParser.parse(t)
      case "KNN" => KnnParser.parse(t)
      case "SHARD" => ShardParser.parse(t)
      case "PACK" => PackParser.parse(t)
      case "CHUNK" => ChunkParser.parse(t)
      case "SPLIT" => SplitParser.parse(t)
      case "MIX" => MixParser.parse(t)
      case "INDEX" => IndexMaintenance.IndexParser.parse(t)
      case other => throw TransformError(
        s"unknown transform verb '$other' " +
          "(expected AGGREGATE|LOOKUP|APPLY|DEDUP|FILTER|SAMPLE|QUOTA|" +
          "MERGE|NEARDEDUP|KNN|SHARD|PACK|CHUNK|SPLIT|MIX|INDEX)")
    }
  }

  // ------------------------------------------------------------- AGGREGATE

  /** AGGREGATE term[, term…] FROM src [GROUP BY c1[, c2…]]
    *
    * term := column | FUNC(arg[, arg…]) AS alias
    * Aggregates all return nullable double (reference aggregate.go:85-91);
    * function terms require an alias (aggregate.go:342-344); every plain
    * column must appear in GROUP BY (aggregate.go:367-371).
    */
  private object AggregateParser {
    private val FuncRe = raw"(?is)^([A-Za-z_]\w*)\s*\((.*)\)$$".r

    def parse(t: String): Verb = {
      val body = t.substring("AGGREGATE".length)
      val (beforeGroup, groupPart) = splitKeyword(body, "GROUP\\s+BY")
      val (termsPart, _) = splitKeyword(beforeGroup, "FROM")
      val groupCols = groupPart.map(splitTop(_).map(_.trim)).getOrElse(Nil)
      val terms = splitTop(termsPart)
      if (terms.isEmpty) throw TransformError("AGGREGATE needs ≥1 term")
      AggregateVerb(terms.map(parseTerm), groupCols)
    }

    private def parseTerm(term: String): AggTerm = {
      val (e, alias) = splitAlias(term)
      e match {
        case FuncRe(f, args) =>
          val al = alias.getOrElse(throw TransformError(
            s"must choose alias for aggregate term $e " +
              "(reference aggregate.go:342-344)"))
          AggTerm(Some(f.toUpperCase), splitTop(args).map(_.trim), al)
        case col =>
          AggTerm(None, Seq(col), alias.getOrElse(col))
      }
    }
  }

  final case class AggTerm(func: Option[String], args: Seq[String],
      alias: String)

  final case class AggregateVerb(terms: Seq[AggTerm], groupBy: Seq[String])
      extends Verb {

    /** Numeric view of a column matching reference semantics: numbers pass
      * through; strings holding RFC3339 times compare as epoch seconds
      * (reference transforms/min.go:44-49, common.go:13-31). Must use the
      * try_* variants: Spark 4 runs ANSI mode by default, where a plain
      * cast/to_timestamp *throws* on unparseable input instead of
      * returning NULL — which would abort the job on the first time-string.
      */
    private def numArg(df: DataFrame, a: String): Column = {
      val c = resolve(df, a)
      if (c == null) lit(a.toDouble) // numeric literal argument
      else df.schema.find(_.name.equalsIgnoreCase(a)).map(_.dataType) match {
        case Some(StringType) =>
          coalesce(c.try_cast("double"),
            unix_timestamp(try_to_timestamp(c)).cast("double"))
        case Some(TimestampType) => unix_timestamp(c).cast("double")
        case _ => c.cast("double")
      }
    }

    private def resolve(df: DataFrame, name: String): Column =
      if (df.schema.exists(_.name.equalsIgnoreCase(name))) df(name) else null

    private def literal(a: String): Double =
      try a.toDouble
      catch { case _: NumberFormatException =>
        throw TransformError(s"expected numeric literal, got '$a'") }

    def build(sources: Map[String, DataFrame], primary: DataFrame): DataFrame = {
      val df = primary
      val groupSet = groupBy.map(_.toUpperCase).toSet
      terms.foreach {
        case AggTerm(None, Seq(c), _) if !groupSet(c.toUpperCase) =>
          throw TransformError(
            s"column $c not found in GROUP BY (reference aggregate.go:367-371)")
        case _ => ()
      }
      val aggExprs = terms.flatMap { t =>
        t.func.map { f =>
          val e: Column = f match {
            case "SUM" => sum(numArg(df, t.args.head))
            case "AVG" => avg(numArg(df, t.args.head))
            case "MIN" => min(numArg(df, t.args.head))
            case "MAX" => max(numArg(df, t.args.head))
            case "COUNT" =>
              // intended semantics; the reference's always-null Return()
              // is a bug we do not replicate (count.go:22-31, SURVEY §7.3)
              count(t.args.headOption.map(a =>
                Option(resolve(df, a)).getOrElse(lit(a))).getOrElse(lit(1)))
                .cast("double")
            case "QUANTILE" =>
              percentile_approx(numArg(df, t.args.head),
                lit(literal(t.args(1))), lit(10000))
            case "CDF" =>
              val v = literal(t.args(1))
              (sum(when(numArg(df, t.args.head) <= v, 1).otherwise(0))
                .cast("double") / count(numArg(df, t.args.head)))
            case "ZOH" =>
              val Seq(timeC, valC, startS, finishS) = t.args
              val startUs = parseRfc3339Us(stripQuotes(startS))
              val endUs = parseRfc3339Us(stripQuotes(finishS))
              Zoh.zohAgg(
                unix_micros(to_timestamp(resolve(df, timeC))),
                resolve(df, valC).cast("double"), startUs, endUs)
            case other => throw TransformError(s"unknown aggregate $other")
          }
          e.cast("double").as(t.alias)
        }
      }
      val grouped = df.groupBy(groupBy.map(df(_)): _*).agg(aggExprs.head,
        aggExprs.tail: _*)
      // project in declared term order, group cols under their aliases
      val outCols = terms.map { t =>
        if (t.func.isEmpty) grouped(t.args.head).as(t.alias)
        else grouped(t.alias)
      }
      grouped.select(outCols: _*)
    }
  }

  private def parseRfc3339Us(s: String): Long = {
    val inst = java.time.OffsetDateTime.parse(s).toInstant
    inst.getEpochSecond * 1000000L + inst.getNano / 1000L
  }

  // ---------------------------------------------------------------- LOOKUP

  /** LOOKUP Src.Col[, …] FROM Base {INNER|OUTER} JOIN Lkp ON A.x = B.y [AND …]
    *
    * Reference transforms/lookup.go:109-263: hash equi-join, build side
    * fully cached ⇒ Spark `broadcast` is the faithful physical strategy.
    * Duplicate-keyed lookup rows keep only the LAST (map overwrite,
    * lookup.go:182-188) — emulated via a max-rowid window before the join.
    * OUTER = left outer (lookup.go:234-236).
    */
  private object LookupParser {
    def parse(t: String): Verb = {
      val body = t.substring("LOOKUP".length)
      val (colsPart, afterFrom) = splitKeyword(body, "FROM")
      val rest = afterFrom.getOrElse(
        throw TransformError("LOOKUP requires FROM"))
      val joinRe =
        raw"(?is)^(\w+)\s+(INNER|OUTER)\s+JOIN\s+(\w+)\s+ON\s+(.*)$$".r
      rest.trim match {
        case joinRe(base, kind, lkp, cond) =>
          val conds = "(?is)\\bAND\\b".r.split(cond).toSeq.map { c =>
            val Array(l, r) = c.split("=").map(_.trim)
            (parseQual(l), parseQual(r))
          }
          val cols = splitTop(colsPart).map { c =>
            val (e, alias) = splitAlias(c)
            (parseQual(e), alias)
          }
          LookupVerb(cols, base, kind.equalsIgnoreCase("INNER"), lkp, conds)
        case _ => throw TransformError(
          s"cannot parse LOOKUP join clause: $rest")
      }
    }

    private def parseQual(s: String): (String, String) = {
      val parts = s.trim.split("\\.")
      if (parts.length != 2) throw TransformError(
        s"LOOKUP columns must be fully qualified (Src.Col): '$s'")
      (parts(0), parts(1))
    }
  }

  final case class LookupVerb(
      cols: Seq[((String, String), Option[String])],
      base: String, inner: Boolean, lookup: String,
      conds: Seq[((String, String), (String, String))]) extends Verb {

    def build(sources: Map[String, DataFrame], primary: DataFrame): DataFrame = {
      def src(n: String): DataFrame = sources.getOrElse(n.toUpperCase,
        throw TransformError(s"unknown LOOKUP source $n"))
      val baseDf = src(base).alias("__base")
      // last-row-wins dedup of the build side on the join keys
      val lkpKeys = conds.map { case ((s1, c1), (s2, c2)) =>
        if (s1.equalsIgnoreCase(lookup)) c1 else c2
      }
      val rawLkp = src(lookup).withColumn("__rowid",
        monotonically_increasing_id())
      val w = Window.partitionBy(lkpKeys.map(rawLkp(_)): _*)
        .orderBy(col("__rowid").desc)
      val lkpDf = rawLkp
        .withColumn("__rn", row_number().over(w))
        .where(col("__rn") === 1)
        .drop("__rowid", "__rn")
        .alias("__lkp")

      def side(s: String, c: String): Column =
        if (s.equalsIgnoreCase(base)) col(s"__base.$c") else col(s"__lkp.$c")

      val cond = conds.map { case ((s1, c1), (s2, c2)) =>
        side(s1, c1) === side(s2, c2)
      }.reduce(_ && _)
      val joined = baseDf.join(broadcast(lkpDf), cond,
        if (inner) "inner" else "left_outer")
      val out = cols.map { case ((s, c), alias) =>
        side(s, c).as(alias.getOrElse(c))
      }
      joined.select(out: _*)
    }
  }

  // ----------------------------------------------------------------- DEDUP

  /** DEDUP ON c1[, c2…] [KEEP FIRST|LAST BY ordercol] — beyond-parity verb
    * (SURVEY §7.3): exact deduplication as a first-class language operator.
    *
    * Without KEEP: `dropDuplicates(cols)` — one hash-aggregate shuffle on
    * the key, arbitrary survivor per group (the scale-cheap form; at 100 TB
    * this is the default dedup pass over a document corpus).
    * With KEEP FIRST|LAST BY o: deterministic survivor via a row_number
    * window over the key — still one shuffle, state per key is O(1).
    */
  private object DedupParser {
    def parse(t: String): Verb = {
      val body = t.substring("DEDUP".length).trim
      val onRe = raw"(?is)^ON\s+(.*)$$".r
      val rest = body match {
        case onRe(r) => r
        case _ => throw TransformError("DEDUP requires ON col[, col…]")
      }
      val (colsPart, keepPart) = splitKeyword(rest, "KEEP")
      val keep = keepPart.map { kp =>
        val kRe = raw"(?is)^(FIRST|LAST)\s+BY\s+([A-Za-z_]\w*)\s*$$".r
        kp.trim match {
          case kRe(fl, c) => (fl.equalsIgnoreCase("LAST"), c)
          case _ => throw TransformError(
            s"cannot parse KEEP clause '$kp' (expected KEEP FIRST|LAST BY col)")
        }
      }
      val cols = splitTop(colsPart).map(_.trim)
      if (cols.isEmpty) throw TransformError("DEDUP requires ≥1 ON column")
      DedupVerb(cols, keep)
    }
  }

  final case class DedupVerb(cols: Seq[String], keep: Option[(Boolean, String)])
      extends Verb {
    def build(sources: Map[String, DataFrame], primary: DataFrame): DataFrame =
      keep match {
        case None => primary.dropDuplicates(cols)
        case Some((keepLast, o)) =>
          val ord = if (keepLast) primary(o).desc else primary(o).asc
          val w = Window.partitionBy(cols.map(primary(_)): _*).orderBy(ord)
          primary.withColumn("__rn", row_number().over(w))
            .where(col("__rn") === 1)
            .drop("__rn")
      }
  }

  // ---------------------------------------------------------------- FILTER

  /** FILTER <sql-expr> — beyond-parity verb: the reference has no native
    * filter operator (SURVEY §2.4; filtering lives in delegated SQL or
    * plugins), but its assertion conditions are SQL expressions
    * (engine/condition.go:20-37), so FILTER rides the same surface:
    * a Catalyst expression that pushes down to the scan when possible.
    */
  final case class FilterVerb(cond: String) extends Verb {
    def build(sources: Map[String, DataFrame], primary: DataFrame): DataFrame = {
      if (cond.isEmpty) throw TransformError("FILTER requires a predicate")
      primary.filter(expr(cond))
    }
  }

  // ---------------------------------------------------------------- SAMPLE

  /** SAMPLE <pct> PERCENT BY <keycol> — beyond-parity verb: deterministic
    * hash sampling as a language operator (the q69 curation primitive).
    * Membership is a pure function of the key — the md5 bucket of the key
    * value modulo 10 000 compared against the rate in basis points — so a
    * sample is reproducible across runs, engines, partitionings, and data
    * order, and downstream of any shuffle. Map-side only: no sampling
    * state, no RNG, no shuffle; at 100 TB this is a scan predicate.
    */
  private object SampleParser {
    def parse(t: String): Verb = {
      val re = raw"(?is)^SAMPLE\s+([0-9]+(?:\.[0-9]+)?)\s+PERCENT\s+BY\s+([A-Za-z_]\w*)\s*$$".r
      t.trim match {
        case re(p, c) =>
          val pct = p.toDouble
          if (pct > 100)
            throw TransformError(s"SAMPLE rate $pct% out of range 0-100")
          SampleVerb(pct, c)
        case _ => throw TransformError(
          "cannot parse SAMPLE (expected SAMPLE <pct> PERCENT BY <col>)")
      }
    }
  }

  final case class SampleVerb(pct: Double, key: String) extends Verb {
    def build(sources: Map[String, DataFrame], primary: DataFrame): DataFrame = {
      val bps = math.round(pct * 100).toInt // basis points of 10 000
      val bucket = conv(substring(md5(primary(key).cast("string")), 1, 15),
        16, 10).cast("bigint") % 10000
      primary.where(bucket < bps)
    }
  }

  // ----------------------------------------------------------------- QUOTA

  /** QUOTA <n> BY <keycol> ORDER BY <ordercol> — beyond-parity verb: keep
    * at most n rows per key, deterministically (lowest ordercol first,
    * ties broken by a whole-row hash so duplicate order values cannot
    * make the kept set partition-order-dependent) — the per-domain/
    * per-source cap every corpus-curation pipeline applies (q77's
    * operator at the language level).
    *
    * Salted two-phase top-N: phase 1 ranks within (key, salt16) so a hot
    * key's rows spread over 16 reducers, each lane keeping ≤ n; phase 2
    * ranks the ≤ 16·n survivors per key. The lane salt is the whole-row
    * hash (not a hash of ordercol): rows tied on ordercol — the common
    * hot-key case — still spread across all 16 lanes. Output is identical
    * to a single
    * window, but no reducer ever sorts more than ~1/16 of a hot key —
    * row_number's rank-limit additionally prunes map-side
    * (WindowGroupLimit), so each phase ships only its local top-n.
    */
  private object QuotaParser {
    def parse(t: String): Verb = {
      val re = raw"(?is)^QUOTA\s+([0-9]+)\s+BY\s+([A-Za-z_]\w*)\s+ORDER\s+BY\s+([A-Za-z_]\w*)\s*$$".r
      t.trim match {
        case re(n, key, ord) =>
          val cap = n.toInt
          if (cap < 1) throw TransformError(s"QUOTA cap $cap must be >= 1")
          QuotaVerb(cap, key, ord)
        case _ => throw TransformError(
          "cannot parse QUOTA (expected QUOTA <n> BY <col> ORDER BY <col>)")
      }
    }
  }

  final case class QuotaVerb(n: Int, key: String, ord: String) extends Verb {
    def build(sources: Map[String, DataFrame], primary: DataFrame): DataFrame = {
      // Whole-row hash: lane spreading + total-order tiebreak in one.
      // Global top-n under (ord, rowH) implies lane-top-n under the same
      // order, so the two-phase output equals the single window's exactly;
      // rows still tied after rowH are identical and interchangeable.
      val rowH = xxhash64(primary.columns.map(primary(_)).toSeq: _*)
      val salted = Window
        .partitionBy(primary(key), pmod(rowH, lit(16)))
        .orderBy(primary(ord), rowH)
      val perKey = Window.partitionBy(primary(key))
        .orderBy(primary(ord), rowH)
      primary
        .withColumn("__lrn", row_number().over(salted))
        .where(col("__lrn") <= n)
        .withColumn("__rn", row_number().over(perKey))
        .where(col("__rn") <= n)
        .drop("__lrn", "__rn")
    }
  }

  // ----------------------------------------------------------------- MERGE

  /** MERGE <Base> WITH <Changes> ON k1[, k2…] VERSION BY <ver>
    *        [DELETE WHEN <sql-expr>]
    *
    * Beyond-parity verb (SURVEY §7.3): CDC merge-upsert as a language
    * operator — apply a change set onto a base table, per-key
    * latest-version-wins, with optional tombstone elimination. Both
    * sources must share the base's schema (the change set carries the
    * same columns plus its own version values).
    *
    * Scale shape (q86's plan, `queries/Advanced.scala`): union base +
    * changes, then ONE `groupBy(key).agg(max(struct(ver, pri, rest…)))`
    * reduce — partial-aggregatable, so map-side combine collapses most
    * keys before the single key shuffle; NOT a row_number window (no
    * per-key sort state) and NOT an anti-join sandwich (no second
    * shuffle). Ties on version resolve to the CHANGES side (a change
    * re-stating the current version must win), then deterministically by
    * the remaining column values. DELETE WHEN filters the per-key winner:
    * a tombstone that wins its key removes the key from the output.
    */
  private object MergeParser {
    private val Re =
      raw"(?is)^MERGE\s+(\w+)\s+WITH\s+(\w+)\s+ON\s+(.*?)\s+VERSION\s+BY\s+([A-Za-z_]\w*)(?:\s+DELETE\s+WHEN\s+(.+?))?\s*$$".r

    def parse(t: String): Verb = t.trim match {
      case Re(base, changes, keys, ver, del) =>
        val keyCols = splitTop(keys).map(_.trim)
        if (keyCols.isEmpty) throw TransformError("MERGE requires ≥1 ON column")
        MergeVerb(base, changes, keyCols, ver, Option(del).map(_.trim))
      case _ => throw TransformError(
        "cannot parse MERGE (expected MERGE <Base> WITH <Changes> " +
          "ON col[, col…] VERSION BY <col> [DELETE WHEN <expr>])")
    }
  }

  final case class MergeVerb(base: String, changes: String, keys: Seq[String],
      ver: String, deleteWhen: Option[String]) extends Verb {

    def build(sources: Map[String, DataFrame], primary: DataFrame): DataFrame = {
      def src(n: String): DataFrame = sources.getOrElse(n.toUpperCase,
        throw TransformError(s"unknown MERGE source $n"))
      val b = src(base)
      val c = src(changes)
      val cols = b.columns
      val missing = cols.filterNot(n =>
        c.columns.exists(_.equalsIgnoreCase(n)))
      if (missing.nonEmpty) throw TransformError(
        s"MERGE: $changes is missing base columns ${missing.mkString(", ")}")
      def named(n: String): String = cols.find(_.equalsIgnoreCase(n)).getOrElse(
        throw TransformError(s"MERGE: unknown column $n in $base"))
      val keyNames = keys.map(named)
      val verName = named(ver)
      // a string version column would compare lexicographically in the
      // max(struct) reduce ('10' < '9'), silently picking wrong winners —
      // reject non-orderable-by-recency types up front (mirrors
      // NearDedupVerb's integral-key check)
      b.schema.find(_.name.equalsIgnoreCase(verName)).map(_.dataType)
        .foreach {
          case _: NumericType | DateType | TimestampType => ()
          case other => throw TransformError(
            s"MERGE VERSION BY $verName must be numeric/date/timestamp, " +
              s"got ${other.simpleString} (strings order lexicographically)")
        }
      val others = cols.filterNot(n =>
        keyNames.contains(n) || n.equalsIgnoreCase(verName))
      // __pri 0/1 breaks version ties toward the change set
      val tagged = b.withColumn("__pri", lit(0))
        .unionByName(c.select(cols.map(c(_)).toSeq: _*)
          .withColumn("__pri", lit(1)))
      val winner = tagged
        .groupBy(keyNames.map(tagged(_)).toSeq: _*)
        .agg(max(struct(
          (Seq(tagged(verName).as("__v"), col("__pri").as("__p")) ++
            others.map(n => tagged(n).as(n))).toSeq: _*)).as("__m"))
      val out = winner.select(cols.map { n =>
        if (keyNames.contains(n)) col(n)
        else if (n.equalsIgnoreCase(verName)) col("__m.__v").as(verName)
        else col(s"__m.$n")
      }.toSeq: _*)
      deleteWhen match {
        case None => out
        case Some(cond) => out.where(!coalesce(expr(cond), lit(false)))
      }
    }
  }

  // ------------------------------------------------------------- NEARDEDUP

  // NearDedupParser (the NEARDEDUP option grammar) lives in
  // VerbSupport.scala (round-15 move — same rationale as the
  // round-14 Verb/helper move; the verb BODY stays here)

  final case class NearDedupVerb(textCol: String, key: String,
      threshold: Double, method: String = "EXACT",
      bandsRows: Option[(Int, Int)] = None,
      starAbove: Option[Long] = None,
      against: Option[(String, String)] = None,
      tablesBits: Option[(Int, Int)] = None,
      againstStored: Option[(String, String)] = None) extends Verb {

    /** Candidate-pair generation per METHOD — public so PlanSpec can
      * assert the LSH verb joins on band keys instead of the exact
      * postings self-join. `sh` columns: (id, shs) per NearDup.shingled.
      */
    def pairDf(sh: DataFrame): DataFrame = method match {
      case "LSH" =>
        val (b, r) = bandsRows.getOrElse(NearDup.autoBands(threshold))
        starAbove match {
          case Some(n) => NearDup.minhashPairsStar(sh, threshold, n,
            numPerm = b * r, numBands = b, rowsPerBand = r)
          case None => NearDup.minhashPairs(sh, threshold,
            numPerm = b * r, numBands = b, rowsPerBand = r)
        }
      case "EXACT" => NearDup.pairs(sh, threshold)
      case other => throw new IllegalStateException(
        s"pairDf is the shingle-method hook; METHOD $other candidates " +
          "live in VecKnn.cosinePairs / NearDup.delete1Variants")
    }

    /** Cross-corpus matched-batch-ids generation per METHOD — public so
      * PlanSpec can assert the AGAINST plan's join shape. `shB`/`shC`:
      * (id, shs) per NearDup.shingled.
      */
    def crossMatchDf(shB: DataFrame, shC: DataFrame): DataFrame =
      method match {
        case "LSH" =>
          val (b, r) = bandsRows.getOrElse(NearDup.autoBands(threshold))
          NearDup.minhashCrossMatches(shB, shC, threshold,
            numPerm = b * r, numBands = b, rowsPerBand = r)
        case "EXACT" => NearDup.crossMatchesExact(shB, shC, threshold)
        case other => throw new IllegalStateException(
          s"crossMatchDf is the shingle-method hook; METHOD $other " +
            "candidates live in VecKnn / NearDup.delete1Variants")
      }

    /** AGAINST form: drop batch rows near-matching ≥ 1 corpus doc. No
      * clustering, no canonical pick — matched ids left-anti the batch.
      *
      * Semantics note (deliberate divergence from KNN's two-source
      * form): there is NO same-key exclusion. Incremental dedup means
      * "is this text already represented in the corpus?" — a re-ingested
      * doc whose key exists in both sources matches its own corpus copy
      * at J = 1 and drops, which is the point; consequently
      * `NEARDEDUP A AGAINST A` drops every shingle-able row of A. KNN
      * excludes same keys because "your own corpus copy" is a useless
      * nearest NEIGHBOR; here it is exactly the duplicate being asked
      * about.
      *
      * EXACT-FIRST on both sides, like buildSelf: identical batch texts
      * collapse to one representative (verdicts fan back through the
      * text hash — J(copy, c) = J(text, c), so per-copy verdicts equal
      * the rep's), and the corpus dedupes to one row per distinct text
      * (membership is all that matters) — so the quadratic-prone stages
      * see distinct texts, not duplicate mass (the ordering SCALING.md
      * measures as decisive; web batches are ~30-50 % exact dups).
      */
    private def buildAgainst(sources: Map[String, DataFrame],
        batchName: String, corpusName: String): DataFrame = {
      def src(n: String): DataFrame = sources.getOrElse(n.toUpperCase,
        throw TransformError(s"unknown NEARDEDUP source $n"))
      val batch = src(batchName)
      val corpus = src(corpusName)
      def named(df: DataFrame, which: String, n: String): String =
        df.schema.find(_.name.equalsIgnoreCase(n)).map(_.name).getOrElse(
          throw TransformError(s"NEARDEDUP: unknown column $n in $which"))
      val bKey = named(batch, batchName, key)
      val bText = named(batch, batchName, textCol)
      val cText = named(corpus, corpusName, textCol)
      named(corpus, corpusName, key) // corpus key must exist for symmetry
      val par = batch.sparkSession.sparkContext.defaultParallelism
      val bKeyed = batch.select(col(bKey).as("id"), col(bText).as("txt"),
          xxhash64(col(bText)).as("th"))
        .localCheckpoint(false)
      // exact-first collapse as a DISTINCT on (hash, text) — rows in a
      // th-group are identical by construction, so this equals the old
      // groupBy(th).agg(first(txt)) but stays a pure HashAggregate
      // (first() over a string buffer disqualifies hash aggregation and
      // forced an external sort of the corpus — the round-8 hier-IVF
      // lesson applied to every verb-layer site)
      val bReps = exactFirst(bKeyed.select(col("th"), col("txt")), "th")
      val shB = NearDup.shingled(bReps, "th", "txt")
      // corpus reps keyed by text hash too — the id never surfaces; a
      // corpus collapse keeps its map-side distinct (see exactFirst)
      val cReps = spreadForCpu(corpus, corpus.select(
          xxhash64(col(cText)).as("cth"), col(cText).as("txt")))
        .distinct()
        .repartition(par)
      val shC = NearDup.shingled(cReps, "cth", "txt")
      // matched rep text-hashes fan back to every batch copy
      val matched = crossMatchDf(shB, shC).toDF("th")
      val matchedIds = bKeyed.join(matched, "th")
        .select(col("id").as(bKey))
      batch.join(matchedIds, Seq(bKey), "left_anti")
    }

    def build(sources: Map[String, DataFrame], primary: DataFrame): DataFrame =
      (method, against, againstStored) match {
        case ("COSINE", _, Some((b, p))) =>
          buildAgainstStoredCosine(sources, b, p)
        case ("TYPO", _, Some((b, p))) => buildAgainstStoredTypo(sources, b, p)
        case (_, _, Some((b, p))) => buildAgainstStored(sources, b, p)
        case ("COSINE", Some((b, c)), _) => buildAgainstCosine(sources, b, c)
        case ("COSINE", None, _) => buildSelfCosine(primary)
        case ("TYPO", Some((b, c)), _) => buildAgainstTypo(sources, b, c)
        case ("TYPO", None, _) => buildSelfTypo(primary)
        case (_, Some((b, c)), _) => buildAgainst(sources, b, c)
        case _ => buildSelf(primary)
      }

    /** AGAINST STORED form: drop batch rows near-matching ≥ 1 doc of a
      * PERSISTED band index ([[NearDup.bandStoreFrom]]'s artifact — the
      * q144 deployment shape reachable from the language layer, the
      * NEARDEDUP analogue of KNN's STORED serving). Same AGAINST
      * semantics as the two-source form (no same-key exclusion;
      * re-ingestion matches its own corpus copy on purpose), same
      * EXACT-FIRST batch collapse with verdicts fanning back through
      * the text hash — but the corpus side is never shingled, banded,
      * or even scanned: the probe touches only the batch's routed cell
      * files ([[NearDup.minhashCrossMatchesStored]]). Banding comes
      * from BANDS/ROWS or the threshold's auto-banding and is validated
      * against the artifact's meta at probe time — a mismatch errors
      * instead of silently missing every pair.
      */
    private def buildAgainstStored(sources: Map[String, DataFrame],
        batchName: String, base: String): DataFrame = {
      val batch = sources.getOrElse(batchName.toUpperCase,
        throw TransformError(s"unknown NEARDEDUP source $batchName"))
      def named(n: String): String =
        batch.schema.find(_.name.equalsIgnoreCase(n)).map(_.name).getOrElse(
          throw TransformError(
            s"NEARDEDUP: unknown column $n in $batchName"))
      val bKey = named(key)
      val bText = named(textCol)
      val bKeyed = batch.select(col(bKey).as("id"), col(bText).as("txt"),
          xxhash64(col(bText)).as("th"))
        .localCheckpoint(false)
      // distinct-on-(th, txt) = the hash-agg exact-first collapse (see
      // buildAgainst) — the probe side of the stored index must not pay
      // a corpus-wide external sort just to dedupe its batch
      val bReps = exactFirst(bKeyed.select(col("th"), col("txt")), "th")
      val shB = NearDup.shingled(bReps, "th", "txt")
      val (b, r) = bandsRows.getOrElse(NearDup.autoBands(threshold))
      val matched = NearDup.minhashCrossMatchesStored(batch.sparkSession,
          base, shB, threshold,
          numPerm = b * r, numBands = b, rowsPerBand = r)
        .toDF("th")
      val matchedIds = bKeyed.join(matched, "th")
        .select(col("id").as(bKey))
      batch.join(matchedIds, Seq(bKey), "left_anti")
    }

    /** METHOD COSINE's AGAINST STORED form: drop batch rows whose vector
      * is within the threshold of ≥ 1 vector of a PERSISTED sign-LSH
      * bucket index ([[VecKnn.cosineStoreTo]]'s artifact, built by the
      * INDEX verb) — embedding decontamination (q142's shape) without
      * recomputing corpus buckets per run. Same AGAINST semantics and
      * EXACT-FIRST batch collapse as the two-source form; the probe
      * touches only the batch's routed cell files
      * ([[VecKnn.cosineCrossMatchesStored]]). Geometry comes FROM the
      * artifact's meta (the INDEX verb derives bits from the corpus, so
      * a probe cannot guess them); explicit TABLES/BITS are validated
      * against meta at probe time.
      */
    private def buildAgainstStoredCosine(sources: Map[String, DataFrame],
        batchName: String, base: String): DataFrame = {
      val batch = sources.getOrElse(batchName.toUpperCase,
        throw TransformError(s"unknown NEARDEDUP source $batchName"))
      val bKey = batch.schema.find(_.name.equalsIgnoreCase(key))
        .map(_.name).getOrElse(throw TransformError(
          s"NEARDEDUP: unknown column $key in $batchName"))
      val bKeyed = vecFrame(batch, batchName)
        .withColumn("vh", xxhash64(col("v")))
        .localCheckpoint(false)
      val bReps = exactFirst(bKeyed.select(col("vh").as("id"), col("v"),
          col("nrm")), "id")
        .localCheckpoint(false)
      // absent TABLES/BITS adopt the ARTIFACT's geometry (meta is the
      // source of truth — the INDEX verb derives bits from the corpus,
      // so a probe cannot guess them); explicit values validate vs meta
      val matched = VecKnn.cosineCrossMatchesStored(batch.sparkSession,
        base, bReps, threshold, tablesBits.map(_._1), tablesBits.map(_._2))
        .toDF("vh")
      val matchedIds = bKeyed.join(matched, "vh")
        .select(col("id").as(bKey))
      batch.join(matchedIds, Seq(bKey), "left_anti")
    }

    /** METHOD TYPO's AGAINST STORED form: drop batch rows whose string
      * is within edit distance 1 of ≥ 1 string of a PERSISTED delete-1
      * variant index ([[NearDup.typoStoreTo]]'s artifact, built by the
      * INDEX verb) — the q98 "write-once corpus delete index" finally
      * consumed from files instead of rebuilt per run. Same AGAINST
      * semantics and EXACT-FIRST batch collapse as the two-source form;
      * the probe touches only the batch's routed cell files
      * ([[NearDup.typoCrossMatchesStored]]).
      */
    private def buildAgainstStoredTypo(sources: Map[String, DataFrame],
        batchName: String, base: String): DataFrame = {
      val batch = sources.getOrElse(batchName.toUpperCase,
        throw TransformError(s"unknown NEARDEDUP source $batchName"))
      val (bKey, bTextName) = typoCols(batch, batchName)
      val bKeyed = batch.select(col(bKey).as("id"), col(bTextName).as("txt"),
          xxhash64(col(bTextName)).as("th"))
        .where(col("txt").isNotNull)
        .localCheckpoint(false)
      val bReps = exactFirst(bKeyed.select(col("th").as("id"), col("txt")),
          "id")
        .localCheckpoint(false)
      val matched = NearDup.typoCrossMatchesStored(batch.sparkSession,
        base, bReps).toDF("th")
      val matchedIds = bKeyed.join(matched, "th")
        .select(col("id").as(bKey))
      batch.join(matchedIds, Seq(bKey), "left_anti")
    }

    /** Resolve ON as a vector column of `df` and prep the (id, v, nrm)
      * frame the COSINE paths consume. Null, empty, ZERO, and
      * NaN-component vectors cannot near-dup and pass through untouched
      * — the vector analogue of the text paths' short-text passthrough.
      * The norm filter is load-bearing, not cosmetic: a zero vector's
      * cosine is 0/0 = NaN, a NaN-component vector's cosine is NaN
      * outright, and Spark's NaN-safe ordering ranks NaN ABOVE every
      * number, so `NaN >= threshold` is TRUE — an unfiltered zero or
      * NaN vector would "match" every bucket collision and min-label
      * propagation would merge those unrelated clusters into one. The
      * `nrm > 0` comparison alone does NOT exclude NaN (NaN > 0 is
      * true under the same ordering), hence the explicit isnan guard —
      * one NaN component makes the whole norm NaN, so filtering the
      * norm covers every component. INFINITE norms (components near
      * ±1e160 whose squares overflow) are excluded for the same
      * reason: Inf/Inf and Inf + −Inf in the dot/cosine are NaN again,
      * so an Inf-norm vector would also "match" everything — the guard
      * requires a finite positive norm.
      */
    private def vecFrame(df: DataFrame, which: String): DataFrame = {
      def named(n: String): StructField =
        df.schema.find(_.name.equalsIgnoreCase(n)).getOrElse(
          throw TransformError(s"NEARDEDUP: unknown column $n in $which"))
      val v = named(textCol)
      v.dataType match {
        case ArrayType(FloatType | DoubleType, _) => ()
        case other => throw TransformError(
          s"NEARDEDUP METHOD COSINE ON ${v.name} must be " +
            s"array<float|double>, got ${other.simpleString}")
      }
      df.select(col(named(key).name).as("id"),
          col(v.name).cast("array<double>").as("v"))
        .where(col("v").isNotNull && size(col("v")) > 0)
        .withColumn("nrm", graft.functions.Vectors.l2norm(col("v")))
        .where(col("nrm") > 0 && !isnan(col("nrm")) &&
          col("nrm") < lit(Double.PositiveInfinity))
    }

    /** METHOD COSINE, single source: embedding near-dedup (q44 as a
      * language operator). EXACT-FIRST like the text form: identical
      * vectors collapse on xxhash64(v) to one min-key representative
      * before pair generation — a duplicate clique of f copies would
      * otherwise pay f²/2 bucket-collision candidates in EVERY table
      * (identical vectors share every bucket), and the collapse is
      * semantics-preserving because cosine(copy, x) == cosine(rep, x)
      * exactly (identical doubles, identical dot). Then sign-LSH-blocked
      * candidates → exact round-6 cosine ≥ threshold
      * (VecKnn.cosinePairs, the candidates-then-verify contract) →
      * min-label connected components over the reps → verdicts fan back
      * through the vector hash. The canonical rule differs from the
      * text form's longest-text on purpose: vectors carry no quality
      * proxy comparable to length, so the deterministic minimum key is
      * the honest pick — and it is free, because rep ids are per-group
      * key minima and min-label propagation over them makes cluster_id
      * the cluster's global min key (the survivor is the row whose id
      * equals its cluster_id). An identical-copy group that pairs with
      * nothing is a duplicate clique by itself (cosine 1.0 ≥ any legal
      * threshold) — its rep survives, its copies drop, mirroring
      * buildSelf's clique gate. Null/empty vectors pass through.
      */
    private def buildSelfCosine(primary: DataFrame): DataFrame = {
      val keyField = primary.schema.find(_.name.equalsIgnoreCase(key))
        .getOrElse(throw TransformError(s"NEARDEDUP: unknown column $key"))
      keyField.dataType match {
        case ByteType | ShortType | IntegerType | LongType => ()
        case other => throw TransformError(
          s"NEARDEDUP KEY ${keyField.name} must be integral, got " +
            s"${other.simpleString} (cluster convergence sums labels)")
      }
      val (t2, b2) = tablesBits.getOrElse(CosineDefaults)
      // checkpoint: feeds the rep collapse AND the verdict fan-back
      val keyed = spreadForCpu(primary, vecFrame(primary, "the source"))
        .withColumn("vh", xxhash64(col("v")))
        .localCheckpoint(false)
      val par = primary.sparkSession.sparkContext.defaultParallelism
      // reps checkpoint: feeds the bucket self-join AND both rerank
      // sides of cosinePairs, plus the clique gate below
      // content columns ride the GROUPING KEY, not a first()-buffer —
      // grouping keys may be any type while agg buffers must stay
      // mutable-primitive for HashAggregate, so (vh, v, nrm) as keys +
      // min/count buffers keeps the collapse a pure hash agg with
      // map-side combine (vh determines v and nrm, so groups are
      // identical to the old groupBy(vh))
      val reps = keyed.groupBy(col("vh"), col("v"), col("nrm")).agg(
          min(col("id")).as("id"),
          count(lit(1)).as("n_copies"))
        .repartition(par) // AQE would coalesce below the CPU stage
        .localCheckpoint(false)
      val repVecs = reps.select(col("id"), col("v"), col("nrm"))
      // STAR ABOVE: the vector-side hot-bucket split (perturbed-copy
      // families defeat exact-first collapse exactly like boilerplate
      // defeats it on text — graft.SkewScale measures the response)
      val pairsF = starAbove match {
        case Some(n) =>
          VecKnn.cosinePairsStar(repVecs, threshold, n, t2, b2)
        case None => VecKnn.cosinePairs(repVecs, threshold, t2, b2)
      }
      val cl = NearDup.clusters(pairsF.select(col("doc_a"), col("doc_b")))
      val clustered = reps.select(col("vh"), col("id"), col("n_copies"))
        .join(cl, Seq("id"), "left")
        .withColumn("cluster_id", coalesce(col("cluster_id"),
          when(col("n_copies") >= 2, col("id"))))
        .where(col("cluster_id").isNotNull)
        .select(col("vh"), col("cluster_id"))
      val losers = keyed.join(clustered, "vh")
        .where(col("id") =!= col("cluster_id"))
        .select(col("id").as(keyField.name))
      primary.join(losers, Seq(keyField.name), "left_anti")
    }

    /** METHOD COSINE, AGAINST form: drop batch rows whose vector is
      * within the threshold of ≥ 1 corpus vector — embedding-level
      * incremental dedup/decontamination. Same semantics as the text
      * AGAINST (no same-key exclusion: a re-ingested row matches its own
      * corpus copy at cosine 1.0 and drops); the corpus bucket frame is
      * the write-once index at scale. EXACT-FIRST on both sides like the
      * text form: batch verdicts compute once per distinct vector and
      * fan back through the hash, the corpus dedupes to one row per
      * distinct vector (membership is all that matters).
      */
    private def buildAgainstCosine(sources: Map[String, DataFrame],
        batchName: String, corpusName: String): DataFrame = {
      def src(n: String): DataFrame = sources.getOrElse(n.toUpperCase,
        throw TransformError(s"unknown NEARDEDUP source $n"))
      val batch = src(batchName)
      val corpus = src(corpusName)
      val bKey = batch.schema.find(_.name.equalsIgnoreCase(key))
        .map(_.name).getOrElse(throw TransformError(
          s"NEARDEDUP: unknown column $key in $batchName"))
      val (t2, b2) = tablesBits.getOrElse(CosineDefaults)
      val par = batch.sparkSession.sparkContext.defaultParallelism
      val bKeyed = vecFrame(batch, batchName)
        .withColumn("vh", xxhash64(col("v")))
        .localCheckpoint(false)
      // rep checkpoints: each side feeds cosineCrossMatches' bucket
      // frame AND its rerank join (same multi-consumer rationale as
      // buildSelfCosine's reps); the corpus collapse keeps its map-side
      // distinct (see exactFirst)
      val bReps = exactFirst(bKeyed.select(col("vh").as("id"), col("v"),
          col("nrm")), "id")
        .localCheckpoint(false)
      val cReps = spreadForCpu(corpus, vecFrame(corpus, corpusName))
        .withColumn("vh", xxhash64(col("v")))
        .select(col("vh"), col("v"), col("nrm")).distinct()
        .select(col("vh").as("id"), col("v"), col("nrm"))
        .repartition(par)
        .localCheckpoint(false)
      // matched rep vector-hashes fan back to every batch copy
      val matched = VecKnn.cosineCrossMatches(bReps, cReps, threshold,
        t2, b2).toDF("vh")
      val matchedIds = bKeyed.join(matched, "vh")
        .select(col("id").as(bKey))
      batch.join(matchedIds, Seq(bKey), "left_anti")
    }

    /** Resolve ON as a string column of `df` for the TYPO paths,
      * returning (keyName, textName). The key must exist on both sides
      * of AGAINST for symmetry (mirroring the text form).
      */
    private def typoCols(df: DataFrame, which: String): (String, String) = {
      def named(n: String): StructField =
        df.schema.find(_.name.equalsIgnoreCase(n)).getOrElse(
          throw TransformError(s"NEARDEDUP: unknown column $n in $which"))
      val t = named(textCol)
      if (t.dataType != StringType) throw TransformError(
        s"NEARDEDUP METHOD TYPO ON ${t.name} must be string, got " +
          t.dataType.simpleString)
      (named(key).name, t.name)
    }

    /** Exact-first-collapsed frames for the TYPO self path: keyed =
      * (id, txt, th) with th = xxhash64(txt), reps = one min-key row per
      * distinct string (+ copy count for the clique gate). NULL strings
      * pass through untouched (they cannot sit at any edit distance) —
      * the only passthrough class: every non-null string, even the
      * empty one, can be within distance 1 of another and participates.
      */
    private def typoPrep(df: DataFrame, which: String)
        : (String, DataFrame, DataFrame) = {
      val (keyName, textName) = typoCols(df, which)
      val par = df.sparkSession.sparkContext.defaultParallelism
      val keyed = spreadForCpu(df, df.select(col(keyName).as("id"),
          col(textName).as("txt"), xxhash64(col(textName)).as("th")))
        .where(col("txt").isNotNull)
        .localCheckpoint(false)
      // txt rides the grouping key (th determines it), keeping the
      // collapse a pure HashAggregate — see buildSelfCosine's reps note
      val reps = keyed.groupBy(col("th"), col("txt")).agg(
          min(col("id")).as("id"),
          count(lit(1)).as("n_copies"))
        .repartition(par)
        .localCheckpoint(false)
      (keyName, keyed, reps)
    }

    /** Candidate-then-verify pair generation for METHOD TYPO — public so
      * PlanSpec can pin the slim-join contract. Candidate rows carry
      * ONLY (id, vh) — 16 bytes — through the len+1-way delete-1 variant
      * fan-out and the `vh` equi-join; the two strings rejoin from
      * `reps` onto the candidate-sized output for the levenshtein
      * verify. Carrying txt on the variant rows instead would put
      * Σ len(s)·(len(s)+1) bytes into the join — quadratic bytes per row
      * in string length, ruinous the moment ON points at a long text
      * column. The verify's banded 3-arg levenshtein returns −1 past the
      * bound, so it is O(len·1) per candidate, not the full O(len²) DP.
      * `reps` columns: (id, txt), one row per distinct string (callers
      * pass the checkpointed exact-first rep frame, so the two rejoins
      * read materialized partitions).
      */
    def typoPairs(reps: DataFrame): DataFrame = {
      // round 16: the variant fan-out feeds BOTH candidate-join sides —
      // materialize it once (EAGER: the join's sibling map stages would
      // otherwise race to recompute the explode+substr+hash chain over
      // the reps; guide §2.4). Rows are (id, vh) — 16 bytes each, so
      // the materialization is Σ(len+1) × 16 bytes, far below the
      // shuffle the join itself pays.
      val v = NearDup.delete1Variants(
          reps.select(col("id"), col("txt")), "txt")
        .select(col("id"), col("vh"))
        .localCheckpoint()
      val cand = v.toDF("doc_a", "vh")
        .join(v.toDF("doc_b", "vh"), Seq("vh"))
        .where(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"))
        .distinct()
      cand
        .join(reps.select(col("id").as("doc_a"), col("txt").as("ta")),
          "doc_a")
        .join(reps.select(col("id").as("doc_b"), col("txt").as("tb")),
          "doc_b")
        .where(levenshtein(col("ta"), col("tb"), 1) >= 0)
        .select(col("doc_a"), col("doc_b"))
    }

    /** METHOD TYPO, single source: fuzzy string dedup at edit distance
      * ≤ 1 (q98's SymSpell blocking as a language operator) — the fourth
      * member of the dedup method family, for short-string columns
      * (names, titles, keys) where token shingles are meaningless.
      * EXACT-FIRST collapse on the string hash, delete-1 variant
      * candidates over the reps, exact levenshtein ≤ 1 verify, min-label
      * clusters, and the text family's canonical rule (longest string,
      * then min key). Candidate volume is Σ(len+1) per side — linear,
      * never |n|² cross-levenshtein.
      */
    private def buildSelfTypo(primary: DataFrame): DataFrame = {
      val keyField = primary.schema.find(_.name.equalsIgnoreCase(key))
        .getOrElse(throw TransformError(s"NEARDEDUP: unknown column $key"))
      keyField.dataType match {
        case ByteType | ShortType | IntegerType | LongType => ()
        case other => throw TransformError(
          s"NEARDEDUP KEY ${keyField.name} must be integral, got " +
            s"${other.simpleString} (cluster convergence sums labels)")
      }
      val (keyName, keyed, reps) = typoPrep(primary, "the source")
      val cl = NearDup.clusters(
        typoPairs(reps.select(col("id"), col("txt"))))
      // identical-copy cliques: any string with ≥ 2 copies is a cluster
      // by itself (edit distance 0) even when its rep pairs with nothing
      val clustered = reps.select(col("th"), col("id"), col("n_copies"))
        .join(cl, Seq("id"), "left")
        .withColumn("cluster_id", coalesce(col("cluster_id"),
          when(col("n_copies") >= 2, col("id"))))
        .where(col("cluster_id").isNotNull)
        .select(col("th"), col("cluster_id"))
      val members = keyed.join(clustered, "th")
        .select(col("id"), col("cluster_id"), length(col("txt")).as("__len"))
      primary.join(longestThenMinKeyLosers(members, keyName),
        Seq(keyName), "left_anti")
    }

    /** METHOD TYPO, AGAINST form: drop batch rows whose string is within
      * edit distance 1 of ≥ 1 corpus string — q98's dirty-vs-dictionary
      * shape with the family's AGAINST semantics (no same-key exclusion;
      * the corpus delete index is write-once at scale). EXACT-FIRST on
      * both sides; verdicts fan back through the string hash.
      */
    private def buildAgainstTypo(sources: Map[String, DataFrame],
        batchName: String, corpusName: String): DataFrame = {
      def src(n: String): DataFrame = sources.getOrElse(n.toUpperCase,
        throw TransformError(s"unknown NEARDEDUP source $n"))
      val batch = src(batchName)
      val corpus = src(corpusName)
      val (bKey, bTextName) = typoCols(batch, batchName)
      val (_, cTextName) = typoCols(corpus, corpusName)
      val par = batch.sparkSession.sparkContext.defaultParallelism
      // batch collapse: verdicts compute once per distinct string and
      // fan back through the hash (keyed feeds the rep agg AND the
      // fan-back → checkpoint; each rep frame now feeds its variant
      // fan-out AND the candidate-sized text rejoin → checkpoint too);
      // the corpus collapse keeps its map-side distinct (see exactFirst)
      val bKeyed = batch.select(col(bKey).as("id"), col(bTextName).as("txt"),
          xxhash64(col(bTextName)).as("th"))
        .where(col("txt").isNotNull)
        .localCheckpoint(false)
      val bReps = exactFirst(bKeyed.select(col("th"), col("txt")), "th")
        .localCheckpoint(false)
      val cReps = spreadForCpu(corpus,
          corpus.select(col(cTextName).as("txt")))
        .where(col("txt").isNotNull).distinct()
        .withColumn("cth", xxhash64(col("txt")))
        .repartition(par)
        .localCheckpoint(false)
      // hash-only candidate rows, same rationale as buildSelfTypo: the
      // variant fan-out and equi-join carry 16-byte (hash, vh) rows; the
      // two strings rejoin from the rep frames on candidates only
      val bv = NearDup.delete1Variants(
          bReps.select(col("th"), col("txt")), "txt")
        .select(col("th").as("bth"), col("vh"))
      val cv = NearDup.delete1Variants(
          cReps.select(col("cth"), col("txt")), "txt")
        .select(col("cth"), col("vh"))
      val matched = bv.join(cv, Seq("vh"))
        .select(col("bth"), col("cth")).distinct()
        .join(bReps.select(col("th").as("bth"), col("txt").as("tb")),
          "bth")
        .join(cReps.select(col("cth"), col("txt").as("tc")), "cth")
        .where(levenshtein(col("tb"), col("tc"), 1) >= 0)
        .select(col("bth").as("th")).distinct()
      val matchedIds = bKeyed.join(matched, "th")
        .select(col("id").as(bKey))
      batch.join(matchedIds, Seq(bKey), "left_anti")
    }

    private def buildSelf(primary: DataFrame): DataFrame = {
      def named(n: String): StructField =
        primary.schema.find(_.name.equalsIgnoreCase(n)).getOrElse(
          throw TransformError(s"NEARDEDUP: unknown column $n"))
      val keyName = named(key).name
      val textName = named(textCol).name
      named(key).dataType match {
        case ByteType | ShortType | IntegerType | LongType => ()
        case other => throw TransformError(
          s"NEARDEDUP KEY $keyName must be integral, got ${other.simpleString}" +
            " (cluster convergence sums labels)")
      }
      // Spread the CPU-heavy shingle/hash projection across all cores
      // (see spreadForCpu: plan-only guard; unknown-size sources like an
      // unpartitioned JDBC read are treated as single-split and spread)
      val spread = spreadForCpu(primary, primary)
      // EXACT-FIRST: collapse identical texts before pair generation and
      // run the quadratic-prone stages on one representative per text —
      // semantics-preserving (copies connect to the graph only through
      // their text: J(copy_a, copy_b) = J(text_a, text_b), so components
      // AND min-label cluster ids are unchanged), and measured decisive
      // at scale (SCALING.md: near-dup cost flat in duplicate mass vs
      // Θ(k²) naive; web corpora are ~30-50 % exact dups). Texts collapse
      // on xxhash64 — 8-byte group key; cross-text collision risk
      // n²/2⁶⁵ shares q31's documented postings budget. The one full-text
      // shuffle here is smaller than the postings shuffle it replaces
      // (per-token 16-byte postings outweigh the text bytes themselves).
      val keyed = spread.select(col(keyName).as("id"),
        col(textName).as("txt"), xxhash64(col(textName)).as("th"))
      // checkpoint to truncate lineage for the three consumers below
      // (pair graph, clique gate, fan-back). Note build() is eager
      // regardless of the lazy flag: NearDup.pairs checkpoints its count
      // frame and clusters() drives per-round actions, so the whole
      // pipeline runs when the engine builds the block. The explicit
      // repartition matters: AQE coalesces the small aggregate output to
      // ~1 partition, which would serialize the CPU-heavy shingle/hash
      // stage downstream (same rationale as `spread`).
      // txt rides the grouping key (th determines it): min/count over
      // longs keep the collapse a pure HashAggregate with map-side
      // combine, where a first(txt) buffer would force SortAggregate —
      // an external sort of the whole corpus per NEARDEDUP statement
      val reps = keyed.groupBy(col("th"), col("txt")).agg(
          min(col("id")).as("rep_id"),
          count(lit(1)).as("n_copies"))
        .repartition(primary.sparkSession.sparkContext.defaultParallelism)
        .localCheckpoint(false)
      val sh = NearDup.shingled(reps, "rep_id", "txt")
      val cl = NearDup.clusters(
        pairDf(sh).select(col("doc_a"), col("doc_b")))
      // identical-copy cliques: a shingle-able text with ≥ 2 copies is a
      // near-dup cluster by itself (J = 1) even when its rep pairs with
      // nothing; its min-label id is the rep id, matching what min-label
      // propagation over the expanded graph would assign. Short texts
      // (< 3 tokens) never shingle, never pair, and always pass through
      // — copies included — exactly as before. One left join + a
      // map-side shingle-ability test (no semi/anti round trips).
      val clustered = reps
        .join(cl.withColumnRenamed("id", "rep_id"), Seq("rep_id"), "left")
        .withColumn("cluster_id", coalesce(col("cluster_id"),
          when(col("n_copies") >= 2 && NearDup.shingleable(col("txt")),
            col("rep_id"))))
        .where(col("cluster_id").isNotNull)
        .select(col("th"), col("cluster_id"))
      // fan the rep verdicts back out to every copy: the clustered-rep
      // frame is ∝ near-dup/duplicated texts (AQE broadcasts while it
      // fits), so the corpus side joins without shuffling
      val members = keyed
        .join(clustered, "th")
        .select(col("id"), col("cluster_id"), length(col("txt")).as("__len"))
      primary.join(longestThenMinKeyLosers(members, keyName),
        Seq(keyName), "left_anti")
    }

    /** Canonical pick shared by the text methods (EXACT/LSH/TYPO),
      * without a per-cluster sort window: max length per cluster, then
      * min key among the max-length members — two aggs on the same
      * cluster_id shuffle (exchange reuse), both partial-aggregatable.
      * min/max (not max(struct)) so the shape also works when keys are
      * later widened beyond longs. `members` columns: (id, cluster_id,
      * __len); returns the dropped keys as a 1-column frame named
      * `keyName`.
      */
    private def longestThenMinKeyLosers(members: DataFrame,
        keyName: String): DataFrame = {
      val best = members.groupBy(col("cluster_id"))
        .agg(max(col("__len")).as("__maxlen"))
      val winners = members.join(best, "cluster_id")
        .where(col("__len") === col("__maxlen"))
        .groupBy(col("cluster_id")).agg(min(col("id")).as("__win"))
      members.join(winners, "cluster_id")
        .where(col("id") =!= col("__win"))
        .select(col("id").as(keyName))
    }
  }

  // ------------------------------------------------------------------- KNN

  // KnnParser (the KNN option grammar) lives in
  // VerbSupport.scala (round-15 move — the verb BODY stays here)

  final case class KnnVerb(vecCol: String, key: String, k: Int,
      method: String, tables: Option[Int], bits: Option[Int],
      cells: Option[Int], nprobe: Option[Int],
      queries: Option[String],
      twoSource: Option[(String, String)] = None,
      stored: Option[String] = None,
      adc: Boolean = false, shortlist: Option[Int] = None,
      threshold: Option[Double] = None) extends Verb {

    /** (id, v, nrm) from `df`, QUERIES-flagged, spread across cores (see
      * spreadForCpu), and MATERIALIZED once: every method consumes the
      * prepped frame from ≥ 2 consumers (bucket/probe generation, exact
      * rerank join, query broadcast), and without the checkpoint the
      * scan + cast + norm pipeline would re-execute per consumer — the
      * re-scan trap NearDup.pairsCapped documents. Lazy, executor-local
      * storage; at 100 TB this materialization costs about one shuffle
      * write of the corpus and saves up to three re-scans.
      * `materialize = false` skips the checkpoint for the one
      * single-consumer path (STORED serving, where the frame feeds only
      * the probe's query side and a checkpoint would eagerly hold the
      * whole source for an often-tiny query panel).
      */
    private def prep(df: DataFrame, withFlag: Boolean,
        materialize: Boolean = true): DataFrame = {
      def named(n: String): StructField =
        df.schema.find(_.name.equalsIgnoreCase(n)).getOrElse(
          throw TransformError(s"KNN: unknown column $n"))
      val keyName = named(key).name
      val vecName = named(vecCol).name
      named(vecCol).dataType match {
        case ArrayType(_: NumericType, _) => ()
        case other => throw TransformError(
          s"KNN ON $vecName must be a numeric array, got ${other.simpleString}")
      }
      // QUERIES resolves against the SOURCE schema (before the id/v
      // projection renames), so the predicate can reference any column
      val flagged = queries match {
        case Some(q) if withFlag =>
          val p = try expr(q)
            catch { case e: Exception => throw TransformError(
              s"KNN QUERIES: cannot parse '$q': ${e.getMessage}") }
          df.withColumn("__isq", coalesce(p, lit(false)))
        case _ => df.withColumn("__isq", lit(true))
      }
      val base = flagged.select(col(keyName).as("id"),
        col(vecName).cast("array<double>").as("v"), col("__isq"))
      // degenerate vectors (null/empty/zero/NaN/Inf norm) leave the
      // frame on BOTH sides: their cosine is NaN, which Spark's
      // NaN-safe ordering ranks ABOVE every real value — an unfiltered
      // zero vector would be every query's "nearest" neighbor (the
      // vecFrame rationale applied to ranking instead of thresholding)
      val p = spreadForCpu(df, base)
        .where(col("v").isNotNull && size(col("v")) > 0)
        .withColumn("nrm", graft.functions.Vectors.l2norm(col("v")))
        .where(col("nrm") > 0 && !isnan(col("nrm")) &&
          col("nrm") < lit(Double.PositiveInfinity))
      if (materialize) p.localCheckpoint(false) else p
    }

    /** The shared panel-prep + fan-back glue of BOTH JACCARD serving
      * forms (STORED and in-plan — round-14 review extraction, so the
      * two branches cannot drift on the grade/self-exclusion
      * contract): resolve the query frame's key/text columns, apply
      * QUERIES, key the panel by CONTENT HASH (the store families'
      * exact-first collapse — duplicate query texts pay ONE probe, and
      * the id-inequality downstream IS content self-exclusion: a
      * query's own indexed text is never its neighbor, an exact-dup
      * text under another id surfaces at 1.0 on purpose), hand the
      * distinct shingled panel plus the grade's auto-banding to
      * `perRepOf` (the stored or in-plan pairs body), and fan each
      * distinct text's top-k back to every query row carrying it.
      * The panel is checkpointed once: it feeds band-key generation,
      * the exact-verify join AND the qid fan-back, and panels are
      * small by the retrieval contract.
      */
    private def jaccardServe(qDf: DataFrame,
        perRepOf: (DataFrame, Double, Int, Int, Int) => DataFrame)
        : DataFrame = {
      def namedQ(n: String): StructField =
        qDf.schema.find(_.name.equalsIgnoreCase(n)).getOrElse(
          throw TransformError(s"KNN: unknown column $n"))
      val keyName = namedQ(key).name
      val tField = namedQ(vecCol)
      if (tField.dataType != StringType) throw TransformError(
        s"KNN METHOD JACCARD ON ${tField.name} must be string, got " +
          tField.dataType.simpleString)
      val flaggedT = queries match {
        case Some(qx) =>
          val pq = try expr(qx)
            catch { case e: Exception => throw TransformError(
              s"KNN QUERIES: cannot parse '$qx': ${e.getMessage}") }
          qDf.withColumn("__isq", coalesce(pq, lit(false)))
        case None => qDf.withColumn("__isq", lit(true))
      }
      val qKeyed = flaggedT.where(col("__isq"))
        .select(col(keyName).as("qid"), col(tField.name).as("txt"),
          xxhash64(col(tField.name)).as("th"))
        .localCheckpoint(false)
      val shQ = NearDup.shingled(
        qKeyed.select(col("th"), col("txt")).distinct(), "th", "txt")
      val tGrade = threshold.getOrElse(0.5) // in-plan: parser requires it
      val (bB, bR) = try NearDup.autoBands(tGrade)
        catch { case e: IllegalArgumentException => throw TransformError(
          s"KNN METHOD JACCARD: ${e.getMessage}") }
      val perRep = perRepOf(shQ, tGrade, bB * bR, bB, bR)
        .toDF("th", "neighbor_id", "jaccard", "rank")
      qKeyed.select(col("qid"), col("th"))
        .join(perRep, "th")
        .select(col("qid"), col("neighbor_id"), col("jaccard"),
          col("rank"))
    }

    def build(sources: Map[String, DataFrame], primary: DataFrame): DataFrame = {
      // STORED serving: the corpus IS the persisted IVF artifact
      // (Similarity.ivfStoreFrom's layout — the q136/q139 machinery,
      // SHARED code so the verb can never diverge from the gates); the
      // one source supplies only the query rows. This is the AnnScale-
      // measured serving shape reachable from the language layer: the
      // per-batch cost is the probed cells' files, never an index-build
      // or corpus scan.
      stored match {
        case Some(base) if method == "JACCARD" =>
          // text serving (NearDup.jaccardKnnStored — the q168
          // machinery): the banded lsh_text artifact routes candidates
          // exactly like NEARDEDUP AGAINST STORED, the shingle store
          // reranks by exact Jaccard, and the answer is top-k at the
          // statement's threshold grade. Banding = the threshold's
          // auto-banding, validated against the artifact's meta — a
          // mismatched-threshold serve errors instead of silently
          // missing pairs (the q165 contract).
          // panel prep, content keying and fan-back are the SHARED
          // [[jaccardServe]] body (the in-plan form rides the same)
          val spark = primary.sparkSession
          jaccardServe(primary, (shQ, tGrade, np, nb, rp) =>
            NearDup.jaccardKnnStored(spark, base, shQ, tGrade, k,
              numPerm = np, numBands = nb, rowsPerBand = rp))
        case Some(base) =>
          val spark = primary.sparkSession
          val q = prep(primary, withFlag = true, materialize = false)
          val qf = q.where(col("__isq")).select(col("id").as("qid"),
            col("v").as("qv"), col("nrm").as("qnrm"))
          if (method == "LSH")
            // COSINE-family serving (VecKnn.cosineKnnStored — the q164
            // machinery): candidates from the stored sign-LSH buckets,
            // exact rerank; neighbor_id is the store's content hash
            VecKnn.cosineKnnStored(spark, base, qf, k)
          else if (adc) {
            // ADC pre-flight: a clear statement-level error beats the
            // engine's require() after the routing work has run
            val codesPath = new org.apache.hadoop.fs.Path(s"$base/codes")
            val cfs = codesPath.getFileSystem(
              spark.sparkContext.hadoopConfiguration)
            if (!cfs.exists(codesPath)) throw TransformError(
              s"KNN … STORED ADC: the artifact at $base carries no PQ " +
                "codes — build it with INDEX … METHOD IVF … PQ <m> " +
                "INTO, or drop ADC to probe full vectors")
            // implicit shortlist: max(100, k) — a bare `ADC TOP 200`
            // must not silently cap the answer at 100 ranks (the same
            // n >= k contract the explicit-SHORTLIST parse check makes)
            graft.queries.Similarity.ivfProbeStoredAdc(spark, base, qf,
              nprobe.getOrElse(8), shortlist.getOrElse(math.max(100, k)), k)
          } else
            graft.queries.Similarity.ivfProbeStored(spark, base, qf,
              nprobe.getOrElse(8), k)
        case None =>
          def src(n: String): DataFrame = sources.getOrElse(n.toUpperCase,
            throw TransformError(s"unknown KNN source $n"))
          if (method == "JACCARD") {
            // IN-PLAN text retrieval (round 14 — the symmetry with
            // cosine KNN's in-plan EXACT/LSH/IVF forms): the corpus is
            // the source frame itself (or <Corpus> in the two-source
            // form), collapsed to DISTINCT texts keyed by content hash
            // exactly as the INDEX build collapses its corpus, so this
            // statement answers IDENTICALLY to building an artifact at
            // this threshold and serving `KNN … STORED` from it —
            // banding, exact-Jaccard verify and the rank window are
            // the stored path's own bodies
            // (NearDup.jaccardKnnAcross / topKByJaccard). Content
            // keying means content self-exclusion (a query's own text
            // is never its neighbor; an exact-dup text under another
            // id surfaces at 1.0 on purpose) and duplicate query texts
            // pay ONE candidate set. THRESHOLD is required by the
            // parser: it shapes the banding AND states the grade —
            // the answer is "top k with jaccard >= t", possibly fewer
            // than k rows, never a silently-unranked distant doc.
            val (qDf, cDf) = twoSource match {
              case Some((qn, cn)) => (src(qn), src(cn))
              case None => (primary, primary)
            }
            // KEY is resolved on the QUERY side only (inside
            // jaccardServe): corpus entries are keyed by content hash
            // (the STORED path's exact-first collapse), so a corpus
            // frame without the key column is a valid heterogeneous
            // two-source retrieval. Only the corpus TEXT column is
            // validated here.
            val cField = cDf.schema
              .find(_.name.equalsIgnoreCase(vecCol)).getOrElse(
                throw TransformError(
                  s"KNN: unknown column $vecCol (corpus)"))
            if (cField.dataType != StringType) throw TransformError(
              s"KNN METHOD JACCARD ON ${cField.name} must be string, " +
                s"got ${cField.dataType.simpleString} (corpus)")
            // the corpus side: an exact-first collapse (distinct on
            // (th, txt) — th determines txt, a pure HashAggregate) that
            // keeps its map-side distinct (see exactFirst)
            val shC = NearDup.shingled(
              spreadForCpu(cDf,
                cDf.select(xxhash64(col(cField.name)).as("th"),
                  col(cField.name).as("txt")))
                .distinct(), "th", "txt")
            // panel prep, content keying and fan-back are the SHARED
            // [[jaccardServe]] body (the STORED form rides the same)
            jaccardServe(qDf, (shQ, tGrade, np, nb, rp) =>
              NearDup.jaccardKnnAcross(shQ, shC, tGrade, k,
                numPerm = np, numBands = nb, rowsPerBand = rp))
          } else {
          val (corpus, queriesF) = twoSource match {
            case Some((qn, cn)) =>
              val q = prep(src(qn), withFlag = true)
              val c = prep(src(cn), withFlag = false)
              (c.select(col("id"), col("v"), col("nrm")),
                q.where(col("__isq"))
                  .select(col("id"), col("v"), col("nrm")))
            case None =>
              val eAll = prep(primary, withFlag = true)
              (eAll.select(col("id"), col("v"), col("nrm")),
                eAll.where(col("__isq"))
                  .select(col("id"), col("v"), col("nrm")))
          }
          method match {
            case "LSH" => VecKnn.lsh(corpus, queriesF, k,
              tables.getOrElse(16), bits.getOrElse(4))
            case "IVF" => VecKnn.ivf(corpus, queriesF, k,
              cells.getOrElse(16), nprobe.getOrElse(8))
            case _ => VecKnn.exact(corpus, queriesF, k)
          }
          }
      }
    }
  }

  // ----------------------------------------------------------------- APPLY

  /** APPLY item[, item…] — item := col | CAST(col AS TYPE) [AS alias]
    *
    * Cast matrix per reference transforms/cast.go:13-84 and
    * docs-src/docs/transforms.md "APPLY": INT⇄VARCHAR⇄DATETIME
    * (epoch-seconds / RFC3339), BOOLEAN→INT/VARCHAR.
    */
  private object ApplyParser {
    private val CastRe = raw"(?is)^CAST\s*\(\s*(\w+)\s+AS\s+(\w+)\s*\)$$".r

    def parse(t: String): Verb = {
      val items = splitTop(t.substring("APPLY".length)).map { item =>
        val (e, alias) = splitAlias(item)
        e match {
          case CastRe(c, ty) => ApplyItem(c, Some(ty.toUpperCase), alias)
          case c => ApplyItem(c.trim, None, alias)
        }
      }
      ApplyVerb(items)
    }
  }

  final case class ApplyItem(column: String, castTo: Option[String],
      alias: Option[String])

  final case class ApplyVerb(items: Seq[ApplyItem]) extends Verb {
    def build(sources: Map[String, DataFrame], primary: DataFrame): DataFrame = {
      val out = items.map { it =>
        val c = primary(it.column)
        val srcType = primary.schema
          .find(_.name.equalsIgnoreCase(it.column)).map(_.dataType)
        val e = it.castTo match {
          case None => c
          case Some("INT") => srcType match {
            case Some(TimestampType) => unix_timestamp(c) // epoch seconds
            case Some(BooleanType) => when(c, 1L).otherwise(0L)
            case _ => c.cast("long")
          }
          case Some("VARCHAR") => srcType match {
            case Some(TimestampType) =>
              date_format(c, "yyyy-MM-dd'T'HH:mm:ss'Z'") // RFC3339 (UTC)
            case Some(BooleanType) => when(c, "True").otherwise("False")
            case _ => c.cast("string")
          }
          case Some("DATETIME") => srcType match {
            case Some(StringType) => to_timestamp(c) // RFC3339 in
            case Some(LongType) | Some(IntegerType) | Some(DoubleType) =>
              timestamp_seconds(c) // epoch seconds in
            case _ => c.cast("timestamp")
          }
          case Some("BOOLEAN") => c.cast("boolean")
          case Some(other) =>
            throw TransformError(s"unsupported CAST target $other")
        }
        e.as(it.alias.getOrElse(it.column))
      }
      primary.select(out: _*)
    }
  }

  // ----------------------------------------------------------------- SHARD

  /** SHARD ON <keycol> INTO <n> [SEED <s>]
    *
    * Beyond-parity verb: the deterministic epoch shuffle of a training
    * pipeline (q130's operator as a language verb). Appends a `shard`
    * INT column = seeded 60-bit md5 hash of the key, mod n — membership
    * is a pure row function of (seed, key), so it is identical under any
    * partitioning, engine, retry, or epoch replay with the same seed,
    * and re-seeding re-shuffles the corpus. Map-side only: no shuffle,
    * no state — at 100 TB this is a projection the scan absorbs, and the
    * downstream writer partitions by the new column.
    */
  private object ShardParser {
    private val Re =
      raw"(?is)^SHARD\s+ON\s+([A-Za-z_]\w*)\s+INTO\s+(\d+)(?:\s+SEED\s+(\d+))?\s*$$".r

    def parse(t: String): Verb = t.trim match {
      case Re(key, n, seed) =>
        val parts = intOption("SHARD", "INTO", n)
        if (parts < 1) throw TransformError(s"SHARD INTO $parts must be >= 1")
        ShardVerb(key, parts,
          Option(seed).map(intOption("SHARD", "SEED", _)).getOrElse(42))
      case _ => throw TransformError(
        "cannot parse SHARD (expected SHARD ON <keycol> INTO <n> " +
          "[SEED <s>])")
    }
  }

  final case class ShardVerb(key: String, parts: Int, seed: Int)
      extends Verb {
    def build(sources: Map[String, DataFrame], primary: DataFrame): DataFrame = {
      val keyName = integralKey("SHARD", primary, key,
        " (the seeded hash renders the key as a decimal string)")
      if (primary.columns.exists(_.equalsIgnoreCase("shard")))
        throw TransformError(
          "SHARD: output column 'shard' already exists in the source")
      primary.withColumn("shard",
        pmod(seededKeyHash(seed.toString, col(keyName)), lit(parts))
          .cast("int"))
    }
  }

  // ------------------------------------------------------------------ PACK

  /** PACK BY <sizecol> KEY <keycol> INTO <n> [GROUPS <g>]
    *
    * Beyond-parity verb: balanced writer packing (q131's operator as a
    * language verb) — appends a `writer` INT column assigning each row
    * to one of n writers so per-writer totals of the size column come
    * out nearly equal, where plain hash sharding leaves the fattest
    * writer dictating the write-stage tail. Rows salt into g independent
    * groups by a seeded hash of the key; each group ranks by
    * (size DESC, key) and deals ranks onto writers serpentine (block
    * direction alternates, so a pass of big rows pairs with the next
    * pass of smaller ones). Every window PARTITIONs by the salt group —
    * never a global sort; g scales with the cluster, and the total
    * imbalance is bounded by g × (largest row's size).
    */
  private object PackParser {
    private val Re =
      raw"(?is)^PACK\s+BY\s+([A-Za-z_]\w*)\s+KEY\s+([A-Za-z_]\w*)\s+INTO\s+(\d+)(?:\s+GROUPS\s+(\d+))?\s*$$".r

    def parse(t: String): Verb = t.trim match {
      case Re(size, key, n, g) =>
        val writers = intOption("PACK", "INTO", n)
        if (writers < 1) throw TransformError(s"PACK INTO $writers must be >= 1")
        val groups = Option(g).map(intOption("PACK", "GROUPS", _))
          .getOrElse(writers)
        if (groups < 1) throw TransformError(s"PACK GROUPS $groups must be >= 1")
        PackVerb(size, key, writers, groups)
      case _ => throw TransformError(
        "cannot parse PACK (expected PACK BY <sizecol> KEY <keycol> " +
          "INTO <n> [GROUPS <g>])")
    }
  }

  final case class PackVerb(sizeCol: String, key: String, writers: Int,
      groups: Int) extends Verb {
    def build(sources: Map[String, DataFrame], primary: DataFrame): DataFrame = {
      val keyName = integralKey("PACK", primary, key,
        " (the salt hash renders the key as a decimal string)")
      val sizeName = primary.schema
        .find(_.name.equalsIgnoreCase(sizeCol)).getOrElse(
          throw TransformError(s"PACK: unknown column $sizeCol")) match {
        case f if f.dataType.isInstanceOf[NumericType] => f.name
        case f => throw TransformError(
          s"PACK BY ${f.name} must be numeric, got ${f.dataType.simpleString}")
      }
      if (primary.columns.exists(_.equalsIgnoreCase("writer")))
        throw TransformError(
          "PACK: output column 'writer' already exists in the source")
      requireFreshWorkColumns("PACK", primary, Seq("__g", "__r0"))
      val gw = Window.partitionBy(col("__g"))
        .orderBy(col(sizeName).desc, col(keyName))
      primary
        .withColumn("__g",
          pmod(seededKeyHash("pack", col(keyName)), lit(groups)))
        .withColumn("__r0", row_number().over(gw) - 1)
        .withColumn("writer",
          when((expr(s"__r0 DIV $writers") % 2) === 0,
            col("__r0") % writers)
            .otherwise(lit(writers - 1) - col("__r0") % writers)
            .cast("int"))
        .drop("__g", "__r0")
    }
  }

  // ----------------------------------------------------------------- SPLIT

  /** SPLIT ON <keycol> INTO <name>=<frac>[, <name>=<frac> …] [SEED <s>]
    *
    * Beyond-parity verb: deterministic train/val/test assignment (q66's
    * operator as a language verb) — appends a `split` STRING column
    * naming the slice each row falls in. Assignment is the md5-bucket
    * trick: the 60-bit md5 hash of the key's decimal rendering
    * (seed-prefixed when SEED is given, exactly [[ShardVerb]]'s
    * threading) mod 10⁶ ppm, cut at the cumulative fraction thresholds
    * IN THE ORDER GIVEN; the LAST slice absorbs the floor remainder so
    * assignment is total. Membership is a pure row function of
    * (seed, key) — identical under any partitioning, engine, retry, or
    * epoch replay with the same seed; re-seeding re-deals the corpus.
    * Map-side only: no shuffle, no state — at 100 TB this is a
    * projection the scan absorbs, and downstream writers partition by
    * the new column. Fractions must each be in (0, 1] and sum to 1
    * (±1e-6): a partial split would silently drop data, which is a
    * FILTER's job, not SPLIT's.
    */
  private object SplitParser {
    private val Re =
      raw"(?is)^SPLIT\s+ON\s+([A-Za-z_]\w*)\s+INTO\s+(.+?)(?:\s+SEED\s+(\d+))?\s*$$".r
    private val PartRe = raw"(?s)^([A-Za-z_]\w*)\s*=\s*([0-9]*\.?[0-9]+)$$".r

    def parse(t: String): Verb = t.trim match {
      case Re(key, parts, seed) =>
        val ps = splitTop(parts).map(_.trim).filter(_.nonEmpty).map {
          case PartRe(n, f) => (n, f.toDouble)
          case other => throw TransformError(
            s"cannot parse SPLIT slice '$other' (expected <name>=<fraction>)")
        }
        if (ps.isEmpty)
          throw TransformError("SPLIT INTO needs at least one slice")
        ps.foreach { case (n, f) =>
          if (f <= 0 || f > 1) throw TransformError(
            s"SPLIT slice $n=$f out of range (0, 1]")
        }
        val names = ps.map(_._1.toLowerCase)
        if (names.distinct.size != names.size) throw TransformError(
          s"SPLIT slice names must be distinct, got " +
            ps.map(_._1).mkString(", "))
        val total = ps.map(_._2).sum
        if (math.abs(total - 1.0) > 1e-6) throw TransformError(
          f"SPLIT fractions must sum to 1 (a partial split silently " +
            f"drops data — use FILTER for that), got $total%.6f")
        SplitVerb(key, ps,
          Option(seed).map(intOption("SPLIT", "SEED", _)))
      case _ => throw TransformError(
        "cannot parse SPLIT (expected SPLIT ON <keycol> INTO " +
          "<name>=<frac>[, <name>=<frac> ...] [SEED <s>])")
    }
  }

  final case class SplitVerb(key: String, slices: Seq[(String, Double)],
      seed: Option[Int]) extends Verb {
    def build(sources: Map[String, DataFrame], primary: DataFrame): DataFrame = {
      val keyName = integralKey("SPLIT", primary, key,
        " (the md5 bucket renders the key as a decimal string)")
      if (primary.columns.exists(_.equalsIgnoreCase("split")))
        throw TransformError(
          "SPLIT: output column 'split' already exists in the source")
      // unseeded = md5(key) — q66's exact replayable form; seeded = the
      // SHARD verb's seed:key threading
      val hash = seed match {
        case Some(s2) => seededKeyHash(s2.toString, col(keyName))
        case None => conv(substring(md5(col(keyName).cast("string")), 1, 15),
          16, 10).cast("bigint")
      }
      val b = pmod(hash, lit(1000000L))
      // cumulative-then-floor ppm cuts (no per-slice floor drift); the
      // last slice is the otherwise-branch, absorbing the remainder
      val cuts = slices.map(_._2).scanLeft(0.0)(_ + _).tail
        .map(c => math.floor(c * 1e6).toLong)
      val assigned =
        if (slices.size == 1) lit(slices.head._1)
        else slices.init.zip(cuts.init)
          .foldLeft(Option.empty[Column]) { case (acc, ((n, _), c)) =>
            Some(acc.fold(when(b < c, n))(_.when(b < c, n)))
          }.get.otherwise(slices.last._1)
      primary.withColumn("split", assigned)
    }
  }

  // ------------------------------------------------------------------- MIX

  /** MIX BY <srccol> [WEIGHT <numcol>] KEY <keycol>
    *     TEMPERATURE <t> [SEED <s>]
    *
    * Beyond-parity verb: temperature-scaled source mixing (q100's
    * operator as a language verb) — the standard multilingual/multi-
    * source rebalancing before LLM training. Keeps each row of source s
    * with probability (w_min / w_s)^(1−T), where w_s is the source's
    * total WEIGHT (sum of the weight column; row count when WEIGHT is
    * omitted) and w_min the smallest source's: the smallest source
    * keeps 100 % and kept MASS comes out ∝ w_s^T — T = 1 keeps
    * everything (the identity mix), T → 0 approaches per-source parity,
    * T = 0.5 turns a 9× size gap into 3× — the standard resampling
    * form, achievable without upsampling. The keep decision is the
    * md5-bucket trick on the key ([seed:]key, the
    * [[SplitVerb]]/[[ShardVerb]] threading) against the source's ppm
    * rate — deterministic, partition-independent, replayable.
    *
    * Scale shape (q100's): stage 1 is ONE partial-aggregatable rollup
    * to |sources| rows; the ppm-rate frame broadcasts back and the keep
    * decision is map-side — two corpus scans total, no corpus shuffle.
    * At T = 0.5 (the standard setting) the scaling rides sqrt —
    * correctly rounded in every IEEE engine, so the gate's oracle
    * replays the thresholds bit-for-bit (q146); other temperatures ride
    * pow(x, 1−T) QUANTIZED to DECIMAL(18,12) before the ppm floor, so
    * faithfully-rounded-but-ulp-divergent cross-engine pow results
    * still floor identically (gate q155 at T = 0.7 replays the keep
    * set hash-exact; a flip would need the true rate within 5e-13 of a
    * 1e-12 boundary). Rows whose source is NULL or whose source total
    * weight is ≤ 0 keep nothing (they match no positive rate),
    * mirroring q100's inner join.
    */
  private object MixParser {
    private val Re =
      raw"(?is)^MIX\s+BY\s+([A-Za-z_]\w*)(?:\s+WEIGHT\s+([A-Za-z_]\w*))?\s+KEY\s+([A-Za-z_]\w*)\s+TEMPERATURE\s+([0-9]*\.?[0-9]+)(?:\s+SEED\s+(\d+))?\s*$$".r

    def parse(t: String): Verb = t.trim match {
      case Re(src, weight, key, temp, seed) =>
        val tv = temp.toDouble
        if (tv <= 0 || tv > 1) throw TransformError(
          s"MIX TEMPERATURE $tv out of range (0, 1] (1 = keep " +
            "everything, smaller = flatter source mix)")
        MixVerb(src, Option(weight), key, tv,
          Option(seed).map(intOption("MIX", "SEED", _)))
      case _ => throw TransformError(
        "cannot parse MIX (expected MIX BY <srccol> [WEIGHT <numcol>] " +
          "KEY <keycol> TEMPERATURE <t> [SEED <s>])")
    }
  }

  final case class MixVerb(srcCol: String, weightCol: Option[String],
      key: String, temperature: Double, seed: Option[Int]) extends Verb {
    def build(sources: Map[String, DataFrame], primary: DataFrame): DataFrame = {
      val keyName = integralKey("MIX", primary, key,
        " (the md5 bucket renders the key as a decimal string)")
      val srcName = primary.schema.find(_.name.equalsIgnoreCase(srcCol))
        .getOrElse(throw TransformError(s"MIX: unknown column $srcCol")).name
      val wExpr = weightCol match {
        case Some(w) => primary.schema.find(_.name.equalsIgnoreCase(w))
          .getOrElse(throw TransformError(s"MIX: unknown column $w")) match {
          case f if f.dataType.isInstanceOf[NumericType] => col(f.name)
          case f => throw TransformError(
            s"MIX WEIGHT ${f.name} must be numeric, got " +
              f.dataType.simpleString)
        }
        case None => lit(1L)
      }
      requireFreshWorkColumns("MIX", primary, Seq("__ppm"))
      // rate = (w_min / w)^(1−T). T = 0.5 rides correctly-rounded
      // sqrt + division (hash-exact cross-engine, q146's oracle); T = 1
      // is the exact identity. The general pow path quantizes the rate
      // to DECIMAL(18,12) BEFORE the ppm floor (the q78/q112 trick):
      // IEEE pow is deterministic within an engine but only
      // faithfully-rounded across engines, and an unquantized last-ulp
      // difference flips the floor exactly when 1e6·rate grazes an
      // integer; rounding at 1e-12 absorbs ulp-level divergence (a flip
      // now needs the true rate within 5e-13 of a rounding boundary),
      // which is what lets general-T keep sets replay hash-exact
      // cross-engine (gate q155 at T = 0.7). The long×DECIMAL multiply
      // and floor are exact in both engines.
      def ppm(w: Column, minw: Column): Column =
        if (temperature == 1.0) lit(1000000L)
        else if (temperature == 0.5)
          floor(lit(1000000.0) *
            (sqrt(minw.cast("double")) / sqrt(w.cast("double"))))
            .cast("bigint")
        else
          floor(lit(1000000L) *
            pow(minw.cast("double") / w.cast("double"), 1 - temperature)
              .cast("decimal(18,12)"))
            .cast("bigint")
      val minW = min(col("__w")).over(Window.partitionBy())
      val rates = primary.groupBy(col(srcName))
        .agg(sum(wExpr).cast("bigint").as("__w"))
        .where(col("__w") > 0)
        .select(col(srcName), ppm(col("__w"), minW).as("__ppm"))
      val hash = seed match {
        case Some(s2) => seededKeyHash(s2.toString, col(keyName))
        case None => conv(substring(md5(col(keyName).cast("string")), 1, 15),
          16, 10).cast("bigint")
      }
      primary.join(broadcast(rates), Seq(srcName))
        .where(pmod(hash, lit(1000000L)) < col("__ppm"))
        .drop("__ppm")
        // the rates join reorders srcName first — restore source order
        .select(primary.columns.map(col).toIndexedSeq: _*)
    }
  }

  // ----------------------------------------------------------------- CHUNK

  /** CHUNK ON <textcol> KEY <keycol> [SIZE <n>] [STRIDE <s>]
    *
    * Beyond-parity verb: fixed-size token chunking (q67's operator as a
    * language verb) — the context-window shaping step before
    * tokenization/embedding, and the verb family's one row GENERATOR
    * (1 → N rows where every other verb is 1 → ≤ 1). Splits the text
    * column's whitespace tokens into SIZE-token windows every STRIDE
    * tokens (STRIDE < SIZE overlaps, STRIDE = SIZE — the default —
    * tiles; STRIDE > SIZE is rejected: it would silently drop tokens)
    * and emits one row per chunk: (<keycol>, chunk_idx,
    * n_chunk_tokens, chunk_text). Zero-token rows produce no chunks
    * (q67's contract). Output PROJECTS to the key + chunk columns
    * rather than fanning every source column out ×chunks — carrying
    * doc metadata through a 1/STRIDE-per-token fan-out multiplies the
    * corpus for columns a LOOKUP can re-attach later by key.
    *
    * 100 TB: explode(sequence) is a map-side row fan-out — no shuffle
    * anywhere, parallelism = input partitions; chunk rows are bounded
    * by SIZE, so downstream writers see no skew regardless of the
    * document length distribution.
    */
  private object ChunkParser {
    private val Re =
      raw"(?is)^CHUNK\s+ON\s+([A-Za-z_]\w*)\s+KEY\s+([A-Za-z_]\w*)(?:\s+SIZE\s+(\d+))?(?:\s+STRIDE\s+(\d+))?\s*$$".r

    def parse(t: String): Verb = t.trim match {
      case Re(text, key, sz, st) =>
        val width = Option(sz).map(intOption("CHUNK", "SIZE", _)).getOrElse(64)
        if (width < 1) throw TransformError(s"CHUNK SIZE $width must be >= 1")
        val stride = Option(st).map(intOption("CHUNK", "STRIDE", _))
          .getOrElse(width)
        if (stride < 1)
          throw TransformError(s"CHUNK STRIDE $stride must be >= 1")
        if (stride > width) throw TransformError(
          s"CHUNK STRIDE $stride must be <= SIZE $width " +
            "(a larger stride silently drops the tokens between windows)")
        ChunkVerb(text, key, width, stride)
      case _ => throw TransformError(
        "cannot parse CHUNK (expected CHUNK ON <textcol> KEY <keycol> " +
          "[SIZE <n>] [STRIDE <s>])")
    }
  }

  final case class ChunkVerb(textCol: String, key: String, width: Int,
      stride: Int) extends Verb {
    def build(sources: Map[String, DataFrame], primary: DataFrame): DataFrame = {
      val keyName = primary.schema.find(_.name.equalsIgnoreCase(key))
        .getOrElse(throw TransformError(s"CHUNK: unknown column $key")).name
      val textName = primary.schema
        .find(_.name.equalsIgnoreCase(textCol)).getOrElse(
          throw TransformError(s"CHUNK: unknown column $textCol")) match {
        case f if f.dataType == StringType => f.name
        case f => throw TransformError(
          s"CHUNK ON ${f.name} must be string, got ${f.dataType.simpleString}")
      }
      for (out <- Seq("chunk_idx", "n_chunk_tokens", "chunk_text"))
        if (keyName.equalsIgnoreCase(out)) throw TransformError(
          s"CHUNK: key column $keyName collides with output column $out")
      // only the KEY can clash with the working column — the first select
      // projects every other source column away before the alias lands
      if (keyName.equalsIgnoreCase("__ws")) throw TransformError(
        s"CHUNK: key column $keyName collides with an internal working " +
          "column; rename it first")
      val ws = graft.functions.Text.tokens(col(textName))
      val chunk = slice(col("__ws"),
        (col("chunk_idx") * stride + 1).cast("int"), lit(width))
      primary
        .select(col(keyName), ws.as("__ws"))
        .where(size(col("__ws")) > 0)
        .select(col(keyName), col("__ws"),
          explode(sequence(lit(0L),
            ((size(col("__ws")) - 1) / stride).cast("long"))).as("chunk_idx"))
        .select(col(keyName), col("chunk_idx"),
          size(chunk).as("n_chunk_tokens"),
          array_join(chunk, " ").as("chunk_text"))
    }
  }

  /** Reject source columns that would capture a verb's internal working
    * column (withColumn would silently REPLACE them, a select would turn
    * ambiguous) — the column grammar admits leading underscores, so the
    * clash is reachable and deserves the same clean TransformError as
    * any other invalid input.
    */
  private def requireFreshWorkColumns(verb: String, df: DataFrame,
      names: Seq[String]): Unit =
    for (n <- names)
      if (df.columns.exists(_.equalsIgnoreCase(n))) throw TransformError(
        s"$verb: source column $n collides with an internal working " +
          "column; rename it first")

  /** Seeded engine-portable 60-bit key hash (the q69/q109/q111 md5
    * trick), shared by SHARD and PACK.
    */
  private def seededKeyHash(seed: String, key: Column): Column =
    conv(substring(md5(concat(lit(seed + ":"), key.cast("string"))),
      1, 15), 16, 10).cast("bigint")

  /** Resolve `key` in `df` and require an integral type — the md5 hash
    * input is the key's decimal string rendering, which only integral
    * types make engine-stable (floats/timestamps render differently
    * across engines).
    */
  private def integralKey(verb: String, df: DataFrame, key: String,
      why: String): String = {
    val f = df.schema.find(_.name.equalsIgnoreCase(key)).getOrElse(
      throw TransformError(s"$verb: unknown column $key"))
    f.dataType match {
      case ByteType | ShortType | IntegerType | LongType => f.name
      case other => throw TransformError(
        s"$verb KEY ${f.name} must be integral, got ${other.simpleString}" +
          why)
    }
  }
}
