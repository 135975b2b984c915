package graft

import graft.functions.Vectors.dot
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.collection.immutable.ListMap

/** Scaffold of the scale harnesses (`Scale`, `BandScale`, `AnnScale`,
  * `CosineScale`, `DriftScale`, `SkewScale`): env parsing, the warmed
  * session, wall-clock timing, the one JSON line per scale step with its
  * invariant gate, and the fitted scaling exponents. Each harness keeps
  * its own algorithm and closed-form checks.
  *
  * Shared env: `SPARK_GRAFT_SF_DIR` (tables), `SPARK_GRAFT_REPS`
  * (replication factors), `SPARK_GRAFT_CPUS` (local cores).
  */
object ScaleHarness {

  /** Comma-separated env list, e.g. `SPARK_GRAFT_FRACS=0.1,0.25`. */
  def list[T](name: String, default: String)(parse: String => T): Seq[T] =
    sys.env.getOrElse(name, default).split(",").toSeq.map(s => parse(s.trim))

  /** `SPARK_GRAFT_REPS`. With `baseline`, the list must start at 1: the
    * harness's closed forms derive from the k = 1 run, and without it
    * they would pass vacuously.
    */
  def reps(default: String, baseline: Boolean = true): Seq[Int] = {
    val ks = list("SPARK_GRAFT_REPS", default)(_.toInt)
    require(!baseline || ks.headOption.contains(1),
      "SPARK_GRAFT_REPS must start with 1 (closed-form baseline), got " +
        ks.mkString(","))
    ks
  }

  /** The shipped session, warmed the way `Bench` warms it, so the first
    * scale step isn't charged session startup and the exponents compare
    * like with like.
    */
  def session(): SparkSession = {
    val spark = GraftSession()
    try spark.range(1000000).selectExpr("sum(id * 2)").collect()
    catch { case _: Throwable => () }
    spark
  }

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** [[timed]] when `run`, else a skipped stage: no result and -1 s. */
  def timedIf[A](run: Boolean)(f: => A): (Option[A], Double) =
    if (run) { val (r, t) = timed(f); (Some(r), t) } else (None, -1.0)

  def round3(x: Double): Double = math.round(x * 1000) / 1000.0

  /** Named wall-clock seconds for a report line, rounded to ms. */
  def secs(times: (String, Double)*): ListMap[String, Double] =
    ListMap(times.map { case (k, t) => k -> round3(t) }: _*)

  /** Prints one JSON line — `metric`, then `fields` in order, then, when
    * there are checks, `invariants_ok` and the names of the failed
    * checks — and throws after printing if any check failed.
    */
  def report(metric: String, fields: Seq[(String, Any)],
      checks: Seq[(String, Boolean)] = Nil): Unit = {
    val failed = checks.filterNot(_._2).map(_._1)
    val gate =
      if (checks.isEmpty) Nil
      else Seq("invariants_ok" -> failed.isEmpty, "failed" -> failed)
    println(Json(ListMap((("metric" -> metric) +: fields) ++ gate: _*)))
    require(failed.isEmpty,
      s"$metric invariants failed: ${failed.mkString(", ")}")
  }

  /** Brute-force cosine top-`k` per query, the exact truth the vector
    * harnesses check against: `corpus` (cid, cv, cnrm) joined to the
    * broadcast `queries` (qid, qv, qnrm) where `pair` holds, cosine
    * rounded to 6 places, ties broken (cosine DESC, cid). Rows are
    * (qid, cid, cosine).
    */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      pair: Column = lit(true)): Seq[(Long, Long, Double)] = {
    val w = Window.partitionBy("qid")
      .orderBy(col("cosine").desc, col("cid"))
    corpus.join(broadcast(queries), pair)
      .withColumn("cosine",
        round(dot(col("qv"), col("cv")) / (col("qnrm") * col("cnrm")), 6))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("cid"), col("cosine"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
  }

  /** Neighbor ids per query from (query, neighbor) pairs. */
  def neighborSets(pairs: Iterable[(Long, Long)]): Map[Long, Set[Long]] =
    pairs.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

  /** Mean over `truth`'s queries of the share of true neighbors `got`
    * returned.
    */
  def recall(got: Map[Long, Set[Long]], truth: Map[Long, Set[Long]])
      : Double = truth.map { case (q, want) =>
    got.getOrElse(q, Set.empty).intersect(want).size.toDouble / want.size
  }.sum / truth.size

  /** ln(t_k / t_1) / ln k: 1.0 is linear scaling; a fixed per-stage
    * floor makes small k read below it.
    */
  def exponent(t1: Double, tk: Double, k: Int): Double =
    round3(math.log(tk / t1) / math.log(k.toDouble))

  /** One `<metric>_exponent` line per k > 1 against the k = 1 step's
    * times (none when the run has no k = 1 step).
    */
  def exponents(metric: String, steps: Seq[(Int, Seq[(String, Double)])])
      : Unit =
    for {
      (_, base) <- steps.find(_._1 == 1).toSeq
      (k, times) <- steps if k > 1
    } println(Json(ListMap(Seq("metric" -> s"${metric}_exponent", "k" -> k) ++
      base.zip(times).map { case ((name, t1), (_, tk)) =>
        name -> exponent(t1, tk, k)
      }: _*)))
}
