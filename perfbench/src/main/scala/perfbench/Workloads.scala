package perfbench

import graft.SparkEntry
import graft.engine.Aql
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Where one pass of a workload keeps its files: the stored index and the
  * rows that statements write through their own destinations.
  */
final case class PassDirs(index: String, out: String)

/** One statement: a registry query or one `Aql.run` call on a generated
  * script. `run` returns the frame the client delivers, or None when the
  * script's own destinations delivered the result. `write` marks index
  * mutations; `script` is the generated AQL text, if any.
  */
final case class Stmt(
    name: String,
    write: Boolean,
    run: (SparkSession, PassDirs) => Option[DataFrame],
    script: PassDirs => Option[String] = _ => None)

object Workloads {

  /** Registry statements of `sql_rows`: one of each single-plan family
    * (Relational q07, Advanced q110, Timeseries q92, TextAnalysis q65,
    * Curation q75), q83, whose `count()` plan Catalyst prunes to 3% of the
    * delivered plan, and the AQL pipeline q51, which uses no dedup, KNN or
    * INDEX verb. Two of the seven (q75, q83) have a `count()` plan under
    * 70% of the delivered one, as 48 of the registry's 175 queries do.
    */
  val SqlRows: Seq[String] =
    Seq("q07", "q110", "q92", "q65", "q75", "q83", "q51")

  /** Registry name for a short id such as `q83`. */
  def registryName(id: String): String =
    SparkEntry.queries.keys.find(_.startsWith(id + "_")).getOrElse(
      throw new IllegalArgumentException(s"no registry query $id"))

  private def registry(ids: Seq[String], data: String): Seq[Stmt] =
    ids.map { id =>
      val name = registryName(id)
      val build = SparkEntry.queries(name)
      Stmt(name, write = false, (s, _) => Some(build(s, data)))
    }

  /** Residues of `doc_id % 8` per step of the index chain, chosen by the
    * seed: three build the index, one is appended and later deleted, and
    * the probe batch is the deleted one and the four not indexed. As in
    * q159, an appended entry that survives the delete drops its own batch
    * doc (Jaccard 1.0), which the exact oracle keeps.
    */
  final case class Residues(build: Seq[Int], append: Int, batch: Seq[Int])

  def residues(seed: Long): Residues = {
    val p = new scala.util.Random(seed).shuffle((0 until 8).toList)
    Residues(p.take(3).sorted, p(3), p.drop(3).sorted)
  }

  /** The index chain, after q151/q156/q158/q159/q174: one LSH index is
    * built, appended to, deleted from, compacted and given a manifest,
    * probed with a stored NEARDEDUP, then described. `CELLS 8`, not the
    * registry's 64, one append, no REBUILD, and one probe, not one per
    * mutation: a cold chain and two warm ones must fit in about a minute
    * on 4 cores.
    */
  private def lifecycle(data: String, r: Residues): Seq[Stmt] = {
    val docs =
      s"""CONNECTION 'Docs' (
         |  DRIVER = 'file', FILE = '$data/documents.parquet', FORMAT = 'parquet'
         |)
         |""".stripMargin
    def in(rs: Seq[Int]) = rs.mkString("(", ", ", ")")
    def mutate(rs: Seq[Int], opts: String, kw: String)(d: PassDirs) =
      s"""$docs
         |QUERY 'Corpus' FROM CONNECTION Docs (
         |  SELECT * FROM Docs WHERE doc_id % 8 IN ${in(rs)}
         |)
         |TRANSFORM 'Built' FROM BLOCK Corpus (
         |  INDEX ON text KEY doc_id METHOD LSH$opts INTO '${d.index}'$kw
         |) INTO CONSOLE""".stripMargin
    def maintain(verb: String)(d: PassDirs) =
      s"""DATA 'One' ([[1]]) WITH (COLUMNS = 'X')
         |TRANSFORM 'Done' FROM BLOCK One (
         |  INDEX $verb '${d.index}'
         |) INTO CONSOLE""".stripMargin
    def probe(name: String)(d: PassDirs) =
      s"""$docs
         |CONNECTION 'Out' (
         |  DRIVER = 'file', FILE = '${d.out}/$name', FORMAT = 'parquet'
         |)
         |QUERY 'Batch' FROM CONNECTION Docs (
         |  SELECT * FROM Docs WHERE doc_id % 8 IN ${in(r.batch)}
         |)
         |TRANSFORM 'Kept' FROM BLOCK Batch (
         |  NEARDEDUP Batch AGAINST STORED '${d.index}' ON text KEY doc_id
         |    THRESHOLD 0.5 METHOD LSH
         |)
         |QUERY 'Final' FROM BLOCK Kept (
         |  SELECT doc_id, lang, source, n_chars FROM Kept
         |) INTO CONNECTION Out""".stripMargin
    def aql(name: String, write: Boolean, text: PassDirs => String) =
      Stmt(name, write, (s, d) => { Aql.run(s, text(d)); None },
        d => Some(text(d)))
    val steps: Seq[(String, PassDirs => String)] = Seq(
      "build" -> mutate(r.build, " THRESHOLD 0.5 CELLS 8", ""),
      "append" -> mutate(Seq(r.append), "", " APPEND"),
      "delete" -> mutate(Seq(r.append), "", " DELETE"),
      "compact" -> maintain("COMPACT"),
      "manifest" -> maintain("MANIFEST"))
    val probed = Set("manifest")
    steps.flatMap { case (name, text) =>
      aql(name, write = true, text) +: (if (probed(name))
        Seq(aql(s"probe_$name", write = false, probe(s"probe_$name")))
      else Nil)
    } :+ aql("describe", write = false, maintain("DESCRIBE"))
  }

  /** The workload's statements in the order one pass runs them. */
  def statements(workload: String, data: String, seed: Long): Seq[Stmt] =
    workload match {
      case "sql_rows" =>
        new scala.util.Random(seed).shuffle(registry(SqlRows, data))
      case "index_lifecycle" => lifecycle(data, residues(seed))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
}
