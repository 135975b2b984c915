package graft

import graft.engine.Aql
import graft.transforms.IndexMaintenance
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Spark jobs per INDEX statement: metadata (`meta/` and the layout
  * record) is read and written on the driver, so the statements that only
  * touch metadata launch no job, and a mutation folds its writers' file
  * reports into the record without one.
  */
class IndexJobsSpec extends AnyFunSuite {
  import SparkTestSession._

  /** Names (call sites) of the jobs `body` launches. */
  private def jobsOf(body: => Unit): Seq[String] = SparkJobs.of(spark)(body)

  test("INDEX DESCRIBE, MANIFEST and a no-op COMPACT run no Spark job; " +
      "nor does a verb APPEND's stats epilogue") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_indexjobs")
    graft.queries.Advanced.registerTmpDir(dir)
    val aPq = dir.resolve("a.parquet").toString
    val bPq = dir.resolve("b.parquet").toString
    (1 to 40).map(i => (i.toLong, s"document $i about topic ${i % 7} " +
        s"with words w${i % 5} v${i % 3} and tail t$i"))
      .toDF("id", "txt").write.parquet(aPq)
    (41 to 60).map(i => (i.toLong, s"appended text $i on subject " +
        s"${i % 4} carrying u${i % 6} and marker m$i"))
      .toDF("id", "txt").write.parquet(bPq)
    val idx = dir.resolve("lsh").toString
    def fromFile(pq: String, body: String): Unit = {
      Aql.run(spark,
        s"""CONNECTION 'D' (DRIVER = 'file', FILE = '$pq',
           |  FORMAT = 'parquet')
           |TRANSFORM 'T' FROM CONNECTION D (
           |  $body
           |) INTO CONSOLE""".stripMargin)
      ()
    }
    def maintain(verb: String): Seq[org.apache.spark.sql.Row] =
      Aql.run(spark,
        s"""DATA 'One' ([[1]]) WITH (COLUMNS = 'X')
           |TRANSFORM 'T' FROM BLOCK One (
           |  INDEX $verb '$idx'
           |) INTO CONSOLE""".stripMargin).outputs("T").collect().toSeq

    fromFile(aPq, s"INDEX ON txt KEY id METHOD LSH THRESHOLD 0.5 CELLS 8 " +
      s"INTO '$idx'")

    var described = Seq.empty[org.apache.spark.sql.Row]
    val describeJobs = jobsOf { described = maintain("DESCRIBE") }
    assert(described.nonEmpty &&
      described.forall(_.getAs[Boolean]("stats_served")))
    assert(describeJobs.isEmpty, describeJobs.mkString("; "))

    val manifestJobs = jobsOf { maintain("MANIFEST") }
    assert(manifestJobs.isEmpty, manifestJobs.mkString("; "))

    // right after a build every cell holds one file: nothing to compact
    var compacted = Seq.empty[org.apache.spark.sql.Row]
    val compactJobs = jobsOf { compacted = maintain("COMPACT") }
    assert(compacted.map(r => (r.getAs[Long]("files_before"),
      r.getAs[Long]("files_after"))).forall { case (b, a) => b == a })
    assert(compactJobs.isEmpty, compactJobs.mkString("; "))

    // the APPEND's jobs (source scan, checkpoint, the store writes) are
    // its batch's; the stats epilogue folds the writers' file reports
    // on the driver, so no job is launched from IndexMaintenance
    val appendJobs = jobsOf {
      fromFile(bPq, s"INDEX ON txt KEY id METHOD LSH INTO '$idx' APPEND")
    }
    val recounts = appendJobs.filter(_.contains("IndexMaintenance.scala"))
    assert(recounts.isEmpty, appendJobs.mkString("; "))
    assert(maintain("DESCRIBE").forall(_.getAs[Boolean]("stats_served")))
  }

  test("an API APPEND whose record commit fails leaves the prior version " +
      "served, deletes the batch's files and releases the lock; a re-run " +
      "APPEND succeeds") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, xxhash64}
    val dir = java.nio.file.Files.createTempDirectory("graft_recordfault")
    graft.queries.Advanced.registerTmpDir(dir)
    val aPq = dir.resolve("a.parquet").toString
    (1 to 40).map(i => (i.toLong, s"document $i about topic ${i % 7} " +
        s"with words w${i % 5} v${i % 3} and tail t$i"))
      .toDF("id", "txt").write.parquet(aPq)
    val idx = dir.resolve("lsh").toString
    def run(body: String, source: String =
        "DATA 'D' ([[1, \"x\"]]) WITH (COLUMNS = 'Id, Txt')"): Seq[Row] =
      Aql.run(spark, s"""$source
           |TRANSFORM 'T' FROM ${if (source.startsWith("DATA")) "BLOCK"
             else "CONNECTION"} D (
           |  $body
           |) INTO CONSOLE""".stripMargin).outputs("T").collect().toSeq
    // modulo stats_served — served vs VERIFY differ there by design
    def described(verify: String): Seq[String] =
      run(s"INDEX DESCRIBE '$idx'$verify").map(r =>
        r.schema.fieldNames.filterNot(_ == "stats_served")
          .map(f => r.getAs[Any](f)).mkString(",")).sorted
    def entries(verify: String): Long = run(s"INDEX DESCRIBE '$idx'$verify")
      .find(_.getAs[String]("store") == "shingles").get
      .getAs[Long]("entries")
    /** The data files under the index's stores, relative to it. */
    def stored(): Set[String] = {
      val root = java.nio.file.Paths.get(idx)
      val walk = java.nio.file.Files.walk(root)
      try walk.iterator.asScala.filter(p =>
          java.nio.file.Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet") &&
          !p.getFileName.toString.startsWith("."))
        .map(root.relativize(_).toString)
        .filterNot(_.startsWith("meta/")).toSet
      finally walk.close()
    }
    run(s"INDEX ON txt KEY id METHOD LSH THRESHOLD 0.5 CELLS 8 INTO '$idx'",
      s"CONNECTION 'D' (DRIVER = 'file', FILE = '$aPq', FORMAT = 'parquet')")
    val prior = graft.transforms.IndexManifest.read(spark, idx).get
    val priorFiles = stored()
    assert(priorFiles == prior.layout.values.flatMap(_.values)
      .flatMap(_.keys).toSet)

    val texts = (41 to 44).map(i => s"appended text $i on subject " +
      s"${i % 4} carrying u${i % 6} and marker m$i")
    val batch = graft.transforms.NearDup.shingled(
      texts.toDF("txt").select(xxhash64(col("txt")).as("th"), col("txt")),
      "th", "txt")
    val e = ManifestListingFs.using(spark) {
      ManifestListingFs.failCommits = true
      intercept[IllegalStateException](
        graft.transforms.NearDup.bandStoreAppend(idx, batch))
    }
    assert(e.getMessage.contains("cannot commit version 2"), e.getMessage)
    // the prior version is current and served, the batch's files are
    // gone, and the lock is released
    assert(graft.transforms.IndexManifest.read(spark, idx).contains(prior))
    assert(stored() == priorFiles)
    assert(IndexMaintenance.maintLockHolder(
      spark.sparkContext.hadoopConfiguration, idx) == "")
    assert(run(s"INDEX DESCRIBE '$idx'")
      .forall(_.getAs[Boolean]("stats_served")))
    assert(entries("") == 40L && entries(" VERIFY") == 40L)

    // the same batch appends on a re-run: the next version is committed,
    // served DESCRIBE equals VERIFY, and a probe sees the appended texts
    graft.transforms.NearDup.bandStoreAppend(idx, batch)
    assert(graft.transforms.IndexManifest.read(spark, idx).map(_.version)
      .contains(prior.version + 1))
    assert(entries("") == 44L)
    assert(described("") == described(" VERIFY"))
    val probeRows = (texts.zipWithIndex.map { case (t, i) =>
        s"[${100 + i}, \"$t\"]" } :+
      "[200, \"a sentence no stored document resembles in any way\"]")
      .mkString("[", ", ", "]")
    val kept = run("NEARDEDUP D AGAINST STORED '" + idx + "' ON Txt KEY Id " +
        "THRESHOLD 0.5 METHOD LSH",
      s"DATA 'D' ($probeRows) WITH (COLUMNS = 'Id, Txt')")
      .map(_.getLong(0))
    assert(kept == Seq(200L), kept)
    // with the record removed out-of-band, INDEX MANIFEST snapshots it in
    // one job, and DESCRIBE is served from it again
    org.apache.commons.io.FileUtils.deleteDirectory(
      java.nio.file.Paths.get(idx, "manifest").toFile)
    var restored = Seq.empty[Row]
    val manifestJobs = jobsOf { restored = run(s"INDEX MANIFEST '$idx'") }
    assert(manifestJobs.size == 1, manifestJobs.mkString("; "))
    assert(restored.head.getAs[Long]("version") == 1L)
    assert(run(s"INDEX DESCRIBE '$idx'")
      .forall(_.getAs[Boolean]("stats_served")))
    assert(entries("") == 44L)
  }

  /** Jobs of a CELLS 8 build, a verb APPEND, a COMPACT of the cells that
    * APPEND left with two files, a verb DELETE, and a stored probe of the
    * appended batch (built and collected), per index kind. The counts pin
    * the writers' job shape: eager checkpoints, one exchange per
    * exact-first collapse, DELETE's one routing collect (one job), one
    * write job set per store; no stats recount, as the writers report
    * what they wrote. The probe's pin holds its routing collects (one
    * job each) and candidate checkpoints. A failure prints each
    * statement's jobs by call site.
    */
  private val kindJobs = Seq(
    ("LSH", "METHOD LSH THRESHOLD 0.5 CELLS 8", Jobs(6, 6, 4, 9, 14),
      "NEARDEDUP D AGAINST STORED '%s' ON item KEY id THRESHOLD 0.5 " +
        "METHOD LSH"),
    ("TYPO", "METHOD TYPO CELLS 8", Jobs(6, 6, 4, 9, 14),
      "NEARDEDUP D AGAINST STORED '%s' ON item KEY id METHOD TYPO"),
    ("COSINE", "METHOD COSINE CELLS 8 TABLES 8 BITS 3",
      Jobs(9, 9, 4, 12, 16),
      "NEARDEDUP D AGAINST STORED '%s' ON item KEY id THRESHOLD 0.9 " +
        "METHOD COSINE"),
    ("IVF+PQ", "METHOD IVF CELLS 8 PQ 2", Jobs(19, 14, 4, 11, 16),
      "KNN ON item KEY id TOP 3 METHOD IVF PROBE 2 STORED '%s' ADC"))

  private case class Jobs(build: Int, append: Int, compact: Int,
      delete: Int, probe: Int)

  for ((kind, geometry, want, probe) <- kindJobs)
    test(s"$kind: build, APPEND, COMPACT and DELETE run the pinned jobs") {
      import spark.implicits._
      val dir = java.nio.file.Files.createTempDirectory("graft_kindjobs")
      graft.queries.Advanced.registerTmpDir(dir)
      def pq(name: String, ids: Range): String = {
        val p = dir.resolve(name).toString
        val text = kind == "LSH" || kind == "TYPO"
        if (text) ids.map(i => (i.toLong, s"entry $i on topic ${i % 7} " +
            s"with words w${i % 5} v${i % 3} and tail t$i"))
          .toDF("id", "item").write.parquet(p)
        else ids.map(i => (i.toLong, Array(math.sin(i.toDouble),
            math.cos(i * 0.7), (i % 5).toDouble, (i % 3) + 0.5)))
          .toDF("id", "item").write.parquet(p)
        p
      }
      val idx = dir.resolve("idx").toString
      val method = geometry.split(" ")(1)
      var out: org.apache.spark.sql.DataFrame = null
      def run(file: String, body: String): Unit = {
        out = Aql.run(spark,
          s"""CONNECTION 'D' (DRIVER = 'file', FILE = '$file',
             |  FORMAT = 'parquet')
             |TRANSFORM 'T' FROM CONNECTION D (
             |  $body
             |) INTO CONSOLE""".stripMargin).outputs("T")
      }
      val corpus = pq("a.parquet", 1 to 40)
      val batch = pq("b.parquet", 41 to 60)
      val gone = pq("c.parquet", 1 to 3)
      def rows(): Long = out.collect().head.getAs[Long]("indexed_rows")
      val build = jobsOf(
        run(corpus, s"INDEX ON item KEY id $geometry INTO '$idx'"))
      assert(rows() == 40L)
      val append = jobsOf(run(batch,
        s"INDEX ON item KEY id METHOD $method INTO '$idx' APPEND"))
      assert(rows() == 60L)
      val compact = jobsOf(run(corpus, s"INDEX COMPACT '$idx'"))
      val files = out.collect().head
      assert(files.getAs[Long]("files_after") <
        files.getAs[Long]("files_before"), files)
      val delete = jobsOf(run(gone,
        s"INDEX ON item KEY id METHOD $method INTO '$idx' DELETE"))
      assert(rows() == 57L)
      // every row of the appended batch is stored: the NEARDEDUP probes
      // keep none of them, and KNN serves each query its neighbours
      var probed = Seq.empty[Row]
      val probeJobs = jobsOf {
        run(batch, probe.format(idx))
        probed = out.collect().toSeq
      }
      if (kind == "IVF+PQ") assert(probed.nonEmpty)
      else assert(probed.isEmpty, probed)
      val got = Jobs(build.size, append.size, compact.size, delete.size,
        probeJobs.size)
      // each statement's jobs by call site, so a changed pin can be read
      // from the log
      val sites = Seq("build" -> build, "APPEND" -> append,
          "COMPACT" -> compact, "DELETE" -> delete, "probe" -> probeJobs)
        .map { case (st, js) => s"$st (${js.size}): ${js.mkString("; ")}" }
      assert(got == want, s"$kind jobs\n${sites.mkString("\n")}")
    }
}
