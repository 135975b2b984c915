package graft

import graft.engine.Aql
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** Spark jobs per INDEX statement: metadata (`meta/`, `stats/`) is read
  * and written on the driver, so the statements that only touch metadata
  * launch no job, and a mutation's stats epilogue folds its writers' file
  * reports without one.
  */
class IndexJobsSpec extends AnyFunSuite {
  import SparkTestSession._

  /** Names (call sites) of the jobs `body` launches. */
  private def jobsOf(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(e.stageInfos.sortBy(_.stageId).lastOption
          .map(_.name).getOrElse(""))
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try { body; ListenerBusDrain(sc) }
    finally sc.removeSparkListener(listener)
    seen.asScala.toSeq
  }

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

  /** Jobs of a CELLS 8 build, a verb APPEND, a COMPACT of the cells that
    * APPEND left with two files, and a verb DELETE, per index kind. The
    * counts pin the writers' job shape: eager checkpoints, DELETE's one
    * routing collect, one write job set per store; no stats recount, as
    * the writers report what they wrote.
    */
  private val kindJobs = Seq(
    ("LSH", "METHOD LSH THRESHOLD 0.5 CELLS 8", Jobs(9, 9, 5, 15)),
    ("TYPO", "METHOD TYPO CELLS 8", Jobs(9, 9, 5, 15)),
    ("COSINE", "METHOD COSINE CELLS 8 TABLES 8 BITS 3", Jobs(14, 14, 5, 20)),
    ("IVF+PQ", "METHOD IVF CELLS 8 PQ 2", Jobs(20, 17, 5, 14)))

  private case class Jobs(build: Int, append: Int, compact: Int,
      delete: Int)

  for ((kind, geometry, want) <- kindJobs)
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
        run(corpus, s"INDEX ON item KEY id $geometry INTO '$idx'")).size
      assert(rows() == 40L)
      val append = jobsOf(run(batch,
        s"INDEX ON item KEY id METHOD $method INTO '$idx' APPEND")).size
      assert(rows() == 60L)
      val compact = jobsOf(run(corpus, s"INDEX COMPACT '$idx'")).size
      val files = out.collect().head
      assert(files.getAs[Long]("files_after") <
        files.getAs[Long]("files_before"), files)
      val delete = jobsOf(run(gone,
        s"INDEX ON item KEY id METHOD $method INTO '$idx' DELETE")).size
      assert(rows() == 57L)
      val got = Jobs(build, append, compact, delete)
      assert(got == want, s"$kind jobs")
    }
}
