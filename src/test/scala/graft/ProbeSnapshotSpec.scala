package graft

import graft.engine.Aql
import graft.transforms.{IndexManifest, NearDup}
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, LocalFileSystem,
  Path}
import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

/** The local file system, counting the listings of any directory named
  * `manifest` — where a stored index keeps its layout record — and of
  * any cell directory (`<col>=<c>`), and recording the target path of
  * every rename. Armed, it fails the renames into `manifest/` (a
  * layout record commit that cannot land) or runs a hook before opening
  * a file.
  */
class ManifestListingFs extends LocalFileSystem {
  import ManifestListingFs._

  override def listStatus(f: Path): Array[FileStatus] = {
    if (f.getName == "manifest") listed.incrementAndGet()
    if (f.getName.matches("[A-Za-z_]\\w*=-?\\d+"))
      cellsListed.incrementAndGet()
    super.listStatus(f)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    renamed.add(dst.toUri.getPath)
    if (failCommits && dst.getParent.getName == "manifest") false
    else super.rename(src, dst)
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    beforeOpen(f)
    super.open(f, bufferSize)
  }
}

object ManifestListingFs {
  val listed = new AtomicInteger
  val cellsListed = new AtomicInteger
  val renamed = new ConcurrentLinkedQueue[String]
  @volatile var failCommits = false
  @volatile var beforeOpen: Path => Unit = _ => ()

  /** `body` with this file system serving the `file` scheme of `spark`'s
    * Hadoop conf and every counter reset.
    */
  def using[A](spark: SparkSession)(body: => A): A = {
    val conf = spark.sparkContext.hadoopConfiguration
    val keys = Seq("fs.file.impl", "fs.file.impl.disable.cache")
    val prior = keys.map(k => k -> Option(conf.get(k)))
    conf.set("fs.file.impl", classOf[ManifestListingFs].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    listed.set(0)
    cellsListed.set(0)
    renamed.clear()
    try body
    finally {
      failCommits = false
      beforeOpen = _ => ()
      prior.foreach {
        case (k, Some(v)) => conf.set(k, v)
        case (k, None) => conf.unset(k)
      }
    }
  }
}

/** A stored probe resolves every stage of its statement from one read of
  * the index's layout record: one `manifest/` listing per statement, and
  * a mutation committed after the probe was built does not change its
  * answer.
  */
class ProbeSnapshotSpec extends AnyFunSuite {
  import SparkTestSession._

  /** The `manifest/` listings made while `body` runs. */
  private def manifestListings(body: => Unit): Int =
    ManifestListingFs.using(spark) { body; ManifestListingFs.listed.get }

  test("each stored probe lists the layout record once per statement") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_probesnap")
    graft.queries.Advanced.registerTmpDir(dir)
    val text = dir.resolve("text.parquet").toString
    val vecs = dir.resolve("vecs.parquet").toString
    (1 to 40).map(i => (i.toLong, s"entry $i on topic ${i % 7} " +
        s"with words w${i % 5} v${i % 3} and tail t$i"))
      .toDF("id", "item").write.parquet(text)
    (1 to 40).map(i => (i.toLong, Array(math.sin(i.toDouble),
        math.cos(i * 0.7), (i % 5).toDouble, (i % 3) + 0.5)))
      .toDF("id", "item").write.parquet(vecs)
    def run(file: String, body: String): Seq[Row] = Aql.run(spark,
      s"""CONNECTION 'D' (DRIVER = 'file', FILE = '$file',
         |  FORMAT = 'parquet')
         |TRANSFORM 'T' FROM CONNECTION D (
         |  $body
         |) INTO CONSOLE""".stripMargin).outputs("T").collect().toSeq
    def idx(name: String): String = dir.resolve(name).toString
    run(text, s"INDEX ON item KEY id METHOD LSH THRESHOLD 0.5 CELLS 8 " +
      s"INTO '${idx("lsh")}'")
    run(text, s"INDEX ON item KEY id METHOD TYPO CELLS 8 INTO '${idx("typo")}'")
    run(vecs, "INDEX ON item KEY id METHOD COSINE CELLS 8 TABLES 8 BITS 3 " +
      s"INTO '${idx("cos")}'")
    run(vecs, s"INDEX ON item KEY id METHOD IVF CELLS 8 PQ 2 " +
      s"INTO '${idx("ivf")}'")
    // the corpus probes itself, so both stages of every probe route
    // candidates
    val probes = Seq(
      text -> (s"NEARDEDUP D AGAINST STORED '${idx("lsh")}' ON item KEY id " +
        "THRESHOLD 0.5 METHOD LSH"),
      text -> (s"KNN ON item KEY id TOP 3 METHOD JACCARD THRESHOLD 0.5 " +
        s"STORED '${idx("lsh")}'"),
      text -> (s"NEARDEDUP D AGAINST STORED '${idx("typo")}' ON item " +
        "KEY id METHOD TYPO"),
      vecs -> (s"NEARDEDUP D AGAINST STORED '${idx("cos")}' ON item KEY id " +
        "THRESHOLD 0.9 METHOD COSINE"),
      vecs -> s"KNN ON item KEY id TOP 3 METHOD LSH STORED '${idx("cos")}'",
      vecs -> (s"KNN ON item KEY id TOP 3 METHOD IVF PROBE 2 " +
        s"STORED '${idx("ivf")}'"),
      vecs -> (s"KNN ON item KEY id TOP 3 METHOD IVF PROBE 2 " +
        s"STORED '${idx("ivf")}' ADC"))
    val listed = probes.map { case (file, probe) =>
      probe -> manifestListings { run(file, probe) } }
    assert(listed.forall(_._2 == 1), listed.mkString("\n"))
  }

  test("a stored probe built before an APPEND answers from the version " +
      "it read, with a layout record and without one") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_probeappend")
    graft.queries.Advanced.registerTmpDir(dir)
    def shingled(docs: Seq[(Long, String)]) =
      NearDup.shingled(docs.toDF("id", "txt"), "id", "txt")
    def doc(i: Int): String = s"document $i about topic ${i % 7} with " +
      s"words w${i % 5} v${i % 3} and a tail that names t$i"
    val corpus = shingled((1 to 40).map(i => (i.toLong, doc(i))))
    val fresh = (41 to 44).map(i => (1000L + i, doc(i)))
    // one copy of a stored doc, and four docs only the APPEND stores
    val batch = shingled((100L, doc(1)) +: fresh)
    for (record <- Seq(true, false)) {
      val idx = dir.resolve(s"lsh_$record").toString
      NearDup.bandStoreTo(idx, corpus, 128, 32, 4, cells = 8)
      if (!record)
        IndexManifest.invalidate(spark.sparkContext.hadoopConfiguration, idx)
      def probe() = NearDup.minhashCrossMatchesStored(spark, idx, batch, 0.5)
      val built = probe()
      NearDup.bandStoreAppend(idx,
        shingled(fresh.map { case (id, t) => (id + 1000L, t) }))
      // the APPEND commits a record either way: without one, it first
      // snapshots the layout the probe read
      assert(IndexManifest.read(spark, idx).isDefined)
      def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
        df.collect().map(_.getLong(0)).toSeq.sorted
      assert(ids(built) == Seq(100L), s"record=$record")
      assert(ids(probe()) == (fresh.map(_._1) :+ 100L).sorted,
        s"record=$record")
    }
  }
}
