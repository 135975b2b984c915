package graft

import graft.engine.Aql
import graft.transforms.IndexManifest
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The layout record is the commit of every stored-index write: a
  * statement renames exactly once, its record version into `manifest/`,
  * and APPEND and DELETE find their cells' files in the record instead
  * of listing cell directories. Counted with [[ManifestListingFs]].
  */
class RecordCommitSpec extends AnyFunSuite {
  import SparkTestSession._

  /** The IVF side tables, written by `DataFrameWriter` and its committer
    * — not cell stores, and not listed in the record.
    */
  private val sideTables = Set("centroids", "supers", "codebook")

  /** What `body` did to the file system of the index at `idx`: the
    * directories its renames moved into (a side table's committer renames
    * counted apart, under the table's name), and its cell-directory
    * listings.
    */
  private def calls(idx: String)(body: => Unit): Calls =
    ManifestListingFs.using(spark) {
      body
      val (side, own) = ManifestListingFs.renamed.asScala.toSeq
        .partition(p => sideTables.exists(t => p.startsWith(s"$idx/$t")))
      Calls(own.map(p => new Path(p).getParent.getName),
        side.map(_.stripPrefix(s"$idx/").takeWhile(_ != '/')).distinct.sorted,
        ManifestListingFs.cellsListed.get)
    }

  private case class Calls(renamedInto: Seq[String], sideTables: Seq[String],
      cellListings: Int)

  private def statement(body: String, file: Option[String] = None): Unit = {
    val source = file match {
      case Some(f) =>
        s"""CONNECTION 'D' (DRIVER = 'file', FILE = '$f',
           |  FORMAT = 'parquet')
           |TRANSFORM 'T' FROM CONNECTION D (""".stripMargin
      case None =>
        """DATA 'One' ([[1]]) WITH (COLUMNS = 'X')
          |TRANSFORM 'T' FROM BLOCK One (""".stripMargin
    }
    Aql.run(spark, s"$source\n  $body\n) INTO CONSOLE").outputs("T")
      .collect()
    ()
  }

  private val kinds = Seq(
    ("LSH", "METHOD LSH THRESHOLD 0.5 CELLS 8"),
    ("TYPO", "METHOD TYPO CELLS 8"),
    ("COSINE", "METHOD COSINE CELLS 8 TABLES 8 BITS 3"),
    ("IVF+PQ", "METHOD IVF CELLS 8 PQ 2"))

  for ((kind, geometry) <- kinds)
    test(s"$kind: build, APPEND, DELETE and COMPACT each rename once, " +
        "into manifest/; APPEND and DELETE list no cell directory") {
      import spark.implicits._
      val dir = java.nio.file.Files.createTempDirectory("graft_recordcommit")
      graft.queries.Advanced.registerTmpDir(dir)
      val text = kind == "LSH" || kind == "TYPO"
      def items(name: String, ids: Range): String = {
        val p = dir.resolve(name).toString
        if (text) ids.map(i => (i.toLong, s"entry $i on topic ${i % 7} " +
            s"with words w${i % 5} v${i % 3} and tail t$i"))
          .toDF("id", "item").write.parquet(p)
        else ids.map(i => (i.toLong, Array(math.sin(i.toDouble),
            math.cos(i * 0.7), (i % 5).toDouble, (i % 3) + 0.5)))
          .toDF("id", "item").write.parquet(p)
        p
      }
      val corpus = items("a.parquet", 1 to 40)
      val batch = items("b.parquet", 41 to 60)
      val gone = items("c.parquet", 1 to 3)
      val idx = dir.resolve("idx").toString
      val method = geometry.split(" ")(1)
      val got = Seq(
        "build" -> calls(idx)(statement(
          s"INDEX ON item KEY id $geometry INTO '$idx'", Some(corpus))),
        "APPEND" -> calls(idx)(statement(
          s"INDEX ON item KEY id METHOD $method INTO '$idx' APPEND",
          Some(batch))),
        "DELETE" -> calls(idx)(statement(
          s"INDEX ON item KEY id METHOD $method INTO '$idx' DELETE",
          Some(gone))),
        "COMPACT" -> calls(idx)(statement(s"INDEX COMPACT '$idx'")))
      val table = got.map { case (s, c) => s"$s: $c" }.mkString("\n")
      info(table)
      for ((step, c) <- got) {
        assert(c.renamedInto == Seq("manifest"), s"$kind $step\n$table")
        if (step == "APPEND" || step == "DELETE")
          assert(c.cellListings == 0, s"$kind $step\n$table")
      }
      // the IVF build's side tables still commit through DataFrameWriter
      val side = if (kind == "IVF+PQ") Seq("centroids", "codebook") else Nil
      assert(got.head._2.sideTables == side, table)
      assert(got.tail.forall(_._2.sideTables.isEmpty), table)
      assert(IndexManifest.read(spark, idx).map(_.version).contains(4L))
    }

  test("a record read whose listed version vanishes re-lists and returns " +
      "the newer version a commit left") {
    val dir = java.nio.file.Files.createTempDirectory("graft_recordrelist")
    graft.queries.Advanced.registerTmpDir(dir)
    val idx = dir.resolve("idx").toString
    val layout: IndexManifest.Layout =
      Map("bands" -> Map(3 -> Map("bands/pc=3/part-00003-a.c000.parquet" -> 7L)))
    val newer: IndexManifest.Layout = layout.map { case (s, cells) =>
      s -> (cells + (5 -> Map("bands/pc=5/part-00005-b.c000.parquet" -> 2L))) }
    IndexManifest.commit(spark, idx, 1, layout)
    val opened = new java.util.concurrent.atomic.AtomicInteger
    val read = ManifestListingFs.using(spark) {
      // a writer commits v2 and deletes v1 between the reader's listing
      // and its open of v1
      ManifestListingFs.beforeOpen = { p =>
        if (p.getName.startsWith("v") && opened.getAndIncrement() == 0) {
          ManifestListingFs.beforeOpen = _ => ()
          IndexManifest.commit(spark, idx, 2, newer)
          val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          assert(fs.delete(p, false))
        }
      }
      val r = IndexManifest.read(spark, idx)
      assert(ManifestListingFs.listed.get == 2)
      r
    }
    assert(opened.get == 1)
    assert(read.map(_.version).contains(2L), read)
    assert(read.map(_.layout).contains(newer), read)
  }
}
