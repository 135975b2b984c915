package graft

import graft.engine.Aql
import graft.transforms.{IndexManifest, MetaParquet}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The driver-side metadata reader and writer against Spark's parquet
  * source: same rows, same schema, both directions.
  */
class MetaParquetSpec extends AnyFunSuite {
  import SparkTestSession._

  private def tmp(name: String): java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory(name)
    graft.queries.Advanced.registerTmpDir(d)
    d
  }

  private def assertSameAsSpark(meta: String): Unit = {
    val viaSpark = spark.read.parquet(meta).head()
    val viaDriver = MetaParquet.readRow(spark, meta)
    assert(viaDriver.schema == viaSpark.schema, meta)
    assert(viaDriver == viaSpark, meta)
  }

  test("driver-read meta equals spark.read.parquet(meta).head() for every " +
      "artifact kind and a legacy meta") {
    import spark.implicits._
    val dir = tmp("graft_metaparquet")
    val txtPq = dir.resolve("txt.parquet").toString
    val embPq = dir.resolve("emb.parquet").toString
    (1 to 24).map(i => (i.toLong, s"note number $i on theme ${i % 5} " +
        s"with token k${i % 3} and end e$i"))
      .toDF("id", "txt").write.parquet(txtPq)
    (1 to 24).map { i =>
      val a = 2 * math.Pi * i / 24
      (i.toLong, Array(math.cos(a), math.sin(a), math.cos(2 * a),
        math.sin(2 * a)))
    }.toDF("vid", "emb").write.parquet(embPq)
    def index(pq: String, body: String): Unit = {
      Aql.run(spark,
        s"""CONNECTION 'D' (DRIVER = 'file', FILE = '$pq',
           |  FORMAT = 'parquet')
           |TRANSFORM 'T' FROM CONNECTION D (
           |  $body
           |) INTO CONSOLE""".stripMargin)
      ()
    }
    val built = Seq(
      "lsh" -> (txtPq, "ON txt KEY id METHOD LSH THRESHOLD 0.5 CELLS 4"),
      "typo" -> (txtPq, "ON txt KEY id METHOD TYPO CELLS 4"),
      "cosine" -> (embPq, "ON emb KEY vid METHOD COSINE CELLS 4 TABLES 4 " +
        "BITS 2"),
      "ivf" -> (embPq, "ON emb KEY vid METHOD IVF CELLS 2"),
      "ivfpq" -> (embPq, "ON emb KEY vid METHOD IVF CELLS 2 PQ 2 PQCODES 4"))
    for ((name, (pq, opts)) <- built) {
      val idx = dir.resolve(name).toString
      index(pq, s"INDEX $opts INTO '$idx'")
      assertSameAsSpark(s"$idx/meta")
    }
    // a pre-kind artifact's meta, written by Spark: no kind,
    // shingle_scheme or derived column
    val legacy = dir.resolve("legacy_meta").toString
    Seq((4, 128, 32, 4)).toDF("cells", "num_perm", "num_bands",
      "rows_per_band").coalesce(1).write.parquet(legacy)
    assertSameAsSpark(legacy)
    assert(!MetaParquet.readRow(spark, legacy).schema.fieldNames
      .exists(Set("kind", "shingle_scheme", "derived")))
    // and the driver writer round-trips Spark-typed rows exactly
    val rows = Seq(("bands", 0, 1L, 7L), ("bands", 3, 2L, 9L),
      ("shingles", 1, 1L, 4L)).toDF("store", "cell", "files", "rows")
    val copy = dir.resolve("copy").toString
    MetaParquet.write(spark, copy, rows.schema, rows.collect().toSeq)
    assert(spark.read.parquet(copy).collect().toSet == rows.collect().toSet)
  }

  test("the layout record round-trips: each line's rows equal its file's " +
      "footer rows, a rowless v1-format file reads as absent, a garbage " +
      "header errors naming INDEX MANIFEST") {
    import spark.implicits._
    val dir = tmp("graft_metaparquet_record")
    val txtPq = dir.resolve("txt.parquet").toString
    val morePq = dir.resolve("more.parquet").toString
    (1 to 12).map(i => (i.toLong, s"short text $i about item ${i % 4} " +
        s"with word q$i")).toDF("id", "txt").write.parquet(txtPq)
    (13 to 18).map(i => (i.toLong, s"later text $i about thing ${i % 3} " +
        s"with word z$i")).toDF("id", "txt").write.parquet(morePq)
    val idx = dir.resolve("lsh").toString
    def run(pq: String, body: String): Seq[Row] =
      Aql.run(spark,
        s"""CONNECTION 'D' (DRIVER = 'file', FILE = '$pq',
           |  FORMAT = 'parquet')
           |TRANSFORM 'T' FROM CONNECTION D (
           |  $body
           |) INTO CONSOLE""".stripMargin).outputs("T").collect().toSeq
    run(txtPq, s"INDEX ON txt KEY id METHOD LSH THRESHOLD 0.5 CELLS 4 " +
      s"INTO '$idx'")
    run(morePq, s"INDEX ON txt KEY id METHOD LSH INTO '$idx' APPEND")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(idx).getFileSystem(conf)
    def footerRows(p: Path): Long = {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
      try r.getRecordCount finally r.close()
    }
    def versionFile(v: Long): java.nio.file.Path =
      java.nio.file.Paths.get(idx, "manifest", f"v$v%016d.txt")
    // the build's v1 and the append's v2: the current file on disk
    val text = java.nio.file.Files.readAllLines(versionFile(2)).asScala.toSeq
    assert(text.head == "graft-index-manifest 2", text.head)
    val lines = text.tail.map { l =>
      val Array(rel, rows) = l.split('\t')
      rel -> rows.toLong
    }
    // every visible data file of both stores, each once, with its rows
    val onDisk = for ((sub, pcol) <- Seq("bands" -> "pc", "shingles" -> "sc");
        cell <- fs.listStatus(new Path(idx, sub)).toSeq
          if cell.getPath.getName.startsWith(s"$pcol=");
        f <- fs.listStatus(cell.getPath).toSeq
          if MetaParquet.visible(f.getPath.getName))
      yield s"$sub/${cell.getPath.getName}/${f.getPath.getName}" ->
        footerRows(f.getPath)
    assert(lines.sorted == onDisk.sorted)
    assert(lines.map(_._1) == lines.map(_._1).sorted)
    assert(lines.exists(_._2 > 1))
    // the reader's layout is the same lines, grouped by store and cell
    val rec = IndexManifest.read(spark, idx).get
    assert(rec.version == 2L && rec.files == lines.size)
    assert(rec.layout.toSeq.flatMap(_._2.toSeq.flatMap(_._2)).sorted ==
      lines.sorted)
    // a file in the rowless format reads as absent: probes use the live
    // layout and DESCRIBE recounts
    java.nio.file.Files.writeString(versionFile(3),
      ("graft-index-manifest 1" +: lines.map(_._1)).mkString("", "\n", "\n"))
    assert(IndexManifest.read(spark, idx).isEmpty)
    val described = run(txtPq, s"INDEX DESCRIBE '$idx'")
    assert(described.forall(r => !r.getAs[Boolean]("stats_served") &&
      r.getAs[Long]("manifest_version") == 0L), described)
    // any other header is an error naming the recovery statement
    java.nio.file.Files.writeString(versionFile(4), "graft-index-manifest 9\n")
    val e = intercept[IndexManifest.Malformed](IndexManifest.read(spark, idx))
    assert(e.getMessage.contains("malformed") &&
      e.getMessage.contains(s"INDEX MANIFEST '$idx'"), e.getMessage)
    // which snapshots the live layout as the next version: the same lines
    val snap = run(txtPq, s"INDEX MANIFEST '$idx'").head
    assert(snap.getAs[Long]("version") == 5L)
    assert(java.nio.file.Files.readAllLines(versionFile(5)).asScala.toSeq ==
      text)
  }
}
