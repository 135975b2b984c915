package graft

import graft.engine.Aql
import graft.transforms.MetaParquet
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

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
  }

  test("a driver-written stats/ reads back through spark.read.parquet " +
      "with the columns, types, footer schema and rows Spark writes") {
    import spark.implicits._
    val dir = tmp("graft_metaparquet_stats")
    val rows = Seq(("bands", 0, 1L, 7L), ("bands", 3, 2L, 9L),
      ("shingles", 1, 1L, 4L))
    val bySpark = dir.resolve("spark_stats").toString
    rows.toDF("store", "cell", "files", "rows").coalesce(1)
      .write.parquet(bySpark)
    // the stats writer's own path: a verb build on a two-store artifact
    val idx = dir.resolve("lsh").toString
    val txtPq = dir.resolve("txt.parquet").toString
    (1 to 12).map(i => (i.toLong, s"short text $i about item ${i % 4} " +
        s"with word q$i")).toDF("id", "txt").write.parquet(txtPq)
    Aql.run(spark,
      s"""CONNECTION 'D' (DRIVER = 'file', FILE = '$txtPq',
         |  FORMAT = 'parquet')
         |TRANSFORM 'T' FROM CONNECTION D (
         |  INDEX ON txt KEY id METHOD LSH THRESHOLD 0.5 CELLS 4 INTO '$idx'
         |) INTO CONSOLE""".stripMargin)
    val byDriver = s"$idx/stats"
    val a = spark.read.parquet(byDriver)
    val b = spark.read.parquet(bySpark)
    assert(a.schema == b.schema)
    assert(a.schema.fieldNames.toSeq == Seq("store", "cell", "files", "rows"))
    def footer(d: String): org.apache.spark.sql.types.StructType = {
      val p = new Path(d)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val files = fs.listStatus(p).map(_.getPath)
        .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
      assert(files.length == 1, files.mkString(", "))
      MetaParquet.fileSchema(spark.sparkContext.hadoopConfiguration, files.head)
    }
    assert(footer(byDriver) == footer(bySpark))
    // the rows the driver wrote are the recount's, read back unchanged
    val truth = graft.transforms.IndexMaintenance.Stats.recount(spark, idx,
      Seq("bands" -> "pc", "shingles" -> "sc"))
      .toSeq.flatMap { case (s, cs) => cs.map { case (c, f, r) =>
        Row(s, c, f, r) } }
    assert(a.collect().toSet == truth.toSet)
    assert(MetaParquet.readRows(spark, byDriver).toSet == truth.toSet)
    // and the driver writer round-trips Spark-typed rows exactly
    val copy = dir.resolve("copy").toString
    MetaParquet.write(spark, copy, b.schema, b.collect().toSeq)
    assert(spark.read.parquet(copy).collect().toSet ==
      b.collect().toSet)
  }
}
