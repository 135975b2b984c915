package graft

import graft.engine.Aql
import graft.transforms.MetaParquet
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Parquet sources take their schema from one footer read on the driver
  * ([[MetaParquet.footerSchema]]): the schema Spark's own inference
  * gives, and no Spark job to get it.
  */
class FooterSchemaSpec extends AnyFunSuite {
  import SparkTestSession._

  private val sf =
    java.nio.file.Paths.get(sfDir).resolveSibling("sf0.01").toString

  private def tmp(name: String): Path = {
    val d = Files.createTempDirectory(name)
    graft.queries.Advanced.registerTmpDir(d)
    d
  }

  /** The footer schema is found (no fallback), and a reader given it
    * sees what Spark's inference sees.
    */
  private def sameAsInferred(path: String): Unit = {
    assert(MetaParquet.footerSchema(spark, Seq(path)).isDefined, path)
    assert(MetaParquet.scan(spark, path).schema ==
      spark.read.parquet(path).schema, path)
  }

  test("the footer schema of every test table equals Spark's inferred " +
      "schema, events' nanosecond timestamps included") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Tables.names.foreach(n => sameAsInferred(s"$sf/$n.parquet"))
  }

  test("a Spark-written directory of several files with _SUCCESS and " +
      ".crc files, and a Hive-partitioned one, read as Spark infers them") {
    val dir = tmp("graft_footer")
    val rows = spark.range(0, 90).select(col("id"),
      (col("id") * 1.5).as("x"), concat(lit("t"), col("id")).as("s"),
      pmod(col("id"), lit(3)).cast("int").as("p"))
    val flat = dir.resolve("flat").toString
    rows.repartition(3).write.parquet(flat)
    val names = Files.list(Paths.get(flat)).iterator.asScala
      .map(_.getFileName.toString).toSeq
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")) &&
      names.count(_.endsWith(".parquet")) > 1, names)
    sameAsInferred(flat)

    val parted = dir.resolve("parted").toString
    rows.write.partitionBy("p").parquet(parted)
    sameAsInferred(parted)
    assert(MetaParquet.scan(spark, parted).schema.fieldNames.last == "p")
    assert(MetaParquet.scan(spark, parted).where(col("p") === 1).count() ==
      30L)
  }

  test("with spark.sql.parquet.mergeSchema on, the schema is Spark's " +
      "merged inference") {
    val dir = tmp("graft_footer_merge").resolve("m").toString
    spark.range(0, 5).select(col("id")).write.parquet(dir)
    spark.range(5, 10).select(col("id"), (col("id") * 2).as("y"))
      .write.mode("append").parquet(dir)
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try {
      assert(MetaParquet.footerSchema(spark, Seq(dir)).isEmpty)
      assert(MetaParquet.scan(spark, dir).schema.fieldNames.toSeq ==
        Seq("id", "y"))
    } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
    assert(MetaParquet.footerSchema(spark, Seq(dir)).isDefined)
  }

  test("loading the ten test tables runs no Spark job") {
    val jobs = SparkJobs.of(spark) {
      Tables.names.foreach(n => Tables.load(spark, sf, n).schema)
    }
    assert(jobs.isEmpty, jobs.mkString("; "))
  }

  test("building an AQL script with a parquet CONNECTION and a QUERY " +
      "runs no Spark job") {
    val pq = s"$sf/customer.parquet"
    var out: org.apache.spark.sql.DataFrame = null
    // test mode builds every block and writes no destination: the
    // console render's own job is the delivery's, not the build's
    val jobs = SparkJobs.of(spark) {
      out = Aql.run(spark,
        s"""CONNECTION 'C' (DRIVER = 'file', FILE = '$pq',
           |  FORMAT = 'parquet')
           |QUERY 'Q' FROM CONNECTION C (
           |  SELECT c_custkey, c_name FROM C WHERE c_custkey <= 10
           |) INTO CONSOLE""".stripMargin, testMode = true).outputs("Q")
    }
    assert(jobs.isEmpty, jobs.mkString("; "))
    assert(out.count() == Tables.load(spark, sf, "customer")
      .where(col("c_custkey") <= 10).count())
  }

  /** Each `.parquet(` of a read chain in `code` whose chain gives no
    * `.schema(`, as its line number. A chain is the text back to the
    * nearest `read`/`readStream`/`write`/`writeStream`; comment lines
    * are skipped.
    */
  private def schemaless(code: String): Seq[Int] = {
    val lines = code.linesIterator.map { l =>
      val t = l.trim
      if (t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")) ""
      else l.split(" // ").head
    }.toVector
    val text = lines.mkString("\n")
    val verb = """\b(readStream|read|writeStream|write)\b""".r
    """\.parquet\(""".r.findAllMatchIn(text).flatMap { m =>
      val before = text.substring(0, m.start)
      verb.findAllMatchIn(before).toSeq.lastOption
        .filter(v => v.group(1).startsWith("read") &&
          !before.substring(v.start).contains(".schema("))
        .map(_ => before.count(_ == '\n') + 1)
    }.toSeq
  }

  test("the schema-less read detector flags reads, not writes or reads " +
      "given a schema") {
    val code =
      """val a = spark.read.parquet(p)
        |df.write.mode("overwrite").parquet(p)
        |val b = spark.read.option("basePath", r)
        |  .schema(s).parquet(ps: _*)
        |/** `spark.read.parquet(dir)` in a doc comment */
        |val c = s.readStream.schema(t)
        |  .option("x", "1").parquet(d)
        |val e = spark.read
        |  .option("basePath", r).parquet(ps: _*)""".stripMargin
    assert(schemaless(code) == Seq(1, 9))
  }

  test("outside MetaParquet, every parquet read in src/main gives its " +
      "schema") {
    val walk = Files.walk(Paths.get("src/main/scala"))
    val files = try walk.iterator.asScala.filter(p =>
        p.toString.endsWith(".scala") &&
          p.getFileName.toString != "MetaParquet.scala").toVector
      finally walk.close()
    assert(files.size > 20, files)
    val offenders = files.flatMap(f =>
      schemaless(Files.readString(f)).map(n => s"$f:$n"))
    assert(offenders.isEmpty,
      "read through MetaParquet.scan or the stored-probe reader " +
        "(CellStore.snapshot): " +
        offenders.mkString(", "))
  }
}
