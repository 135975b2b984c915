package graft

import graft.engine.Aql
import graft.transforms.{CellStore, IndexMaintenance, IndexManifest,
  MetaParquet}
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
import scala.jdk.CollectionConverters._

/** Throws once, on the second evaluation for the marked id: the first is
  * an APPEND's batch checkpoint, the second a store leg's write job.
  */
object FaultOnce {
  @volatile var marked = -1L
  val seen = new AtomicInteger(0)
  val fired = new AtomicBoolean(false)

  def arm(id: Long): Unit = { marked = id; seen.set(0); fired.set(false) }

  def pass(id: Long, x: Double): Double = {
    if (id == marked && seen.incrementAndGet() == 2 &&
        fired.compareAndSet(false, true))
      throw new IllegalStateException("injected write failure")
    x
  }
}

/** The cell-store writer: task-side files under hidden names, published
  * by rename, reported with their row counts — and the layout record,
  * touched cells and artifacts built from those reports.
  */
class CellStoreSpec extends AnyFunSuite {
  import SparkTestSession._

  private def conf = spark.sparkContext.hadoopConfiguration

  private def tmp(name: String): java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory(name)
    graft.queries.Advanced.registerTmpDir(d)
    d
  }

  /** Every file and directory under `dir`, relative to it. */
  private def entries(dir: String): Set[String] = {
    val root = java.nio.file.Paths.get(dir)
    val walk = java.nio.file.Files.walk(root)
    try walk.iterator.asScala.map(root.relativize(_).toString).toSet
    finally walk.close()
  }

  /** Entries a writer must not leave under `dir` (the cell stores of an
    * artifact of `kind` when given): pending files and committer trees.
    */
  private def leftovers(dir: String, kind: Option[String] = None)
      : Set[String] = {
    val stores = kind.map(CellStore.storesFor(_, "spec").map(_._1))
    entries(dir).filter(e => stores.forall(_.contains(e.split('/').head)))
      .filter(e => e.contains(".pending-") ||
        e.split('/').exists(n => n == "_temporary" || n == "_SUCCESS"))
  }

  private def footerRows(file: String): Long = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(file),
      conf))
    try r.getRecordCount finally r.close()
  }

  /** Every visible data file of each store with its footer row count,
    * from the files on disk: what the artifact's layout record must list.
    */
  private def onDisk(idx: String, kind: String): IndexManifest.Layout = {
    val fs = new Path(idx).getFileSystem(conf)
    CellStore.storesFor(kind, "spec").map { case (sub, cellCol) =>
      sub -> CellStore.listCells(fs, new Path(idx, sub), cellCol).map {
        case (c, files) =>
          c -> files.filter(st => MetaParquet.visible(st.getPath.getName))
            .map(st => s"$sub/$cellCol=$c/${st.getPath.getName}" ->
              footerRows(st.getPath.toString)).toMap
      }.filter(_._2.nonEmpty).toMap
    }.filter(_._2.nonEmpty).toMap
  }

  private def statement(body: String, file: Option[String] = None)
      : DataFrame = {
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
  }

  private def describe(idx: String, verify: Boolean): Seq[String] =
    statement(s"INDEX DESCRIBE '$idx'" + (if (verify) " VERIFY" else ""))
      .drop("stats_served").collect().map(_.toString).sorted.toSeq

  /** `ids` as (id, item) rows: texts for the text kinds, 4-d vectors
    * for the vector kinds.
    */
  private def items(dir: java.nio.file.Path, name: String, text: Boolean,
      ids: Seq[Int]): String = {
    import spark.implicits._
    val p = dir.resolve(name).toString
    if (text) ids.map(i => (i.toLong, s"entry $i on topic ${i % 7} " +
        s"with words w${i % 5} v${i % 3} and tail t$i"))
      .toDF("id", "item").write.parquet(p)
    else ids.map(i => (i.toLong, vector(i))).toDF("id", "item")
      .write.parquet(p)
    p
  }

  private def vector(i: Int): Array[Double] =
    Array(math.sin(i.toDouble), math.cos(i * 0.7), (i % 5).toDouble,
      (i % 3) + 0.5)

  test("writeCells publishes one file per cell, reported with its footer " +
      "row count; pending files stay hidden until published") {
    val dir = tmp("graft_cellstore_w")
    val rows = spark.range(0, 200).select(col("id"),
      (col("id") * 3).as("x"), pmod(col("id"), lit(7)).cast("int").as("c"))

    val shipped = CellStore.writeConf(spark)
    val pending =
      try CellStore.writePending(rows, s"$dir/p", "c", 4, "stmt", shipped)
      finally shipped.destroy()
    assert(pending.map(_.cell).sorted == (0 until 7))
    assert(pending.map(_.rows).sum == 200L)
    val hidden = entries(s"$dir/p").filter(_.contains(".parquet"))
    assert(hidden.nonEmpty && hidden.forall(e =>
      !MetaParquet.visible(e.split('/').last)), hidden)

    val files = CellStore.writeCells(rows, s"$dir/w", "c", 4)
    assert(files.map(_._1).sorted == (0 until 7))
    for ((c, f, n) <- files) {
      val p = new Path(f)
      assert(p.getParent.getName == s"c=$c", f)
      assert(p.getName.matches("part-\\d{5}-[0-9a-f-]{36}\\.c000\\..*parquet"),
        f)
      assert(footerRows(f) == n, f)
    }
    assert(files.map(_._3).sum == 200L)
    assert(leftovers(s"$dir/w").isEmpty, leftovers(s"$dir/w"))
    val back = spark.read.parquet(s"$dir/w").select("id", "x", "c")
    assert(back.collect().map(_.toString).sorted.toSeq ==
      rows.collect().map(_.toString).sorted.toSeq)

    // the footer schema DataFrameWriter gives the same rows
    rows.repartition(4, col("c")).write.partitionBy("c")
      .parquet(s"$dir/dfw")
    val dfw = entries(s"$dir/dfw").filter(e =>
      e.endsWith(".parquet") && MetaParquet.visible(e.split('/').last)).head
    assert(MetaParquet.fileSchema(conf, new Path(s"$dir/dfw/$dfw")) ==
      MetaParquet.fileSchema(conf, new Path(files.head._2)))
  }

  private val kinds = Seq(
    ("LSH", "lsh_text", "METHOD LSH THRESHOLD 0.5 CELLS 8"),
    ("TYPO", "typo_text", "METHOD TYPO CELLS 8"),
    ("COSINE", "cosine_vec", "METHOD COSINE CELLS 8 TABLES 8 BITS 3"),
    ("IVF+PQ", "ivf_vec", "METHOD IVF CELLS 8 PQ 2"))

  for ((name, kind, geometry) <- kinds)
    test(s"$name: after build, APPEND, DELETE and COMPACT the stats match " +
        "the files' footers, no pending file is left and DESCRIBE equals " +
        "VERIFY") {
      val dir = tmp("graft_cellstore_k")
      val text = name == "LSH" || name == "TYPO"
      val corpus = items(dir, "a.parquet", text, 1 to 40)
      val batch = items(dir, "b.parquet", text, 41 to 60)
      val gone = items(dir, "c.parquet", text, 1 to 3)
      val idx = dir.resolve("idx").toString
      val method = geometry.split(" ")(1)
      def check(step: String): Unit = {
        assert(leftovers(idx, Some(kind)).isEmpty,
          s"$step: ${leftovers(idx, Some(kind))}")
        assert(IndexManifest.read(spark, idx).map(_.layout).contains(
          onDisk(idx, kind)), step)
        assert(describe(idx, verify = false) == describe(idx, verify = true),
          step)
      }
      statement(s"INDEX ON item KEY id $geometry INTO '$idx'", Some(corpus))
        .collect()
      check("build")
      statement(s"INDEX ON item KEY id METHOD $method INTO '$idx' APPEND",
        Some(batch)).collect()
      check("APPEND")
      statement(s"INDEX ON item KEY id METHOD $method INTO '$idx' DELETE",
        Some(gone)).collect()
      check("DELETE")
      val compacted = statement(s"INDEX COMPACT '$idx'").collect().head
      assert(compacted.getAs[Long]("files_after") <
        compacted.getAs[Long]("files_before"), compacted)
      assert(compacted.getAs[Long]("files_after") ==
        onDisk(idx, kind).values.flatMap(_.values).map(_.size.toLong).sum,
        compacted)
      check("COMPACT")
    }

  test("IVF+PQ: an APPEND whose batch throws in one task of a store's " +
      "write publishes nothing, leaves no pending file and releases the " +
      "lock") {
    import spark.implicits._
    val dir = tmp("graft_cellstore_f")
    val corpus = items(dir, "a.parquet", text = false, 1 to 40)
    val idx = dir.resolve("idx").toString
    statement(s"INDEX ON item KEY id METHOD IVF CELLS 8 PQ 2 INTO '$idx'",
      Some(corpus)).collect()
    // the VERIFY rows apart from manifest_version: a statement that
    // failed before publishing recommits the prior layout record
    def verifiedRows(): Seq[String] =
      statement(s"INDEX DESCRIBE '$idx' VERIFY")
        .drop("stats_served", "manifest_version").collect()
        .map(_.toString).sorted.toSeq
    val verified = verifiedRows()
    val stored = entries(idx).filter(e =>
      e.startsWith("index") || e.startsWith("codes"))
    val prior = IndexManifest.read(spark, idx).get

    FaultOnce.arm(45L)
    val boom = udf((id: Long, x: Double) => FaultOnce.pass(id, x))
      .asNondeterministic()
    val v = (41 to 60).map(i => (i.toLong, vector(i))).toDF("vec_id", "v")
    val batch = v.withColumn("nrm",
      boom(col("vec_id"), graft.functions.Vectors.l2norm(col("v"))))
    val e = intercept[Exception](
      graft.queries.Similarity.ivfStoreAppend(idx, batch))
    assert(FaultOnce.fired.get, e.toString)
    // the failure came from a store leg's write job, not the checkpoint
    assert(e.getStackTrace.exists(_.getMethodName == "writePending"), e)

    assert(entries(idx).filter(e =>
      e.startsWith("index") || e.startsWith("codes")) == stored)
    assert(verifiedRows() == verified)
    // nothing was published, so the prior layout is still exact: it is
    // recommitted as the next version, and DESCRIBE is served from it
    val kept = IndexManifest.read(spark, idx)
    assert(kept.map(_.layout).contains(prior.layout), kept)
    assert(kept.map(_.version).contains(prior.version + 1), kept)
    assert(statement(s"INDEX DESCRIBE '$idx'").collect()
      .forall(_.getAs[Boolean]("stats_served")))
    assert(IndexMaintenance.maintLockHolder(conf, idx) == "")

    // the lock is free and the artifact whole: the same batch appends
    val appended = graft.queries.Similarity.ivfStoreAppend(idx,
      v.withColumn("nrm", graft.functions.Vectors.l2norm(col("v"))))
    assert(appended.keySet == Set("index", "codes"), appended)
    assert(leftovers(idx, Some("ivf_vec")).isEmpty)
    assert(statement(s"INDEX DESCRIBE '$idx' VERIFY").collect()
      .find(_.getAs[String]("store") == "index").get
      .getAs[Long]("entries") == 60L)
  }

  test("an artifact whose stores a DataFrameWriter wrote (with _SUCCESS) " +
      "answers probes as a fresh one after APPEND, DELETE and COMPACT") {
    val dir = tmp("graft_cellstore_c")
    val corpus = items(dir, "a.parquet", text = true, 1 to 40)
    val batch = items(dir, "b.parquet", text = true, 41 to 60)
    val gone = items(dir, "c.parquet", text = true, 1 to 3)
    val probe = items(dir, "p.parquet", text = true, (1 to 8) ++ (41 to 48))
    val fresh = dir.resolve("fresh").toString
    val legacy = dir.resolve("legacy").toString
    for (idx <- Seq(fresh, legacy))
      statement(s"INDEX ON item KEY id METHOD LSH THRESHOLD 0.5 CELLS 8 " +
        s"INTO '$idx'", Some(corpus)).collect()
    // rewrite the legacy stores as the DataFrameWriter and its committer
    // wrote them: part-<task>-<uuid>.c000 names, a _SUCCESS marker
    val stores = CellStore.storesFor("lsh_text", "spec")
    for ((sub, cellCol) <- stores) {
      val rows = spark.read.parquet(s"$legacy/$sub").localCheckpoint()
      rows.repartition(8, col(cellCol)).write.mode("overwrite")
        .partitionBy(cellCol).parquet(s"$legacy/$sub")
      assert(entries(legacy).contains(s"$sub/_SUCCESS"))
    }
    IndexManifest.invalidate(conf, legacy)
    assert(IndexManifest.snapshot(spark, legacy, stores).layout ==
      onDisk(legacy, "lsh_text"))

    def answers(idx: String): Seq[Long] =
      statement(s"NEARDEDUP D AGAINST STORED '$idx' ON item KEY id " +
          "THRESHOLD 0.5 METHOD LSH", Some(probe))
        .collect().map(_.getLong(0)).sorted.toSeq
    def contents(idx: String): Seq[String] =
      statement(s"INDEX DESCRIBE '$idx' VERIFY")
        .select("store", "cells_present", "entries", "files").collect()
        .map(_.toString).sorted.toSeq
    def same(step: String): Unit = {
      assert(answers(legacy) == answers(fresh), step)
      assert(contents(legacy) == contents(fresh), step)
      assert(describe(legacy, verify = false) ==
        describe(legacy, verify = true), step)
      assert(!entries(legacy).exists(_.contains(".pending-")), step)
    }
    same("build")
    for (idx <- Seq(fresh, legacy))
      statement(s"INDEX ON item KEY id METHOD LSH INTO '$idx' APPEND",
        Some(batch)).collect()
    same("APPEND")
    for (idx <- Seq(fresh, legacy))
      statement(s"INDEX ON item KEY id METHOD LSH INTO '$idx' DELETE",
        Some(gone)).collect()
    same("DELETE")
    for (idx <- Seq(fresh, legacy))
      statement(s"INDEX COMPACT '$idx'").collect()
    same("COMPACT")
  }
}
