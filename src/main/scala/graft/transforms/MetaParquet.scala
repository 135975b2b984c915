package graft.transforms

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetReadSupport, ParquetToSparkSchemaConverter,
  SparkToParquetSchemaConverter}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Driver-side access to a stored artifact's one-file metadata parquet
  * (`meta/`) and to its stores' footers — parquet-hadoop's
  * example Group API, no Spark job. A metadata parquet holds a handful
  * of rows, yet `spark.read.parquet(dir).head()` pays two jobs for it (a
  * schema-inference job, then the scan), and every INDEX statement reads
  * at least one: on a small artifact those jobs were most of a
  * maintenance statement's wall clock, and all of DESCRIBE's, MANIFEST's
  * and a no-op COMPACT's.
  *
  * Files stay byte-compatible with Spark's parquet source both ways:
  * the Spark schema travels in the footer key Spark itself writes and
  * reads ([[ParquetReadSupport.SPARK_METADATA_KEY]]), so
  * `spark.read.parquet` of a driver-written dir sees the same columns
  * and types, and [[readRows]] of a Spark-written dir returns the rows
  * `spark.read.parquet(dir)` returns, schema included (every field
  * nullable, as Spark's file sources report it). Flat schemas of
  * string/int/long/double/float/boolean columns only — what meta
  * holds.
  */
private[graft] object MetaParquet {

  private def hadoopConf(spark: SparkSession): Configuration =
    spark.sparkContext.hadoopConfiguration

  /** Data files of a parquet directory in name order, skipping the
    * `_`/`.` names Spark's file listing skips (markers, checksums).
    */
  private def dataFiles(fs: FileSystem, dir: Path): Seq[Path] =
    fs.listStatus(dir).toSeq
      .filter(st => st.isFile && visible(st.getPath.getName))
      .map(_.getPath).sortBy(_.getName)

  private[graft] def visible(name: String): Boolean =
    !name.startsWith("_") && !name.startsWith(".")

  /** The Spark schema of one parquet file, from its footer: the schema
    * Spark wrote there, else the converted parquet schema (files from
    * other writers) — Spark's own inference order.
    */
  def fileSchema(conf: Configuration, file: Path): StructType = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try {
      val fm = r.getFooter.getFileMetaData
      Option(fm.getKeyValueMetaData.get(ParquetReadSupport.SPARK_METADATA_KEY))
        .map(DataType.fromJson(_).asInstanceOf[StructType])
        .getOrElse(new ParquetToSparkSchemaConverter(SQLConf.get)
          .convert(fm.getSchema))
    } finally r.close()
  }

  /** Every row of the metadata parquet at `dir`, file by file in name
    * order — what `spark.read.parquet(dir).collect()` returns for the
    * one-file dirs this object writes.
    */
  def readRows(spark: SparkSession, dir: String): Seq[Row] = {
    val conf = hadoopConf(spark)
    val d = new Path(dir)
    dataFiles(d.getFileSystem(conf), d).flatMap { f =>
      val schema = StructType(fileSchema(conf, f).fields
        .map(_.copy(nullable = true)))
      val reader = ParquetReader.builder(new GroupReadSupport(), f)
        .withConf(conf).build()
      try Iterator.continually(reader.read()).takeWhile(_ != null)
        .map(toRow(_, schema)).toVector
      finally reader.close()
    }
  }

  /** The first row — `spark.read.parquet(dir).head()` on the driver. */
  def readRow(spark: SparkSession, dir: String): Row =
    readRows(spark, dir).headOption.getOrElse(
      throw new NoSuchElementException(s"no rows in metadata parquet $dir"))

  private def toRow(g: Group, schema: StructType): Row =
    new GenericRowWithSchema(schema.fields.map { f =>
      if (g.getFieldRepetitionCount(f.name) == 0) null
      else f.dataType match {
        case StringType => g.getString(f.name, 0)
        case IntegerType => g.getInteger(f.name, 0)
        case LongType => g.getLong(f.name, 0)
        case DoubleType => g.getDouble(f.name, 0)
        case FloatType => g.getFloat(f.name, 0)
        case BooleanType => g.getBoolean(f.name, 0)
        case other => throw new UnsupportedOperationException(
          s"metadata parquet column ${f.name}: ${other.simpleString}")
      }
    }, schema)

  /** Replace `dir` with one snappy parquet file holding `rows` — the
    * driver-side `df.coalesce(1).write.mode("overwrite").parquet(dir)`:
    * the parquet schema is Spark's conversion of `schema` and the footer
    * carries `schema` under Spark's key, so Spark reads the file back
    * exactly as if it had written it.
    */
  def write(spark: SparkSession, dir: String, schema: StructType,
      rows: Seq[Row]): Unit = {
    // the writer records its schema in the conf it is given — keep that
    // out of the session's shared configuration
    val conf = new Configuration(hadoopConf(spark))
    val d = new Path(dir)
    val fs = d.getFileSystem(conf)
    fs.delete(d, true)
    val file = new Path(d,
      s"part-00000-${java.util.UUID.randomUUID()}-c000.snappy.parquet")
    val pType = new SparkToParquetSchemaConverter(SQLConf.get).convert(schema)
    val footer = new java.util.HashMap[String, String]
    footer.put(ParquetReadSupport.SPARK_METADATA_KEY, schema.json)
    footer.put("org.apache.spark.version", org.apache.spark.SPARK_VERSION_SHORT)
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(file, conf))
      .withConf(conf).withType(pType)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withExtraMetaData(footer).build()
    val groups = new SimpleGroupFactory(pType)
    try rows.foreach { r =>
      val g = groups.newGroup()
      for ((f, i) <- schema.fields.zipWithIndex if !r.isNullAt(i))
        f.dataType match {
          case StringType => g.add(f.name, r.getString(i))
          case IntegerType => g.add(f.name, r.getInt(i))
          case LongType => g.add(f.name, r.getLong(i))
          case DoubleType => g.add(f.name, r.getDouble(i))
          case FloatType => g.add(f.name, r.getFloat(i))
          case BooleanType => g.add(f.name, r.getBoolean(i))
          case other => throw new UnsupportedOperationException(
            s"metadata parquet column ${f.name}: ${other.simpleString}")
        }
      w.write(g)
    } finally w.close()
  }

  /** Write one row carrying its own schema. */
  def write(spark: SparkSession, dir: String, row: Row): Unit =
    write(spark, dir, row.schema, Seq(row))

  /** A one-row meta record from (column, value) pairs, typed as
    * `Seq(tuple).toDF(names…)` types them: strings nullable, primitives
    * not.
    */
  def record(fields: (String, Any)*): Row =
    new GenericRowWithSchema(fields.map(_._2).toArray,
      StructType(fields.map { case (n, v) => field(n, v) }))

  /** `row` with each (column, value) replaced in place, or appended when
    * absent — `df.withColumn(name, lit(value))` on a one-row frame.
    */
  def updated(row: Row, fields: (String, Any)*): Row =
    fields.foldLeft(row) { case (r, (n, v)) =>
      val i = r.schema.fieldNames.indexOf(n)
      if (i < 0) new GenericRowWithSchema((r.toSeq :+ v).toArray,
        r.schema.add(field(n, v)))
      else new GenericRowWithSchema(r.toSeq.updated(i, v).toArray,
        StructType(r.schema.fields.updated(i, field(n, v))))
    }

  private def field(name: String, v: Any): StructField = v match {
    case _: String => StructField(name, StringType, nullable = true)
    case _: Int => StructField(name, IntegerType, nullable = false)
    case _: Long => StructField(name, LongType, nullable = false)
    case _: Double => StructField(name, DoubleType, nullable = false)
    case _: Boolean => StructField(name, BooleanType, nullable = false)
    case other => throw new IllegalArgumentException(
      s"metadata value for $name: unsupported ${other.getClass.getName}")
  }

  /** The stored-index probe idiom — `spark.read.option("basePath",
    * root).parquet(paths…)` over routed cell directories or
    * manifest-served data files — with the store's schema taken from
    * the first data file's footer, so Spark runs no schema-inference
    * job: the data columns of the footer, then the int cell column
    * Spark recovers from the paths. With no readable data file among
    * `paths`, Spark infers as before.
    */
  def readCells(spark: SparkSession, root: String, pcol: String,
      paths: Seq[String]): DataFrame = {
    val conf = hadoopConf(spark)
    val reader = spark.read.option("basePath", root)
    val file = paths.iterator.map(new Path(_)).flatMap { p =>
      val fs = p.getFileSystem(conf)
      try {
        if (fs.getFileStatus(p).isFile) Iterator(p)
        else dataFiles(fs, p).iterator
      } catch { case _: java.io.FileNotFoundException => Iterator.empty }
    }.nextOption()
    file.fold(reader) { f =>
      val data = fileSchema(conf, f).fields.filterNot(_.name == pcol)
      reader.schema(StructType(data :+ StructField(pcol, IntegerType)))
    }.parquet(paths: _*)
  }
}
