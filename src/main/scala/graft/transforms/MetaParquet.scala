package graft.transforms

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileReader,
  ParquetFileWriter, ParquetReader}
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.spark.sql.{DataFrame, GraftCatalystBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetReadSupport, ParquetToSparkSchemaConverter,
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
    * names Spark's file listing skips (markers, checksums).
    */
  private def dataFiles(fs: FileSystem, dir: Path): Seq[Path] =
    fs.listStatus(dir).toSeq
      .filter(st => st.isFile && visible(st.getPath.getName))
      .map(_.getPath).sortBy(_.getName)

  /** Whether Spark's file listing (`InMemoryFileIndex`) keeps `name` as
    * a data file or a directory to descend: no `_` name but a partition
    * directory's (`_k=v`), no `.` name, no file still being copied.
    */
  private[graft] def visible(name: String): Boolean =
    !(name.startsWith("_") && !name.contains("=")) &&
      !name.startsWith(".") && !name.endsWith("._COPYING_")

  /** The Spark schema of one parquet file, from its footer: the schema
    * Spark wrote there, else the parquet schema converted under
    * `sqlConf` (files from other writers; `sqlConf` carries settings such
    * as `spark.sql.legacy.parquet.nanosAsLong`) — Spark's own rule
    * (`ParquetFileFormat.readSchemaFromFooter`).
    */
  def fileSchema(conf: Configuration, file: Path,
      sqlConf: SQLConf = SQLConf.get): StructType =
    footerSchemaOf(HadoopInputFile.fromPath(file, conf), sqlConf)

  /** [[fileSchema]] of an opened input file. The footer is read without
    * its row groups' metadata, as Spark's inference reads it: a schema
    * needs none of it, and a wide many-row-group file's costs most.
    */
  private def footerSchemaOf(in: HadoopInputFile, sqlConf: SQLConf)
      : StructType = {
    val r = ParquetFileReader.open(in, HadoopReadOptions
      .builder(in.getConfiguration)
      .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS).build())
    try ParquetFileFormat.readSchemaFromFooter(
      new Footer(in.getPath, r.getFooter),
      new ParquetToSparkSchemaConverter(sqlConf))
    finally r.close()
  }

  /** The data schema Spark's parquet source infers for `paths` with
    * schema merging off (`ParquetUtils.inferSchema`), from one footer
    * read on the driver, so a reader given it runs no schema-inference
    * job. The footer is a directory's `_common_metadata`, else its
    * `_metadata`, else the first data file in path order, partition
    * directories (`k=v`) descended; its schema is [[fileSchema]]'s under
    * the session's conf. Partition columns are left to Spark, which
    * infers them from the paths. None leaves the whole inference to
    * Spark: with `spark.sql.parquet.mergeSchema` on (one footer cannot
    * answer a merged schema), for glob paths, when no path holds a data
    * file (Spark's own error stands), and when a footer column names a
    * descended partition directory (Spark orders that column by the
    * data, a given schema puts it last).
    */
  def footerSchema(spark: SparkSession, paths: Seq[String])
      : Option[StructType] = {
    val sqlConf = GraftCatalystBridge.sqlConf(spark)
    if (sqlConf.isParquetSchemaMergingEnabled ||
        paths.exists(_.exists("{}[]*?\\".contains(_)))) None
    else {
      val conf = hadoopConf(spark)
      schemaSource(conf, paths).flatMap { case (file, partCols) =>
        val schema =
          footerSchemaOf(HadoopInputFile.fromStatus(file, conf), sqlConf)
        if (schema.fieldNames.exists(partCols.contains)) None
        else Some(schema)
      }
    }
  }

  /** `spark.read.parquet(paths…)` with its data schema from
    * [[footerSchema]]: the read runs no Spark job.
    */
  def scan(spark: SparkSession, paths: String*): DataFrame = {
    val reader = spark.read
    footerSchema(spark, paths).fold(reader)(reader.schema)
      .parquet(paths: _*)
  }

  /** The file [[footerSchema]] reads for `paths`, as listed, with the
    * partition columns of the directories descended to reach it.
    */
  private def schemaSource(conf: Configuration, paths: Seq[String])
      : Option[(FileStatus, Seq[String])] =
    paths.iterator.map(new Path(_)).flatMap { p =>
      val fs = p.getFileSystem(conf)
      try {
        val st = fs.getFileStatus(p)
        if (st.isFile) Iterator(st -> Nil)
        else {
          val entries = fs.listStatus(p)
          Seq(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
              ParquetFileWriter.PARQUET_METADATA_FILE).iterator
            .flatMap(n => entries.find(e =>
              e.isFile && e.getPath.getName == n))
            .map(_ -> Nil) ++ firstDataFile(fs, entries, Nil)
        }
      } catch { case _: java.io.FileNotFoundException => Iterator.empty }
    }.nextOption()

  /** The first data file among `entries` and the directories under
    * them, each level in name order, with the partition columns of the
    * directories descended — lazily, so the walk stops at that file.
    */
  private def firstDataFile(fs: FileSystem, entries: Array[FileStatus],
      partCols: List[String]): Iterator[(FileStatus, Seq[String])] =
    entries.filter(st => visible(st.getPath.getName))
      .sortBy(_.getPath.getName).iterator.flatMap { st =>
        val name = st.getPath.getName
        if (st.isFile) Iterator(st -> partCols)
        else firstDataFile(fs, fs.listStatus(st.getPath),
          if (name.contains("=")) name.takeWhile(_ != '=') :: partCols
          else partCols)
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

  /** `spark.read.option("basePath", root).parquet(paths…)` over cell
    * directories or data files of one store — the stored-probe reader's
    * read ([[CellStore.snapshot]]) and a rewrite's — with the store's
    * schema from [[footerSchema]], so Spark runs no schema-inference
    * job: the data columns of the footer, then the int cell column Spark
    * recovers from the paths.
    */
  private[transforms] def readCells(spark: SparkSession, root: String,
      pcol: String, paths: Seq[String]): DataFrame = {
    val reader = spark.read.option("basePath", root)
    footerSchema(spark, paths).fold(reader) { s =>
      reader.schema(StructType(s.fields.filterNot(_.name == pcol) :+
        StructField(pcol, IntegerType)))
    }.parquet(paths: _*)
  }
}
