package graft.engine

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.aql.Ast
import graft.aql.Ast.{OptVal, Options}
import graft.transforms.MetaParquet
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** Sources and sinks.
  *
  *  - DATA literal formats JSON_ARRAY / JSON_OBJECTS / CSV — reference
  *    engine/literal_source.go:25-106;
  *  - file connections (csv/parquet/json): distributed read/write with
  *    natural partitioning, PARTITION_BY layout, opt-in SINGLE_FILE;
  *  - Excel source/sink — pure-JDK XLSX via [[Excel]] (reference
  *    engine/excel_source.go / excel_dest.go);
  *  - HTTP JSON source with pluggable transport + HEADERS — reference
  *    engine/http_source.go:94-232 (driver-side fetch → createDataFrame);
  *  - console destination (table or JSON) — reference
  *    engine/console_dest.go:25-105.
  *
  * JDBC connections live in [[Aql]] (reader/writer/EXEC); embedded Derby
  * exercises them live in AqlSpec.
  */
object Connectors {

  private val mapper = new ObjectMapper()

  def opt(options: Options, key: String): Option[String] =
    options.get(key.toUpperCase).map(_.asString)

  // -------------------------------------------------------------- literal

  /** Build a DataFrame from a DATA block body. Types follow the JSON
    * values (reference literal_source.go:56-63); CSV values stay strings
    * (docs-src/docs/data.md).
    */
  def literal(spark: SparkSession, content: String, options: Options): DataFrame = {
    val format = opt(options, "FORMAT").getOrElse("JSON_ARRAY").toUpperCase
    val columns = opt(options, "COLUMNS")
      .map(_.split(",").map(_.trim).toSeq)
    format match {
      case "JSON_ARRAY" =>
        val node = mapper.readTree(content)
        require(node.isArray, "JSON_ARRAY content must be a JSON array")
        val rows = node.elements().asScala.map { r =>
          require(r.isArray, "JSON_ARRAY rows must be arrays")
          r.elements().asScala.map(jsonValue).toSeq
        }.toSeq
        val cols = columns.getOrElse(throw new IllegalArgumentException(
          "JSON_ARRAY requires the COLUMNS option"))
        fromRows(spark, rows, cols)
      case "JSON_OBJECTS" =>
        val node = mapper.readTree(content)
        require(node.isArray, "JSON_OBJECTS content must be a JSON array")
        val objs = node.elements().asScala.toSeq
        val cols = columns.getOrElse(
          objs.headOption.map(_.fieldNames().asScala.toSeq).getOrElse(Seq()))
        val rows = objs.map(o => cols.map(c => jsonValue(o.get(c))))
        fromRows(spark, rows, cols)
      case "CSV" =>
        val rows = content.trim.linesIterator.filter(_.trim.nonEmpty).map {
          line => line.split(",", -1).map(_.trim: Any).toSeq
        }.toSeq
        val cols = columns.getOrElse(throw new IllegalArgumentException(
          "CSV requires the COLUMNS option"))
        fromRows(spark, rows, cols)
      case other =>
        throw new IllegalArgumentException(s"unknown DATA format $other")
    }
  }

  private def jsonValue(n: JsonNode): Any = n match {
    case null => null
    case _ if n.isNull => null
    case _ if n.isIntegralNumber => n.asLong()
    case _ if n.isNumber => n.asDouble()
    case _ if n.isBoolean => n.asBoolean()
    case _ => n.asText()
  }

  /** Per-column type inference over literal rows (long / double / boolean /
    * timestamp / string; widen long→double; anything mixed → string).
    */
  private[engine] def fromRows(spark: SparkSession, rows: Seq[Seq[Any]],
                               cols: Seq[String]): DataFrame = {
    def typeOf(v: Any): DataType = v match {
      case null => NullType
      case _: Long => LongType
      case _: Double => DoubleType
      case _: Boolean => BooleanType
      case _: java.sql.Timestamp => TimestampType
      case _ => StringType
    }
    def merge(a: DataType, b: DataType): DataType = (a, b) match {
      case (NullType, t) => t
      case (t, NullType) => t
      case (x, y) if x == y => x
      case (LongType, DoubleType) | (DoubleType, LongType) => DoubleType
      case _ => StringType
    }
    val fieldTypes = cols.indices.map { i =>
      rows.foldLeft(NullType: DataType)((acc, r) =>
        merge(acc, typeOf(r.lift(i).orNull)))
    }.map { case NullType => StringType; case t => t }
    val schema = StructType(cols.zip(fieldTypes).map {
      case (c, t) => StructField(c, t, nullable = true)
    })
    val coerced = rows.map { r =>
      Row.fromSeq(cols.indices.map { i =>
        (r.lift(i).orNull, fieldTypes(i)) match {
          case (null, _) => null
          case (v: Long, DoubleType) => v.toDouble
          case (v, StringType) => v.toString
          case (v, _) => v
        }
      })
    }
    spark.createDataFrame(coerced.asJava, schema)
  }

  // ---------------------------------------------------------------- files

  /** Read a file connection (DRIVER = 'file'|'csv'|'parquet'|'json').
    * FILE = path; FORMAT falls back to the extension; CSV gets HEADER +
    * inferSchema so literal round-trips keep types.
    */
  def readFile(spark: SparkSession, conn: Ast.Connection): DataFrame = {
    val path = opt(conn.options, "FILE")
      .orElse(opt(conn.options, "CONNECTIONSTRING"))
      .getOrElse(throw new IllegalArgumentException(
        s"connection ${conn.name}: FILE option required"))
    format(conn, path) match {
      case "parquet" => MetaParquet.scan(spark, path)
      case "json" => spark.read.json(path)
      case "csv" => spark.read
        .option("header", "true").option("inferSchema", "true").csv(path)
      case other =>
        throw new IllegalArgumentException(
          s"connection ${conn.name}: unsupported file format $other")
    }
  }

  /** Shape a DataFrame for a file-connection write. Default is natural
    * partitioning — every task writes its own part file, the only shape
    * that survives 100 TB. Single-file output (the reference's inherent
    * behavior for its row-at-a-time sinks) is opt-in via SINGLE_FILE, and
    * COALESCE=n gives explicit control. Exposed for PlanSpec to assert
    * the default plan carries no Coalesce(1).
    */
  def prepareFileWrite(df: DataFrame, conn: Ast.Connection): DataFrame =
    opt(conn.options, "COALESCE").map(n => df.coalesce(n.trim.toInt))
      .getOrElse {
        if (opt(conn.options, "SINGLE_FILE")
              .exists(v => Ast.truthy(Ast.OptStr(v)))) df.coalesce(1)
        else df
      }

  def writeFile(df: DataFrame, conn: Ast.Connection): Unit = {
    val path = opt(conn.options, "FILE")
      .orElse(opt(conn.options, "CONNECTIONSTRING"))
      .getOrElse(throw new IllegalArgumentException(
        s"connection ${conn.name}: FILE option required"))
    val base = prepareFileWrite(df, conn).write.mode("overwrite")
    // PARTITION_BY = 'col1, col2': hive-style directory layout, the file
    // organization that makes later scans partition-prunable (PlanSpec
    // "date-partitioned writes prune partitions at read time")
    val writer = opt(conn.options, "PARTITION_BY")
      .map(cs => base.partitionBy(cs.split(",").map(_.trim).toSeq: _*))
      .getOrElse(base)
    format(conn, path) match {
      case "parquet" => writer.parquet(path)
      case "json" => writer.json(path)
      case "csv" => writer.option("header", "true").csv(path)
      case other => throw new IllegalArgumentException(
        s"connection ${conn.name}: unsupported file format $other")
    }
  }

  // ---------------------------------------------------------------- excel

  /** Excel source (reference engine/excel_source.go via [[Excel]]): read
    * the RANGE from SHEET, probe cell types, infer the Spark schema. The
    * file is a single driver-side artifact (like the HTTP source): parse
    * on the driver, then parallelize via createDataFrame.
    */
  def readExcel(spark: SparkSession, conn: Ast.Connection): DataFrame = {
    val path = opt(conn.options, "FILE")
      .orElse(opt(conn.options, "CONNECTIONSTRING"))
      .getOrElse(throw new IllegalArgumentException(
        s"connection ${conn.name}: FILE option required"))
    val sheet = opt(conn.options, "SHEET").getOrElse(
      throw new IllegalArgumentException(
        s"connection ${conn.name}: SHEET option required"))
    val range = Excel.parseRange(opt(conn.options, "RANGE").getOrElse(
      throw new IllegalArgumentException(
        s"connection ${conn.name}: RANGE option required")))
    val columns = opt(conn.options, "COLUMNS")
      .map(_.split(",").map(_.trim).toSeq)
    val dateFmt = opt(conn.options, "DATEFORMAT")
    val (cols, rows) = Excel.readTable(
      java.nio.file.Paths.get(path), sheet, range, columns, dateFmt)
    fromRows(spark, rows, cols)
  }

  /** Excel destination (reference engine/excel_dest.go via [[Excel]]).
    * `option` resolves WITH-block + connection options (block wins), the
    * same precedence the reference's OptionScanner applies. COLUMNS picks
    * input columns by name, case-insensitively (engine/util.go:10-31).
    * Collects to the driver: an XLSX is a single bounded artifact (its
    * RANGE is the contract) — the distributed sink is the file connector.
    */
  def writeExcel(df: DataFrame, conn: Ast.Connection,
                 option: String => Option[String]): Unit = {
    val path = option("FILE")
      .orElse(option("CONNECTIONSTRING"))
      .getOrElse(throw new IllegalArgumentException(
        s"connection ${conn.name}: FILE option required"))
    val sheet = option("SHEET").getOrElse(
      throw new IllegalArgumentException(
        s"connection ${conn.name}: SHEET option required"))
    val range = Excel.parseRange(option("RANGE").getOrElse(
      throw new IllegalArgumentException(
        s"connection ${conn.name}: RANGE option required")))
    val projected = option("COLUMNS")
      .map(cs => df.select(cs.split(",").map(c => df.col(c.trim)).toSeq: _*))
      .getOrElse(df)
    val overwrite = option("OVERWRITE").exists(v => Ast.truthy(Ast.OptStr(v)))
    val transpose = option("TRANSPOSE").exists(v => Ast.truthy(Ast.OptStr(v)))
    val template = option("TEMPLATE").map(java.nio.file.Paths.get(_))
    val rows: Seq[Seq[Any]] = projected.collect().toSeq.map(_.toSeq)
    Excel.writeTable(java.nio.file.Paths.get(path), sheet, range, rows,
      overwrite, template, transpose)
  }

  private def format(conn: Ast.Connection, path: String): String =
    opt(conn.options, "FORMAT").map(_.toLowerCase).getOrElse {
      val dot = path.lastIndexOf('.')
      if (dot >= 0) path.substring(dot + 1).toLowerCase else "csv"
    }

  // ----------------------------------------------------------------- http

  /** HTTP JSON source (reference engine/http_source.go): driver-side GET,
    * JSON_PATH walks to the row array, rows are objects or flat arrays.
    * Pagination per reference `:84-92,154-173`: when both
    * PAGINATION_LIMIT_PARAMETER and PAGINATION_OFFSET_PARAMETER are set,
    * fetch pages of PAGE_SIZE (default 50, connections.md:118) appending
    * `limit`/`offset` query params, advancing offset by PAGE_SIZE until an
    * *empty* page. Ingestion is driver-side by design (like the reference);
    * at scale an HTTP API is a fetch-then-parallelize source, not a
    * distributed scan.
    * HEADERS is a JSON object of request headers (reference
    * compiler.go:1275-1289 → http_source.go:19). `fetch` is injectable
    * for offline tests.
    */
  def readHttp(spark: SparkSession, conn: Ast.Connection,
               fetch: (String, Map[String, String]) => String): DataFrame = {
    val url = opt(conn.options, "URL").getOrElse(
      throw new IllegalArgumentException(
        s"connection ${conn.name}: URL option required"))
    val headers: Map[String, String] = opt(conn.options, "HEADERS").map { h =>
      val node = mapper.readTree(h)
      require(node.isObject,
        s"connection ${conn.name}: HEADERS must be a JSON object")
      node.fields().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
    }.getOrElse(Map.empty)
    val limitName = opt(conn.options, "PAGINATION_LIMIT_PARAMETER")
      .filter(_.nonEmpty)
    val offsetName = opt(conn.options, "PAGINATION_OFFSET_PARAMETER")
      .filter(_.nonEmpty)
    val pageSize = opt(conn.options, "PAGE_SIZE").map(_.trim.toInt)
      .getOrElse(50)
    val paginate = limitName.isDefined && offsetName.isDefined && pageSize > 0

    def pageUrl(offset: Int): String =
      if (!paginate) url
      else {
        val sep = if (url.contains("?")) "&" else "?"
        s"$url$sep${limitName.get}=$pageSize&${offsetName.get}=$offset"
      }

    def parsePage(json: String): Seq[com.fasterxml.jackson.databind.JsonNode] = {
      val body = mapper.readTree(json)
      val target = opt(conn.options, "JSON_PATH")
        .map(_.split("\\.").foldLeft(body)((n, p) => n.path(p)))
        .getOrElse(body)
      require(target.isArray,
        s"connection ${conn.name}: JSON_PATH must locate an array")
      target.elements().asScala.toSeq
    }

    var elems = parsePage(fetch(pageUrl(0), headers))
    if (paginate) {
      var offset = pageSize
      var page = elems
      while (page.nonEmpty) {
        page = parsePage(fetch(pageUrl(offset), headers))
        elems ++= page
        offset += pageSize
      }
    }

    val columns = opt(conn.options, "COLUMNS")
      .map(_.split(",").map(_.trim).toSeq)
    if (elems.forall(_.isObject)) {
      val cols = columns.getOrElse(
        elems.headOption.map(_.fieldNames().asScala.toSeq).getOrElse(Seq()))
      fromRows(spark, elems.map(o => cols.map(c => jsonValue(o.get(c)))), cols)
    } else {
      val cols = columns.getOrElse(throw new IllegalArgumentException(
        s"connection ${conn.name}: COLUMNS required for array rows"))
      fromRows(spark,
        elems.map(r => r.elements().asScala.map(jsonValue).toSeq), cols)
    }
  }

  def defaultHttpFetch(url: String, headers: Map[String, String]): String = {
    val client = java.net.http.HttpClient.newHttpClient()
    val b = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url)).GET()
    headers.foreach { case (k, v) => b.header(k, v) }
    client.send(b.build(),
      java.net.http.HttpResponse.BodyHandlers.ofString()).body()
  }

  // -------------------------------------------------------------- console

  /** Render rows as JSON array-of-objects or an ASCII table (reference
    * engine/console_dest.go). Collects to the driver by design — console
    * output is a human-scale sink.
    */
  def renderConsole(df: DataFrame, options: Options): String = {
    val fmt = opt(options, "OUTPUT_FORMAT")
      .orElse(opt(options, "CONSOLE_OUTPUT_FORMAT"))
      .getOrElse("table").toLowerCase
    if (fmt == "json") {
      "[" + df.toJSON.collect().mkString(",") + "]"
    } else {
      val cols = df.columns
      val rows = df.collect().map(_.toSeq.map(v =>
        if (v == null) "NULL" else v.toString))
      val widths = cols.indices.map { i =>
        (cols(i).length +: rows.map(_(i).length)).max
      }
      def line(vals: Seq[String]) = vals.zip(widths)
        .map { case (v, w) => v.padTo(w, ' ') }.mkString("| ", " | ", " |")
      (line(cols.toSeq) +:
        line(widths.map("-" * _)) +:
        rows.map(r => line(r)).toSeq).mkString("\n")
    }
  }
}
