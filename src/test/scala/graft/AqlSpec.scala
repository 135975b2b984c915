package graft

import graft.engine.Aql
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** End-to-end AQL script tests — the compatibility contract, mirroring the
  * reference's own e2e suite (reference compiler_test.go:15-691).
  */
class AqlSpec extends AnyFunSuite {
  import SparkTestSession._

  test("hello world: DATA + AGGREGATE SUM -> console JSON") {
    // reference compiler_test.go:58-82
    val r = Aql.run(spark,
      """DATA 'Vals' (
        |  [[1],[2]]
        |) WITH (COLUMNS = 'Value')
        |
        |TRANSFORM 'Summed' FROM BLOCK Vals (
        |  AGGREGATE SUM(Value) AS Total
        |) INTO CONSOLE WITH (OUTPUT_FORMAT = 'JSON')""".stripMargin)
    assert(r.console.size == 1)
    assert(r.console.head.contains("\"Total\":3"))
  }

  test("GLOBAL -> QUERY -> GLOBAL copy") {
    // reference compiler_test.go:15-56
    val r = Aql.run(spark,
      """GLOBAL 'Init' (
        |  CREATE TABLE Src (Id int not null, Name text);
        |  INSERT INTO Src VALUES (1, 'alice'), (2, 'bob''s')
        |)
        |
        |QUERY 'Copy' FROM GLOBAL (
        |  SELECT Id, upper(Name) AS Name FROM Src
        |) INTO GLOBAL WITH (TABLE = 'Dst')
        |
        |QUERY 'Check' FROM GLOBAL (
        |  SELECT count(*) AS n FROM Dst
        |) INTO CONSOLE WITH (OUTPUT_FORMAT = 'JSON') AFTER Copy""".stripMargin)
    assert(r.console.exists(_.contains("\"n\":2")))
  }

  test("LOOKUP inner and outer join") {
    // reference compiler_test.go:328-412
    val script =
      """DATA 'GetA' (
        |  [[1, "x"], [2, "y"], [3, "z"]]
        |) WITH (COLUMNS = 'Id, Tag')
        |
        |DATA 'GetB' (
        |  [[1, "one"], [2, "two"], [2, "TWO"]]
        |) WITH (COLUMNS = 'Id, Name')
        |
        |TRANSFORM 'Inner' FROM BLOCK GetA, BLOCK GetB (
        |  LOOKUP GetA.Id, GetB.Name FROM GetA
        |  INNER JOIN GetB ON GetA.Id = GetB.Id
        |) INTO CONSOLE
        |
        |TRANSFORM 'Outer' FROM BLOCK GetA, BLOCK GetB (
        |  LOOKUP GetA.Id, GetA.Tag, GetB.Name FROM GetA
        |  OUTER JOIN GetB ON GetA.Id = GetB.Id
        |) INTO CONSOLE""".stripMargin
    val r = Aql.run(spark, script)
    val inner = r.outputs("INNER").collect().map(x =>
      (x.getLong(0), x.getString(1))).sortBy(_._1)
    // duplicate-keyed lookup rows keep only the LAST (lookup.go:182-188):
    // Id=2 joins to "TWO", and produces ONE row, not two
    assert(inner.toSeq == Seq((1L, "one"), (2L, "TWO")))
    val outer = r.outputs("OUTER").collect().map(x =>
      (x.getLong(0), x.getString(2))).sortBy(_._1)
    assert(outer.toSeq == Seq((1L, "one"), (2L, "TWO"), (3L, null)))
  }

  test("AGGREGATE ZOH resampling (docs walkthrough values)") {
    // docs-src/docs/transforms.md ZOH example; hand-computed expectations
    val r = Aql.run(spark,
      """GLOBAL 'CreateTables' (
        |  CREATE TABLE Timeseries (
        |    LoadId int not null, Variable text not null,
        |    Time text not null, Value real
        |  );
        |  INSERT INTO Timeseries (LoadId, Variable, Time, Value) VALUES
        |   (1, 'power', '2017-12-01T11:59:00Z', 10),
        |   (1, 'power', '2017-12-01T12:13:01Z', 0),
        |   (1, 'power', '2017-12-01T12:57:00Z', 1.1),
        |   (2, 'power', '2017-12-01T11:52:00Z', 120),
        |   (2, 'power', '2017-12-01T11:45:00Z', 100),
        |   (3, 'power', '2017-12-01T12:33:00Z', 119),
        |   (3, 'power', '2017-12-01T12:20:00Z', 50),
        |   (3, 'power', '2017-12-01T11:59:00Z', 100)
        |)
        |
        |TRANSFORM 'Resample' FROM GLOBAL (
        |  AGGREGATE LoadId, Variable,
        |    ZOH(Time, Value, '2017-12-01T12:00:00Z', '2017-12-01T12:30:00Z') AS Value
        |  GROUP BY LoadId, Variable
        |) INTO CONSOLE WITH (TABLE = 'Timeseries')""".stripMargin)
    val rows = r.outputs("RESAMPLE").collect()
      .map(x => (x.getLong(0), x.getDouble(2))).toMap
    // load 1: 10 for 781s then 0 for 1019s over 1800s = 4.33888…
    assert(math.abs(rows(1L) - (10.0 * 781) / 1800) < 1e-6)
    // load 2: last point (12:00 precedes window) holds 120 throughout
    assert(math.abs(rows(2L) - 120.0) < 1e-9)
    // load 3: 100 for 1200s, 50 for 600s
    assert(math.abs(rows(3L) - (100.0 * 1200 + 50.0 * 600) / 1800) < 1e-9)
  }

  test("DECLARE / INTO PARAMETER / USING PARAMETER") {
    // reference compiler_test.go:281-327, 477-524
    val r = Aql.run(spark,
      """DECLARE @MaxId;
        |
        |GLOBAL 'Init' (
        |  CREATE TABLE T (Id int, V text);
        |  INSERT INTO T VALUES (1, 'a'), (7, 'b'), (3, 'c')
        |)
        |
        |QUERY 'FindMax' FROM GLOBAL (
        |  SELECT max(Id) FROM T
        |) INTO PARAMETER (@MaxId)
        |
        |QUERY 'UseIt' FROM GLOBAL (
        |  SELECT V FROM T WHERE Id = ?
        |) USING PARAMETER @MaxId
        |INTO CONSOLE WITH (OUTPUT_FORMAT = 'JSON') AFTER FindMax""".stripMargin)
    assert(r.params("MAXID") == 7L)
    assert(r.console.exists(_.contains("\"V\":\"b\"")))
  }

  test("APPLY CAST projection") {
    val r = Aql.run(spark,
      """DATA 'D' (
        |  [[1512129540, "2017-12-01T11:59:00Z", 5]]
        |) WITH (COLUMNS = 'Epoch, Iso, KeepMe')
        |
        |TRANSFORM 'Casted' FROM BLOCK D (
        |  APPLY CAST(Epoch AS DATETIME) AS T1,
        |        CAST(Iso AS DATETIME) AS T2,
        |        KeepMe
        |) INTO CONSOLE""".stripMargin)
    val row = r.outputs("CASTED").head()
    assert(row.getTimestamp(0) == row.getTimestamp(1)) // same instant
    assert(row.getLong(2) == 5L)
  }

  test("TEST assertions: pass and fail (test mode)") {
    // reference compiler_test.go:84-145; docs-src/docs/tests.md example
    val script =
      """DATA 'Values' (
        |  [["Hello, World"], ["Hello, World"]]
        |) INTO CONSOLE WITH (FORMAT = 'JSON_ARRAY', COLUMNS = 'Word')
        |
        |TEST Values WITH ASSERTIONS (
        |  IT OUTPUTS AT LEAST 2 ROWS;
        |  COLUMN Word HAS UNIQUE VALUES
        |)""".stripMargin
    val r = Aql.run(spark, script, testMode = true)
    assert(r.testFailures.size == 1)
    assert(r.testFailures.head.contains("duplicated"))
    assert(r.console.isEmpty, "test mode must neutralize destinations")
  }

  test("TEST assertions: IT SATISFIES row predicate") {
    // reference assertions.go GlobalAssertion.Expr → engine/condition.go
    val script =
      """DATA 'Vals' (
        |  [[1], [2], [-3]]
        |) INTO CONSOLE WITH (FORMAT = 'JSON_ARRAY', COLUMNS = 'V')
        |
        |TEST Vals WITH ASSERTIONS (
        |  IT SATISFIES V > -5;
        |  IT SATISFIES V > 0
        |)""".stripMargin
    val r = Aql.run(spark, script, testMode = true)
    assert(r.testFailures.size == 1)
    assert(r.testFailures.head.contains("V > 0"), r.testFailures.mkString)
  }

  test("SET + templating + option truthiness") {
    val r = Aql.run(spark,
      """SET Threshold = 1;
        |
        |DATA 'D' (
        |  [[1], [2], [3]]
        |) WITH (COLUMNS = 'V')
        |
        |QUERY 'Q' FROM BLOCK D (
        |  SELECT V FROM D WHERE V > {{ Threshold }}
        |) INTO CONSOLE WITH (OUTPUT_FORMAT = 'JSON')""".stripMargin)
    assert(r.console.head.contains("\"V\":2") &&
      r.console.head.contains("\"V\":3") &&
      !r.console.head.contains("\"V\":1"))
  }

  test("file connection round trip (csv)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_aql").toString
    val out = s"$tmp/out_csv"
    Aql.run(spark,
      s"""CONNECTION 'OutFile' (DRIVER = 'file', FILE = '$out', FORMAT = 'csv')
         |
         |DATA 'D' (
         |  [[1, "a"], [2, "b"]]
         |) WITH (COLUMNS = 'Id, Name')
         |INTO CONNECTION OutFile""".stripMargin)
    val back = Aql.run(spark,
      s"""CONNECTION 'InFile' (DRIVER = 'file', FILE = '$out', FORMAT = 'csv')
         |
         |QUERY 'ReadBack' FROM CONNECTION InFile (
         |  SELECT count(*) AS n, sum(Id) AS s FROM InFile
         |) INTO CONSOLE WITH (OUTPUT_FORMAT = 'JSON')""".stripMargin)
    assert(back.console.head.contains("\"n\":2"))
    assert(back.console.head.contains("\"s\":3"))
  }

  test("AGGREGATE MIN/MAX over RFC3339 time-strings compare as epoch seconds") {
    // reference transforms/min.go:44-49: string args are parsed as times
    // and reduced as unix seconds (returned as float64)
    val r = Aql.run(spark,
      """DATA 'Pts' (
        |  [["2024-01-02T00:00:00Z"], ["2024-01-01T00:00:00Z"], ["2024-01-03T00:00:00Z"]]
        |) WITH (COLUMNS = 'At')
        |
        |TRANSFORM 'Range' FROM BLOCK Pts (
        |  AGGREGATE MIN(At) AS First, MAX(At) AS Last
        |) INTO CONSOLE WITH (OUTPUT_FORMAT = 'JSON')""".stripMargin)
    // 2024-01-01T00:00:00Z = 1704067200, +2d = 1704240000
    assert(r.console.head.contains("\"First\":1.7040672E9") ||
      r.console.head.contains("\"First\":1704067200"),
      r.console.head)
    assert(r.console.head.contains("\"Last\":1.70424E9") ||
      r.console.head.contains("\"Last\":1704240000"),
      r.console.head)
  }

  test("DROP_NULLS filters null-bearing rows at the sink") {
    // reference engine/sql_dest.go:136-139
    val tmp = java.nio.file.Files.createTempDirectory("graft_dn").toString
    Aql.run(spark,
      s"""CONNECTION 'Out' (DRIVER = 'file', FILE = '$tmp/out', FORMAT = 'parquet')
         |
         |DATA 'D' (
         |  [[1, "a"], [2, null], [3, "c"]]
         |) INTO CONNECTION Out
         |WITH (COLUMNS = 'Id, Name', DROP_NULLS = 'true')""".stripMargin)
    val back = spark.read.parquet(s"$tmp/out")
    assert(back.count() == 2)
    assert(back.filter("Name IS NULL").count() == 0)
  }

  test("INCLUDE + EXTERN resolve relative to the including file") {
    // reference aql/parser.go:717-827 (max depth 8), fixtures
    // aql/testing/2.txt + extern.test
    val dir = java.nio.file.Files.createTempDirectory("graft_inc")
    val sub = java.nio.file.Files.createDirectory(dir.resolve("sub"))
    java.nio.file.Files.writeString(sub.resolve("agg.sql"),
      "SELECT count(*) AS n FROM T")
    java.nio.file.Files.writeString(sub.resolve("part.aql"),
      """QUERY 'FromExtern' EXTERN 'agg.sql' FROM GLOBAL ()
        |INTO CONSOLE WITH (OUTPUT_FORMAT = 'JSON')""".stripMargin)
    val r = Aql.run(spark,
      """GLOBAL 'Init' (CREATE TABLE T (Id int); INSERT INTO T VALUES (1), (2))
        |
        |INCLUDE 'sub/part.aql'""".stripMargin,
      baseDir = dir)
    assert(r.console.head.contains("\"n\":2"))
  }

  test("file sink PARTITION_BY writes hive-style partition directories") {
    val out = java.nio.file.Files.createTempDirectory("graft_part")
      .resolve("docs_by_lang").toString
    val r = Aql.run(spark,
      s"""CONNECTION 'Docs' (
         |  DRIVER = 'file', FILE = '/root/testdata/sf0.001/documents.parquet',
         |  FORMAT = 'parquet'
         |)
         |CONNECTION 'Out' (
         |  DRIVER = 'file', FILE = '$out', FORMAT = 'parquet',
         |  PARTITION_BY = 'lang'
         |)
         |
         |TRANSFORM 'Stage' FROM CONNECTION Docs (
         |  APPLY doc_id, lang, n_chars
         |) INTO CONNECTION Out
         |
         |QUERY 'Back' FROM CONNECTION Out (
         |  SELECT count(*) AS n, count(DISTINCT lang) AS langs FROM Out
         |) INTO CONSOLE WITH (OUTPUT_FORMAT = 'JSON') AFTER Stage""".stripMargin)
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("lang="))
    assert(dirs.nonEmpty, "no hive-style lang= partition dirs written")
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    assert(r.console.head.contains(s"\"n\":${docs.count()}"))
  }

  test("HTTP JSON source: JSON_PATH walk + AutoSQL query over the view") {
    // reference engine/http_source.go:94-232, compiler_test.go:170-195;
    // fetch is injected (zero egress) — the reference tests hit a live API
    val payload =
      """{"meta": {"page": 1},
        | "data": {"rows": [{"id": 1, "name": "a"},
        |                   {"id": 2, "name": "b"},
        |                   {"id": 3, "name": null}]}}""".stripMargin
    var fetched: String = null
    var gotHeaders: Map[String, String] = null
    val r = Aql.run(spark,
      """CONNECTION 'Api' (
        |  DRIVER = 'http', URL = 'http://example.test/rows',
        |  JSON_PATH = 'data.rows',
        |  HEADERS = '{"Authorization": "Bearer tok", "Accept": "application/json"}'
        |)
        |
        |QUERY 'Agg' FROM CONNECTION Api (
        |  SELECT count(*) AS n, sum(id) AS total,
        |         count(name) AS named FROM Api
        |) INTO CONSOLE WITH (OUTPUT_FORMAT = 'JSON')""".stripMargin,
      httpFetch = (url, hs) => { fetched = url; gotHeaders = hs; payload })
    assert(fetched == "http://example.test/rows")
    // HEADERS option reaches the transport (compiler.go:1275-1289)
    assert(gotHeaders == Map(
      "Authorization" -> "Bearer tok", "Accept" -> "application/json"))
    assert(r.console.head.contains("\"n\":3"))
    assert(r.console.head.contains("\"total\":6"))
    assert(r.console.head.contains("\"named\":2"))
  }

  test("HTTP source pagination: limit/offset loop until empty page") {
    // reference http_source.go:84-92,154-173 + connections.md:118-120:
    // append limit/offset params, advance by PAGE_SIZE, stop on empty page
    val all = (1 to 5).map(i => s"""{"id": $i}""")
    val urls = scala.collection.mutable.ArrayBuffer.empty[String]
    def fetch(url: String, headers: Map[String, String]): String = {
      urls += url
      val off = "offset=(\\d+)".r.findFirstMatchIn(url).get.group(1).toInt
      "[" + all.slice(off, off + 2).mkString(",") + "]"
    }
    val r = Aql.run(spark,
      """CONNECTION 'Api' (
        |  DRIVER = 'http', URL = 'http://example.test/rows?v=1',
        |  PAGINATION_LIMIT_PARAMETER = 'limit',
        |  PAGINATION_OFFSET_PARAMETER = 'offset',
        |  PAGE_SIZE = '2'
        |)
        |
        |QUERY 'Agg' FROM CONNECTION Api (
        |  SELECT count(*) AS n, sum(id) AS total FROM Api
        |) INTO CONSOLE WITH (OUTPUT_FORMAT = 'JSON')""".stripMargin,
      httpFetch = fetch _)
    assert(urls.head == "http://example.test/rows?v=1&limit=2&offset=0")
    // pages of 2: offsets 0,2,4 then the empty page at 6 stops the loop
    assert(urls.size == 4, urls.mkString("; "))
    assert(r.console.head.contains("\"n\":5"))
    assert(r.console.head.contains("\"total\":15"))
  }

  test("EXEC appends to GLOBAL; AFTER orders actions") {
    val r = Aql.run(spark,
      """GLOBAL 'Init' (CREATE TABLE T (Id int))
        |
        |EXEC 'Fill' FROM GLOBAL (
        |  INSERT INTO T VALUES (1), (2), (3)
        |)
        |
        |QUERY 'Count' FROM GLOBAL (
        |  SELECT count(*) AS n FROM T
        |) INTO CONSOLE WITH (OUTPUT_FORMAT = 'JSON') AFTER Fill""".stripMargin)
    assert(r.console.head.contains("\"n\":3"))
  }

  test("GLOBAL arbitrary DML: UPDATE / DELETE / CTAS / INSERT-SELECT") {
    // the reference runs any SQLite statement against GLOBAL
    // (compiler.go:348-366); EXEC-driven scratch-table bookkeeping must
    // change what later QUERYs see
    val r = Aql.run(spark,
      """GLOBAL 'Init' (
        |  CREATE TABLE Jobs (Id int, Status text, Score real);
        |  INSERT INTO Jobs VALUES
        |    (1, 'new', 0.5), (2, 'new', 0.9), (3, 'done', 0.1);
        |  UPDATE Jobs SET Status = 'queued', Score = Score * 2
        |    WHERE Status = 'new' AND Score > 0.6;
        |  DELETE FROM Jobs WHERE Status = 'done';
        |  CREATE TABLE Queued AS
        |    SELECT Id, Score FROM Jobs WHERE Status = 'queued';
        |  INSERT INTO Queued SELECT Id + 10, Score FROM Queued
        |)
        |
        |QUERY 'Check' FROM GLOBAL (
        |  SELECT count(*) AS n_jobs,
        |    (SELECT count(*) FROM Queued) AS n_queued,
        |    (SELECT max(Score) FROM Queued) AS top
        |  FROM Jobs
        |) INTO CONSOLE WITH (OUTPUT_FORMAT = 'JSON')""".stripMargin)
    // Jobs: 3 - 1 deleted = 2; Queued: job 2 (score 1.8) + its +10 copy
    assert(r.console.head.contains("\"n_jobs\":2"))
    assert(r.console.head.contains("\"n_queued\":2"))
    assert(r.console.head.contains("\"top\":1.8"))
  }

  test("GLOBAL DML edge semantics: bare DELETE, null-safe WHERE, bad column") {
    val r = Aql.run(spark,
      """GLOBAL 'Init' (
        |  CREATE TABLE A (Id int, V int);
        |  INSERT INTO A VALUES (1, 10), (2, NULL), (3, 30);
        |  CREATE TABLE B AS SELECT * FROM A;
        |  DELETE FROM A WHERE V > 15;
        |  DELETE FROM B
        |)
        |
        |QUERY 'Check' FROM GLOBAL (
        |  SELECT (SELECT count(*) FROM A) AS a_rows,
        |         (SELECT count(*) FROM B) AS b_rows
        |) INTO CONSOLE WITH (OUTPUT_FORMAT = 'JSON')""".stripMargin)
    // row (2, NULL): V > 15 is NULL -> kept (SQL deletes only TRUE rows);
    // bare DELETE empties the table but keeps its schema
    assert(r.console.head.contains("\"a_rows\":2"))
    assert(r.console.head.contains("\"b_rows\":0"))
    val e = intercept[Exception](Aql.run(spark,
      """GLOBAL 'Bad' (
        |  CREATE TABLE T (Id int);
        |  UPDATE T SET Nope = 1
        |)
        |QUERY 'Q' FROM GLOBAL (SELECT 1 AS x) INTO CONSOLE""".stripMargin))
    assert(e.getMessage.contains("no column"))
  }

  test("GLOBAL loop-appends: union lineage is capped, values intact") {
    // 40 single-row INSERTs into one table: without the append cap the
    // view's plan deepens by a Union per statement (linear analysis cost
    // per read in an append-looping script); with the lazy-localCheckpoint
    // cap every 8 appends the lineage stays O(1) deep and the data is
    // unchanged.
    val inserts = (1 to 40)
      .map(i => s"  INSERT INTO T VALUES ($i, ${i * 10})").mkString(";\n")
    val r = Aql.run(spark,
      s"""GLOBAL 'Init' (
         |  CREATE TABLE T (Id int, V int);
         |$inserts
         |)
         |
         |QUERY 'Check' FROM GLOBAL (
         |  SELECT count(*) AS n, sum(V) AS s FROM T
         |) INTO CONSOLE WITH (OUTPUT_FORMAT = 'JSON')""".stripMargin)
    assert(r.console.head.contains("\"n\":40"), r.console.head)
    assert(r.console.head.contains(s""""s":${(1 to 40).map(_ * 10).sum}"""),
      r.console.head)
    val unions = "Union".r
      .findAllIn(spark.table("T").queryExecution.logical.toString).size
    assert(unions < 10, s"append lineage not capped: $unions unions")

    // appends interleaved with UPDATEs: the rewrite deepens lineage on
    // top of prior appends, so the cap counter must SURVIVE it — if each
    // UPDATE reset the counter, the every-8 checkpoint could never fire
    // and the plan would deepen linearly
    val mixed = (1 to 12)
      .map(i => s"  INSERT INTO M VALUES ($i, $i);\n" +
        s"  UPDATE M SET V = V + 1 WHERE Id = $i").mkString(";\n")
    val rm = Aql.run(spark,
      s"""GLOBAL 'Init' (
         |  CREATE TABLE M (Id int, V int);
         |$mixed
         |)
         |
         |QUERY 'Check' FROM GLOBAL (
         |  SELECT count(*) AS n, sum(V) AS s FROM M
         |) INTO CONSOLE WITH (OUTPUT_FORMAT = 'JSON')""".stripMargin)
    assert(rm.console.head.contains("\"n\":12"), rm.console.head)
    assert(rm.console.head.contains(s""""s":${(1 to 12).map(_ + 1).sum}"""),
      rm.console.head)
    val mixedUnions = "Union".r
      .findAllIn(spark.table("M").queryExecution.logical.toString).size
    assert(mixedUnions < 8,
      s"cap must fire despite interleaved UPDATEs: $mixedUnions unions")

    // drop + recreate mid-script: the append-cap counter follows the
    // table lifecycle (a stale counter would checkpoint off-cycle), and
    // only post-recreate rows survive
    val r2 = Aql.run(spark,
      """GLOBAL 'Init' (
        |  CREATE TABLE T (Id int, V int);
        |  INSERT INTO T VALUES (1, 1);
        |  DROP TABLE T;
        |  CREATE TABLE T (Id int, V int);
        |  INSERT INTO T VALUES (2, 20);
        |  INSERT INTO T VALUES (3, 30)
        |)
        |
        |QUERY 'Check' FROM GLOBAL (
        |  SELECT count(*) AS n, sum(V) AS s FROM T
        |) INTO CONSOLE WITH (OUTPUT_FORMAT = 'JSON')""".stripMargin)
    assert(r2.console.head.contains("\"n\":2") &&
      r2.console.head.contains("\"s\":50"), r2.console.head)
  }

  test("EXEC USING PARAMETER binds ? placeholders against GLOBAL") {
    val r = Aql.run(spark,
      """DECLARE @Cutoff;
        |
        |GLOBAL 'Init' (
        |  CREATE TABLE T (Id int, V int);
        |  INSERT INTO T VALUES (1, 10), (2, 20), (3, 30)
        |)
        |
        |QUERY 'Pick' FROM GLOBAL (
        |  SELECT 2 AS c
        |) INTO PARAMETER (@Cutoff)
        |
        |EXEC 'Trim' FROM GLOBAL (
        |  DELETE FROM T WHERE Id > ?
        |) USING PARAMETER @Cutoff AFTER Pick
        |
        |QUERY 'Check' FROM GLOBAL (
        |  SELECT count(*) AS n, sum(V) AS total FROM T
        |) INTO CONSOLE WITH (OUTPUT_FORMAT = 'JSON') AFTER Trim""".stripMargin)
    assert(r.console.head.contains("\"n\":2"))
    assert(r.console.head.contains("\"total\":30"))
  }

  test("EXEC UPDATE/DELETE between reads changes subsequent QUERY results") {
    val r = Aql.run(spark,
      """GLOBAL 'Init' (
        |  CREATE TABLE T (Id int, V int);
        |  INSERT INTO T VALUES (1, 10), (2, 20), (3, 30)
        |)
        |
        |QUERY 'Before' FROM GLOBAL (
        |  SELECT sum(V) AS total FROM T
        |) INTO CONSOLE WITH (OUTPUT_FORMAT = 'JSON')
        |
        |EXEC 'Bump' FROM GLOBAL (
        |  UPDATE T SET V = V + 1 WHERE Id < 3;
        |  DELETE FROM T WHERE Id = 1
        |) AFTER Before
        |
        |QUERY 'After' FROM GLOBAL (
        |  SELECT sum(V) AS total FROM T
        |) INTO CONSOLE WITH (OUTPUT_FORMAT = 'JSON') AFTER Bump""".stripMargin)
    assert(r.console.exists(_.contains("\"total\":60"))) // before
    assert(r.console.exists(_.contains("\"total\":51"))) // 21 + 30
  }

  test("TRANSFORM PLUGIN: JSON-RPC stdio subprocess filter -> Excel dest") {
    // mirrors reference compiler_test.go:557-608 (TestCompilerWithTransform
    // with test_filter.py): two query blocks stream through an external
    // python process that keeps positive values, into an XLSX destination.
    // The fixture speaks the reference's wire protocol (net/rpc jsonrpc
    // framing) but is an original stdlib-only implementation.
    val dir = java.nio.file.Files.createTempDirectory("graft_plugin")
    val script = dir.resolve("filter_negatives.py")
    java.nio.file.Files.writeString(script,
      """#!/usr/bin/env python3
        |import sys, json
        |
        |def handle(method, arg):
        |    if method == "receive":
        |        if not arg:
        |            return {}  # EOS
        |        rows = [{"destination": "", "data": [r["data"][0]]}
        |                for r in arg if r["data"][0] > 0]
        |        return {"rows": rows} if rows else {}
        |    if method == "get_output_columns":
        |        return {"": ["Value"]}
        |    return ""
        |
        |for line in sys.stdin:
        |    req = json.loads(line)
        |    arg = req["params"][0] if req.get("params") else None
        |    out = {"id": req["id"], "result": handle(req["method"], arg),
        |           "error": None}
        |    sys.stdout.write(json.dumps(out) + "\n")
        |    sys.stdout.flush()
        |""".stripMargin)
    val xlsx = dir.resolve("output_transform.xlsx")
    val r = Aql.run(spark,
      s"""CONNECTION 'Workbook' (
         |  DRIVER = 'excel', FILE = '$xlsx', SHEET = 'TestSheet',
         |  RANGE = 'A1:A*', COLUMNS = 'Value'
         |)
         |
         |QUERY 'SliceOfData' FROM GLOBAL (
         |  SELECT 1 AS Value UNION ALL SELECT -1 UNION ALL SELECT 2
         |)
         |
         |QUERY 'SliceOfData2' FROM GLOBAL (
         |  SELECT 10 AS Value UNION ALL SELECT 11 UNION ALL SELECT -2
         |)
         |
         |TRANSFORM PLUGIN 'FilterNegatives'
         |FROM BLOCK SliceOfData, BLOCK SliceOfData2 ()
         |INTO CONNECTION Workbook
         |WITH (
         |  Multisource_Order = 'Sequential',
         |  Executable = 'python3', Args = '["$script"]', Overwrite = 'True'
         |)""".stripMargin)
    assert(r.outputs("FILTERNEGATIVES").collect().map(_.getLong(0)).sorted
      .sameElements(Array(1L, 2L, 10L, 11L)))
    val (_, cells) = graft.engine.Excel.readTable(xlsx, "TestSheet",
      graft.engine.Excel.parseRange("A1:A*"), Some(Seq("Value")), None)
    assert(cells.map(_.head.asInstanceOf[Long]).sorted ==
      Seq(1L, 2L, 10L, 11L))
  }

  test("JDBC round-trip against embedded Derby: sink, EXEC DML, source") {
    // first live exercise of the SQL connection paths (reference
    // sql_dest.go batched insert / sql_source.go verbatim query / EXEC):
    // Derby ships with Spark, so the JDBC writer, DriverManager EXEC, and
    // JDBC reader all run for real. Upper-case identifiers avoid Derby's
    // quoted-identifier case folding.
    System.setProperty("derby.stream.error.file", "/tmp/derby_test.log")
    val db = java.nio.file.Files.createTempDirectory("graft_derby")
      .resolve("db").toString
    val r = Aql.run(spark,
      s"""CONNECTION 'DB' (
         |  DRIVER = 'derby',
         |  CONNECTIONSTRING = 'jdbc:derby:$db;create=true'
         |)
         |
         |DATA 'People' (
         |  [[1, "Bob"], [2, "Alice"], [3, "Eve"]]
         |) WITH (COLUMNS = 'ID, NAME')
         |
         |TRANSFORM 'Load' FROM BLOCK People (
         |  APPLY ID, NAME
         |) INTO CONNECTION DB WITH (TABLE = 'PEOPLE')
         |
         |DECLARE @DropId;
         |
         |QUERY 'PickDrop' FROM BLOCK People (
         |  SELECT max(ID) FROM People
         |) INTO PARAMETER (@DropId)
         |
         |EXEC 'Cleanup' FROM CONNECTION DB (
         |  DELETE FROM PEOPLE WHERE ID = ?
         |) USING PARAMETER @DropId AFTER Load, PickDrop
         |
         |QUERY 'ReadBack' FROM CONNECTION DB (
         |  SELECT COUNT(*) AS N, SUM(ID) AS TOTAL FROM PEOPLE
         |) INTO CONSOLE WITH (OUTPUT_FORMAT = 'JSON') AFTER Cleanup""".stripMargin)
    assert(r.console.head.contains("\"N\":2"))
    assert(r.console.head.contains("\"TOTAL\":3"))
  }

  test("JDBC parallel ingest: NUM_PARTITIONS splits the Derby read") {
    // the scale path beyond the reference's single-connection reader
    // (sql_source.go:92-234): NUM_PARTITIONS + PARTITION_COLUMN turn the
    // scan into range-bounded concurrent queries (bounds auto-probed via
    // MIN/MAX); results must be identical to the single-connection read
    System.setProperty("derby.stream.error.file", "/tmp/derby_test.log")
    val db = java.nio.file.Files.createTempDirectory("graft_derby_par")
      .resolve("db").toString
    val jc = java.sql.DriverManager.getConnection(s"jdbc:derby:$db;create=true")
    try {
      val st = jc.createStatement()
      st.execute("CREATE TABLE NUMS (ID INT, V INT)")
      st.close()
      val ps = jc.prepareStatement("INSERT INTO NUMS VALUES (?, ?)")
      for (i <- 1 to 100) { ps.setInt(1, i); ps.setInt(2, i * 3); ps.addBatch() }
      ps.executeBatch(); ps.close()
    } finally jc.close()

    def script(withOpts: String) =
      s"""CONNECTION 'DB' (
         |  DRIVER = 'derby',
         |  CONNECTIONSTRING = 'jdbc:derby:$db'$withOpts
         |)
         |QUERY 'ReadPar' FROM CONNECTION DB (
         |  SELECT ID, V FROM NUMS
         |) INTO CONSOLE""".stripMargin

    val par = Aql.run(spark, script(
      ",\n  NUM_PARTITIONS = 4,\n  PARTITION_COLUMN = 'ID',\n  FETCH_SIZE = 25"))
    val parDf = par.outputs("READPAR")
    assert(parDf.rdd.getNumPartitions > 1,
      s"expected a partitioned scan, got ${parDf.rdd.getNumPartitions}")
    val single = Aql.run(spark, script("")).outputs("READPAR")
    assert(single.rdd.getNumPartitions == 1)
    val got = parDf.collect().map(r => (r.getInt(0), r.getInt(1))).sorted.toSeq
    val want = single.collect().map(r => (r.getInt(0), r.getInt(1))).sorted.toSeq
    assert(got == want && got.size == 100)

    // explicit bounds skip the MIN/MAX probe and must agree too
    val bounded = Aql.run(spark, script(
      ",\n  NUM_PARTITIONS = 3,\n  PARTITION_COLUMN = 'ID'," +
        "\n  LOWER_BOUND = 1,\n  UPPER_BOUND = 100")).outputs("READPAR")
    assert(bounded.rdd.getNumPartitions == 3)
    assert(bounded.collect().map(r => (r.getInt(0), r.getInt(1)))
      .sorted.toSeq == want)

    // a SINGLE explicit bound is honored; only the missing side is probed
    val half = Aql.run(spark, script(
      ",\n  NUM_PARTITIONS = 3,\n  PARTITION_COLUMN = 'ID'," +
        "\n  LOWER_BOUND = 1")).outputs("READPAR")
    assert(half.rdd.getNumPartitions == 3)
    assert(half.collect().map(r => (r.getInt(0), r.getInt(1)))
      .sorted.toSeq == want)

    // non-integer NUM_PARTITIONS is a config error, not a truncation
    val bad = intercept[Exception](Aql.run(spark, script(
      ",\n  NUM_PARTITIONS = 4.9,\n  PARTITION_COLUMN = 'ID'")))
    assert(bad.getMessage.contains("must be an integer"), bad.getMessage)

    // NUM_PARTITIONS <= 0 is a config error too (1 legitimately means
    // single-connection; 0/negative can only be a typo)
    val zero = intercept[Exception](Aql.run(spark, script(
      ",\n  NUM_PARTITIONS = 0,\n  PARTITION_COLUMN = 'ID'")))
    assert(zero.getMessage.contains("must be >= 1"), zero.getMessage)
  }

  test("TRANSACTIONAL sinks: all destinations commit together or not at all") {
    // reference TransactionManager guarantee (engine/transaction_manager.go:
    // 21-224) via staged publish: parallel JDBC write to staging, one
    // driver transaction per connection for stage→target, commit at the end
    System.setProperty("derby.stream.error.file", "/tmp/derby_test.log")
    val db = java.nio.file.Files.createTempDirectory("graft_derby_tx")
      .resolve("db").toString
    def conn =
      s"""CONNECTION 'DB' (
         |  DRIVER = 'derby',
         |  CONNECTIONSTRING = 'jdbc:derby:$db;create=true'
         |)""".stripMargin

    // targets must pre-exist for transactional publish; B's CHECK
    // constraint is the failure injection for the rollback case
    Aql.run(spark,
      s"""$conn
         |DATA 'Noop' ([[1]]) WITH (COLUMNS = 'X')
         |EXEC 'MakeA' FROM CONNECTION DB (
         |  CREATE TABLE TA (ID INT, SCORE INT)
         |)
         |EXEC 'MakeB' FROM CONNECTION DB (
         |  CREATE TABLE TB (ID INT CHECK (ID < 100))
         |) AFTER MakeA""".stripMargin)

    // happy path: both sinks land atomically
    val ok = Aql.run(spark,
      s"""$conn
         |DATA 'A' ([[1, 7], [2, 8]]) WITH (COLUMNS = 'ID, SCORE')
         |DATA 'B' ([[10], [20]]) WITH (COLUMNS = 'ID')
         |TRANSFORM 'LoadA' FROM BLOCK A (APPLY ID, SCORE)
         |  INTO CONNECTION DB WITH (TABLE = 'TA', TRANSACTIONAL = 'TRUE')
         |TRANSFORM 'LoadB' FROM BLOCK B (APPLY ID)
         |  INTO CONNECTION DB WITH (TABLE = 'TB', TRANSACTIONAL = 'TRUE')
         |QUERY 'Check' FROM CONNECTION DB (
         |  SELECT (SELECT COUNT(*) FROM TA) AS NA, (SELECT COUNT(*) FROM TB) AS NB
         |  FROM SYSIBM.SYSDUMMY1
         |) INTO CONSOLE WITH (OUTPUT_FORMAT = 'JSON') AFTER LoadA, LoadB""".stripMargin)
    // the AFTER-gated read runs before publish: both sinks still invisible —
    // that IS the isolation the staging gives (readers never see partials)
    assert(ok.console.head.contains("\"NA\":0") &&
      ok.console.head.contains("\"NB\":0"))
    val after = Aql.run(spark,
      s"""$conn
         |QUERY 'Check' FROM CONNECTION DB (
         |  SELECT (SELECT COUNT(*) FROM TA) AS NA, (SELECT COUNT(*) FROM TB) AS NB
         |  FROM SYSIBM.SYSDUMMY1
         |) INTO CONSOLE WITH (OUTPUT_FORMAT = 'JSON')""".stripMargin)
    assert(after.console.head.contains("\"NA\":2") &&
      after.console.head.contains("\"NB\":2"))

    // failure path: B violates its CHECK at publish → A rolls back too
    val e = intercept[Exception](Aql.run(spark,
      s"""$conn
         |DATA 'A' ([[3, 9]]) WITH (COLUMNS = 'ID, SCORE')
         |DATA 'B' ([[999]]) WITH (COLUMNS = 'ID')
         |TRANSFORM 'LoadA' FROM BLOCK A (APPLY ID, SCORE)
         |  INTO CONNECTION DB WITH (TABLE = 'TA', TRANSACTIONAL = 'TRUE')
         |TRANSFORM 'LoadB' FROM BLOCK B (APPLY ID)
         |  INTO CONNECTION DB WITH (TABLE = 'TB', TRANSACTIONAL = 'TRUE')""".stripMargin))
    assert(e.getMessage.contains("rolled back"), e.getMessage)
    val unchanged = Aql.run(spark,
      s"""$conn
         |QUERY 'Check' FROM CONNECTION DB (
         |  SELECT (SELECT COUNT(*) FROM TA) AS NA, (SELECT COUNT(*) FROM TB) AS NB
         |  FROM SYSIBM.SYSDUMMY1
         |) INTO CONSOLE WITH (OUTPUT_FORMAT = 'JSON')""".stripMargin)
    assert(unchanged.console.head.contains("\"NA\":2") &&
      unchanged.console.head.contains("\"NB\":2"),
      s"rollback leaked rows: ${unchanged.console.head}")
  }

  test("TRANSACTIONAL publish resolves columns against the exact table") {
    // getColumns treats `_` as a LIKE wildcard: a decoy table whose name
    // matches the target's pattern (EVENT_LOG ~ "EVENTaLOG", and 'a' sorts
    // after '_' so the decoy's rows come LAST in the result set) and
    // carries a conflicting column spelling must not pollute case
    // resolution — unfixed, the decoy's quoted lowercase "id" would win
    // the map and the publish INSERT would reference a nonexistent column
    System.setProperty("derby.stream.error.file", "/tmp/derby_test.log")
    val db = java.nio.file.Files.createTempDirectory("graft_derby_wild")
      .resolve("db").toString
    def conn =
      s"""CONNECTION 'DB' (
         |  DRIVER = 'derby',
         |  CONNECTIONSTRING = 'jdbc:derby:$db;create=true'
         |)""".stripMargin
    Aql.run(spark,
      s"""$conn
         |DATA 'Noop' ([[1]]) WITH (COLUMNS = 'X')
         |EXEC 'MakeDecoy' FROM CONNECTION DB (
         |  CREATE TABLE "EVENTaLOG" ("id" INT, "Extra" INT)
         |)
         |EXEC 'MakeTarget' FROM CONNECTION DB (
         |  CREATE TABLE EVENT_LOG (ID INT, KIND VARCHAR(10))
         |) AFTER MakeDecoy""".stripMargin)
    Aql.run(spark,
      s"""$conn
         |DATA 'E' ([[1, "a"], [2, "b"]]) WITH (COLUMNS = 'ID, KIND')
         |TRANSFORM 'Load' FROM BLOCK E (APPLY ID, KIND)
         |  INTO CONNECTION DB WITH (TABLE = 'EVENT_LOG', TRANSACTIONAL = 'TRUE')""".stripMargin)
    val check = Aql.run(spark,
      s"""$conn
         |QUERY 'Check' FROM CONNECTION DB (
         |  SELECT COUNT(*) AS N FROM EVENT_LOG
         |) INTO CONSOLE WITH (OUTPUT_FORMAT = 'JSON')""".stripMargin)
    assert(check.console.head.contains("\"N\":2"), check.console.head)
  }

  test("AS 'alias' rewrite skips string literals; space aliases work") {
    // the shim rewrites only genuine SQLite-style aliases — an `AS 'x'`
    // sequence inside a double-quoted Spark string literal is data
    assert(Aql.rewriteSqliteAliases("SELECT 1 AS 'Value'") ==
      "SELECT 1 AS `Value`")
    assert(Aql.rewriteSqliteAliases("SELECT 1 AS 'x y', 2 AS 'z'") ==
      "SELECT 1 AS `x y`, 2 AS `z`")
    val literal = """SELECT x FROM t WHERE x = "foo AS 'bar' baz""""
    assert(Aql.rewriteSqliteAliases(literal) == literal)
    val single = "SELECT 'keep AS ''x'' here' AS 'V'"
    assert(Aql.rewriteSqliteAliases(single) ==
      "SELECT 'keep AS ''x'' here' AS `V`")
    // backslash-escaped quote inside a literal (Spark default dialect)
    // must not flip quote state: the real alias after it still rewrites
    val escaped = """SELECT 'it\'s' AS v, 1 AS 'V'"""
    assert(Aql.rewriteSqliteAliases(escaped) ==
      """SELECT 'it\'s' AS v, 1 AS `V`""")
    // an apostrophe inside a -- comment must not desync the scan
    val commented = "SELECT 1 AS 'A' -- don't trip\n, 2 AS 'B'"
    assert(Aql.rewriteSqliteAliases(commented) ==
      "SELECT 1 AS `A` -- don't trip\n, 2 AS `B`")
    // ... nor inside a /* */ block comment
    val block = "SELECT /* don't */ 1 AS 'C'"
    assert(Aql.rewriteSqliteAliases(block) ==
      "SELECT /* don't */ 1 AS `C`")
    // end to end: the literal survives the delegated-SQL path intact
    val r = Aql.run(spark,
      """DATA 'T' ([["foo AS 'bar'"], ["other"]]) WITH (COLUMNS = 'S')
        |QUERY 'Q' FROM BLOCK T (
        |  SELECT count(*) AS N FROM T WHERE S = "foo AS 'bar'"
        |) INTO CONSOLE WITH (OUTPUT_FORMAT = 'JSON')""".stripMargin)
    assert(r.console.head.contains("\"N\":1"), r.console.head)
  }

  test("TRANSACTIONAL publish quotes space/reserved column identifiers") {
    // ADVICE r4: stage→target INSERT built with unquoted identifiers
    // failed for column names with spaces (exactly what AS 'x y'
    // produces) — the publish must quote per the connection's own
    // identifier-quote string
    System.setProperty("derby.stream.error.file", "/tmp/derby_test.log")
    val db = java.nio.file.Files.createTempDirectory("graft_derby_q")
      .resolve("db").toString
    def conn =
      s"""CONNECTION 'DB' (
         |  DRIVER = 'derby',
         |  CONNECTIONSTRING = 'jdbc:derby:$db;create=true'
         |)""".stripMargin
    Aql.run(spark,
      s"""$conn
         |EXEC 'Make' FROM CONNECTION DB (
         |  CREATE TABLE TQ ("row id" INT, "ORDER" INT)
         |)""".stripMargin)
    val r = Aql.run(spark,
      s"""$conn
         |DATA 'Src' ([[1, 10], [2, 20]]) WITH (COLUMNS = 'ID, N')
         |QUERY 'Load' FROM BLOCK Src (
         |  SELECT ID AS 'row id', N AS 'ORDER' FROM Src
         |) INTO CONNECTION DB WITH (TABLE = 'TQ', TRANSACTIONAL = 'TRUE')
         |""".stripMargin)
    val after = Aql.run(spark,
      s"""$conn
         |QUERY 'Check' FROM CONNECTION DB (
         |  SELECT SUM("row id") AS RID, SUM("ORDER") AS ORD FROM TQ
         |) INTO CONSOLE WITH (OUTPUT_FORMAT = 'JSON')""".stripMargin)
    assert(after.console.head.contains("\"RID\":3") &&
      after.console.head.contains("\"ORD\":30"), after.console.head)
  }

  test("TRANSACTIONAL: a save() that dies partway leaves no staged table") {
    // ADVICE r4: staging was registered in pendingPublish only after
    // .save() succeeded, so a partial stage write was never dropped
    System.setProperty("derby.stream.error.file", "/tmp/derby_test.log")
    val db = java.nio.file.Files.createTempDirectory("graft_derby_pw")
      .resolve("db").toString
    def conn =
      s"""CONNECTION 'DB' (
         |  DRIVER = 'derby',
         |  CONNECTIONSTRING = 'jdbc:derby:$db;create=true'
         |)""".stripMargin
    Aql.run(spark,
      s"""$conn
         |EXEC 'Make' FROM CONNECTION DB (CREATE TABLE TP (N INT))""".stripMargin)
    // raise_error fires inside the distributed write of the SECOND sink,
    // after the first sink's stage has already been written
    val e = intercept[Exception](Aql.run(spark,
      s"""$conn
         |DATA 'A' ([[1], [2]]) WITH (COLUMNS = 'N')
         |QUERY 'LoadOk' FROM BLOCK A (SELECT N FROM A)
         |  INTO CONNECTION DB WITH (TABLE = 'TP', TRANSACTIONAL = 'TRUE')
         |QUERY 'LoadBoom' FROM BLOCK A (
         |  SELECT CASE WHEN N > 1 THEN CAST(raise_error('boom') AS INT)
         |              ELSE N END AS N FROM A
         |) INTO CONNECTION DB WITH (TABLE = 'TP', TRANSACTIONAL = 'TRUE')
         |  AFTER LoadOk""".stripMargin))
    assert(e.getMessage != null)
    val after = Aql.run(spark,
      s"""$conn
         |QUERY 'Check' FROM CONNECTION DB (
         |  SELECT
         |    (SELECT COUNT(*) FROM TP) AS NROWS,
         |    (SELECT COUNT(*) FROM SYS.SYSTABLES WHERE TABLENAME LIKE '%STAGE%')
         |      AS NSTAGE
         |  FROM SYSIBM.SYSDUMMY1
         |) INTO CONSOLE WITH (OUTPUT_FORMAT = 'JSON')""".stripMargin)
    assert(after.console.head.contains("\"NROWS\":0") &&
      after.console.head.contains("\"NSTAGE\":0"),
      s"partial-write leftovers: ${after.console.head}")
  }

  test("Mandrill destination: SPLIT sends one templated email per row") {
    // reference engine/mandrill_destination.go:52-97 + recipient grammar
    // :12,38-50; POST transport injected (zero egress)
    val posts = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    Aql.run(spark,
      """CONNECTION 'Email' (
        |  DRIVER = 'mandrill', API_KEY = 'k123',
        |  TEMPLATE = 'daily-report',
        |  RECIPIENTS = 'Bob Smith <bob@example.com>, Ann <ann@example.org>'
        |)
        |
        |DATA 'Rows' (
        |  [[1, "a"], [2, "b"]]
        |) WITH (COLUMNS = 'Id, Tag')
        |
        |TRANSFORM 'Send' FROM BLOCK Rows (
        |  APPLY Id, Tag
        |) INTO CONNECTION Email
        |  WITH (SPLIT = 'True', SUBJECT = 'hi', SENDER = 'Sys <sys@example.com>')""".stripMargin,
      notifyPost = (url, body) => { posts += ((url, body)); () })
    assert(posts.size == 2, "SPLIT must send one email per row")
    assert(posts.forall(_._1 == graft.engine.Notify.MandrillEndpoint))
    val body = posts.map(_._2).find(_.contains("\"content\":\"a\"")).get
    assert(body.contains("\"template_name\":\"daily-report\""))
    assert(body.contains("\"key\":\"k123\""))
    assert(body.contains("\"email\":\"bob@example.com\""))
    assert(body.contains("\"name\":\"Bob Smith\""))
    assert(body.contains("\"email\":\"ann@example.org\""))
    assert(body.contains("\"from_email\":\"sys@example.com\""))
    assert(body.contains("\"subject\":\"hi\""))
  }

  test("Mandrill destination: batch mode sends one email with all rows") {
    val posts = scala.collection.mutable.ArrayBuffer.empty[String]
    Aql.run(spark,
      """CONNECTION 'Email' (
        |  DRIVER = 'mandrill', API_KEY = 'k', TEMPLATE = 't',
        |  RECIPIENTS = 'Bob <bob@example.com>'
        |)
        |
        |DATA 'Rows' ([[1], [2], [3]]) WITH (COLUMNS = 'Id')
        |  INTO CONNECTION Email""".stripMargin,
      notifyPost = (_, body) => { posts += body; () })
    assert(posts.size == 1, "batch mode = single email")
    assert(posts.head.contains("\"name\":\"rows\""))
    assert(Seq(1, 2, 3).forall(i => posts.head.contains(s"\"Id\":$i")))
    // bad recipient syntax errors with the reference's message
    val e = intercept[Exception](graft.engine.Notify.parseRecipients("nope"))
    assert(e.getMessage.contains("Expecting NAME <EMAIL>"))
  }

  test("Slack forwarding: SET options route block events to the webhook") {
    // reference engine/slack.go:43-64 + docs cli.md "Logging to Slack"
    val posts = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    Aql.run(spark,
      """SET SLACK_WEBHOOK_URL = 'https://hooks.test/abc';
        |SET SLACK_LOG_LEVEL = 'INFO';
        |SET SLACK_CHANNEL = '#jobs';
        |SET SLACK_NAME = 'nightly';
        |
        |DATA 'D' ([[1]])
        |  INTO CONSOLE WITH (COLUMNS = 'V', OUTPUT_FORMAT = 'JSON')""".stripMargin,
      notifyPost = (url, body) => { posts += ((url, body)); () })
    assert(posts.nonEmpty)
    assert(posts.head._1 == "https://hooks.test/abc")
    assert(posts.head._2.contains("\"text\":\"<nightly>: D - INFO - block executed\""))
    assert(posts.head._2.contains("\"channel\":\"#jobs\""))
    // min level ERROR suppresses INFO events
    val quiet = scala.collection.mutable.ArrayBuffer.empty[String]
    Aql.run(spark,
      """SET SLACK_WEBHOOK_URL = 'https://hooks.test/abc';
        |SET SLACK_LOG_LEVEL = 'ERROR';
        |DATA 'D' ([[1]]) WITH (COLUMNS = 'V') INTO CONSOLE""".stripMargin,
      notifyPost = (_, b) => { quiet += b; () })
    assert(quiet.isEmpty)
  }

  test("multi-source transform unions inputs") {
    val r = Aql.run(spark,
      """DATA 'A' ([[1], [2]]) WITH (COLUMNS = 'V')
        |DATA 'B' ([[10], [20]]) WITH (COLUMNS = 'V')
        |
        |TRANSFORM 'Sum' FROM BLOCK A, BLOCK B (
        |  AGGREGATE SUM(V) AS Total
        |) INTO CONSOLE WITH (OUTPUT_FORMAT = 'JSON',
        |                     MULTISOURCE_ORDER = 'SEQUENTIAL')""".stripMargin)
    assert(r.console.head.contains("\"Total\":33"))
  }

  test("DEDUP verb: KEEP LAST BY gives the deterministic survivor") {
    // beyond-parity verb (SURVEY §7.3): exact dedup as a language operator
    val r = Aql.run(spark,
      """DATA 'D' (
        |  [[1, "old", 10], [1, "new", 20], [2, "only", 5]]
        |) WITH (COLUMNS = 'Id, Tag, Seq')
        |
        |TRANSFORM 'Unique' FROM BLOCK D (
        |  DEDUP ON Id KEEP LAST BY Seq
        |) INTO CONSOLE""".stripMargin)
    val rows = r.outputs("UNIQUE").collect()
      .map(x => (x.getLong(0), x.getString(1))).sortBy(_._1)
    assert(rows.toSeq == Seq((1L, "new"), (2L, "only")))
  }

  test("DEDUP verb without KEEP: one row per key") {
    val r = Aql.run(spark,
      """DATA 'D' (
        |  [[1, "a"], [1, "b"], [2, "c"], [2, "d"], [3, "e"]]
        |) WITH (COLUMNS = 'Id, Tag')
        |
        |TRANSFORM 'Unique' FROM BLOCK D (
        |  DEDUP ON Id
        |) INTO CONSOLE""".stripMargin)
    assert(r.outputs("UNIQUE").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 3L))
  }

  test("MERGE verb: latest-version-wins upsert with tombstones") {
    // beyond-parity verb (SURVEY §7.3): q86's CDC compaction as a language
    // operator. Key 1 updated (ver 2 > 1), key 2 tombstoned, key 3
    // untouched, key 4 inserted; key 5 ties on version — the CHANGES side
    // must win (a change re-stating the current version applies).
    val r = Aql.run(spark,
      """DATA 'Base' (
        |  [[1, "a", 1, ""], [2, "b", 1, ""], [3, "c", 1, ""], [5, "e", 3, ""]]
        |) WITH (COLUMNS = 'Id, Val, Ver, Op')
        |
        |DATA 'Changes' (
        |  [[1, "a2", 2, ""], [2, "b", 2, "D"], [4, "d", 1, ""],
        |   [5, "e2", 3, ""]]
        |) WITH (COLUMNS = 'Id, Val, Ver, Op')
        |
        |TRANSFORM 'Merged' FROM BLOCK Base, BLOCK Changes (
        |  MERGE Base WITH Changes ON Id VERSION BY Ver DELETE WHEN Op = 'D'
        |) INTO CONSOLE""".stripMargin)
    val rows = r.outputs("MERGED").collect()
      .map(x => (x.getLong(0), x.getString(1), x.getLong(2))).sortBy(_._1)
    assert(rows.toSeq == Seq(
      (1L, "a2", 2L), (3L, "c", 1L), (4L, "d", 1L), (5L, "e2", 3L)))

    // schema mismatch fails with a clear error
    val e = intercept[Exception](Aql.run(spark,
      """DATA 'Base' ([[1, "a", 1]]) WITH (COLUMNS = 'Id, Val, Ver')
        |DATA 'Chg' ([[1, 1]]) WITH (COLUMNS = 'Id, Ver')
        |TRANSFORM 'M' FROM BLOCK Base, BLOCK Chg (
        |  MERGE Base WITH Chg ON Id VERSION BY Ver
        |) INTO CONSOLE""".stripMargin))
    assert(e.getMessage.contains("missing base columns"), e.getMessage)

    // malformed clause fails at compile/validate time
    val p = intercept[Exception](Aql.run(spark,
      """DATA 'D' ([[1]]) WITH (COLUMNS = 'Id')
        |TRANSFORM 'M' FROM BLOCK D (MERGE D ON Id) INTO CONSOLE
        |""".stripMargin))
    assert(p.getMessage.contains("cannot parse MERGE"), p.getMessage)

    // string VERSION BY rejected: '10' < '9' lexicographically would pick
    // wrong winners silently
    val v = intercept[Exception](Aql.run(spark,
      """DATA 'Base' ([[1, "a", "9"]]) WITH (COLUMNS = 'Id, Val, Ver')
        |DATA 'Chg' ([[1, "b", "10"]]) WITH (COLUMNS = 'Id, Val, Ver')
        |TRANSFORM 'M' FROM BLOCK Base, BLOCK Chg (
        |  MERGE Base WITH Chg ON Id VERSION BY Ver
        |) INTO CONSOLE""".stripMargin))
    assert(v.getMessage.contains("must be numeric/date/timestamp"),
      v.getMessage)
  }

  test("NEARDEDUP verb: longest survivor per near-dup cluster") {
    // beyond-parity verb (SURVEY §7.3): the q31→q47→q118 pipeline as a
    // language operator. Docs 1/2/3 are 3-gram near-dups (Jaccard ≥ 0.5
    // pairwise chain); doc 3 is longest so it survives for the cluster.
    // Doc 4 shares no shingles and doc 5 is too short to shingle — both
    // pass through.
    val r = Aql.run(spark,
      """DATA 'D' (
        |  [[1, "the quick brown fox jumps over the lazy dog"],
        |   [2, "the quick brown fox jumps over the lazy cat"],
        |   [3, "a very quick brown fox jumps over the lazy dog today"],
        |   [4, "completely different words here with nothing shared at all"],
        |   [5, "too short"]]
        |) WITH (COLUMNS = 'Id, Txt')
        |
        |TRANSFORM 'Survivors' FROM BLOCK D (
        |  NEARDEDUP ON Txt KEY Id THRESHOLD 0.4
        |) INTO CONSOLE""".stripMargin)
    assert(r.outputs("SURVIVORS").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(3L, 4L, 5L))

    // non-integral key fails with a clear error
    val e = intercept[Exception](Aql.run(spark,
      """DATA 'D' ([["k1", "some text here"]]) WITH (COLUMNS = 'Id, Txt')
        |TRANSFORM 'N' FROM BLOCK D (NEARDEDUP ON Txt KEY Id) INTO CONSOLE
        |""".stripMargin))
    assert(e.getMessage.contains("must be integral"), e.getMessage)

    // malformed clause fails at compile/validate time
    val p = intercept[Exception](Aql.run(spark,
      """DATA 'D' ([[1, "x"]]) WITH (COLUMNS = 'Id, Txt')
        |TRANSFORM 'N' FROM BLOCK D (NEARDEDUP Txt) INTO CONSOLE
        |""".stripMargin))
    assert(p.getMessage.contains("cannot parse NEARDEDUP"), p.getMessage)

    // out-of-range threshold rejected
    val t = intercept[Exception](Aql.run(spark,
      """DATA 'D' ([[1, "x"]]) WITH (COLUMNS = 'Id, Txt')
        |TRANSFORM 'N' FROM BLOCK D (
        |  NEARDEDUP ON Txt KEY Id THRESHOLD 1.5
        |) INTO CONSOLE""".stripMargin))
    assert(t.getMessage.contains("out of range"), t.getMessage)
  }

  test("NEARDEDUP verb: exact copies collapse through the exact-first path") {
    // The verb dedups identical texts BEFORE pair generation (SCALING.md)
    // — this pins the fan-back semantics: (a) exact copies of a
    // shingle-able text are a cluster even with no cross-text pair, min
    // key survives; (b) copies merge with their text's near-dup cluster
    // and the global longest-text/min-key rule decides across ALL
    // copies; (c) copies of a short (< 3 tokens) text never cluster and
    // all pass through.
    val r = Aql.run(spark,
      """DATA 'D' (
        |  [[1, "the quick brown fox jumps over the lazy dog"],
        |   [7, "the quick brown fox jumps over the lazy dog"],
        |   [2, "a very quick brown fox jumps over the lazy dog today"],
        |   [9, "a very quick brown fox jumps over the lazy dog today"],
        |   [4, "isolated identical sentence repeated twice for this test"],
        |   [8, "isolated identical sentence repeated twice for this test"],
        |   [5, "too short"],
        |   [6, "too short"]]
        |) WITH (COLUMNS = 'Id, Txt')
        |
        |TRANSFORM 'Survivors' FROM BLOCK D (
        |  NEARDEDUP ON Txt KEY Id THRESHOLD 0.4
        |) INTO CONSOLE""".stripMargin)
    // 1/7/2/9 form one cluster (1≈2 near-dup, copies ride along): longest
    // text wins, min key among its copies → 2. 4/8 are an isolated exact
    // clique → 4. 5/6 are short copies → both pass through.
    assert(r.outputs("SURVIVORS").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(2L, 4L, 5L, 6L))
  }

  test("NEARDEDUP METHOD LSH: same survivors as the exact path; options validate") {
    // banded-MinHash candidate generation (NearDup.minhashPairs) through
    // the language layer: candidates are exact-verified, and at this
    // threshold autoBands picks a banding with per-pair miss ≤ 1e-6, so
    // the survivor set must equal the exact method's on the same corpus
    // (the q124 gate asserts the same at sf scale via q120's oracle).
    val data =
      """DATA 'D' (
        |  [[1, "the quick brown fox jumps over the lazy dog"],
        |   [2, "the quick brown fox jumps over the lazy cat"],
        |   [3, "a very quick brown fox jumps over the lazy dog today"],
        |   [4, "completely different words here with nothing shared at all"],
        |   [5, "too short"]]
        |) WITH (COLUMNS = 'Id, Txt')""".stripMargin
    def survivors(verb: String): Seq[Long] = Aql.run(spark,
      s"""$data
         |TRANSFORM 'Survivors' FROM BLOCK D (
         |  $verb
         |) INTO CONSOLE""".stripMargin)
      .outputs("SURVIVORS").collect().map(_.getLong(0)).sorted.toSeq
    val exact = survivors("NEARDEDUP ON Txt KEY Id THRESHOLD 0.4 METHOD EXACT")
    assert(exact == Seq(3L, 4L, 5L))
    assert(survivors("NEARDEDUP ON Txt KEY Id THRESHOLD 0.4 METHOD LSH")
      == exact)
    // METHOD omitted → the LSH default (round 7b), same survivors
    assert(survivors("NEARDEDUP ON Txt KEY Id THRESHOLD 0.4") == exact)
    graft.transforms.TransformParser
      .parse("NEARDEDUP ON Txt KEY Id THRESHOLD 0.4") match {
        case v: graft.transforms.TransformParser.NearDedupVerb =>
          assert(v.method == "LSH", s"default method was ${v.method}")
        case other => fail(s"expected NearDedupVerb, got $other")
      }
    // …but an un-bandable threshold falls back to EXACT instead of
    // failing (explicit METHOD LSH there still errors, asserted below)
    graft.transforms.TransformParser
      .parse("NEARDEDUP ON Txt KEY Id THRESHOLD 0.05") match {
        case v: graft.transforms.TransformParser.NearDedupVerb =>
          assert(v.method == "EXACT",
            s"low-threshold default was ${v.method}")
        case other => fail(s"expected NearDedupVerb, got $other")
      }
    // explicit banding overrides autoBands (64 × 2 = full signature reuse)
    assert(survivors(
      "NEARDEDUP ON Txt KEY Id THRESHOLD 0.4 METHOD LSH BANDS 64 ROWS 2")
      == exact)
    // STAR ABOVE (hot-bucket anchor split, SkewScale-measured) keeps the
    // cluster partition and therefore the survivors — here every bucket
    // exceeds the tiny cap, so the star path carries ALL candidates
    assert(survivors(
      "NEARDEDUP ON Txt KEY Id THRESHOLD 0.4 METHOD LSH STAR ABOVE 1")
      == exact)

    // unknown method rejected
    val m = intercept[Exception](survivors(
      "NEARDEDUP ON Txt KEY Id METHOD FUZZY"))
    assert(m.getMessage.contains("METHOD FUZZY unknown"), m.getMessage)
    // BANDS/ROWS without METHOD LSH rejected
    val b = intercept[Exception](survivors(
      "NEARDEDUP ON Txt KEY Id METHOD EXACT BANDS 8 ROWS 4"))
    assert(b.getMessage.contains("only apply to METHOD LSH"), b.getMessage)
    // banding must fit the 128-permutation signature
    val o = intercept[Exception](survivors(
      "NEARDEDUP ON Txt KEY Id METHOD LSH BANDS 64 ROWS 4"))
    assert(o.getMessage.contains("BANDS × ROWS ≤ 128"), o.getMessage)
    // BANDS without ROWS is a parse error, not a silent default
    val h = intercept[Exception](survivors(
      "NEARDEDUP ON Txt KEY Id METHOD LSH BANDS 64"))
    assert(h.getMessage.contains("cannot parse NEARDEDUP"), h.getMessage)
    // a threshold too low for any auto banding fails at parse time with
    // actionable guidance (explicit BANDS/ROWS or METHOD EXACT still work)
    val t = intercept[Exception](survivors(
      "NEARDEDUP ON Txt KEY Id THRESHOLD 0.05 METHOD LSH"))
    assert(t.getMessage.contains("raise the threshold"), t.getMessage)
  }

  test("NEARDEDUP AGAINST: batch rows matching the corpus drop; the rest pass") {
    // the incremental form (q85's batch-vs-corpus shape): batch doc 10
    // near-matches corpus doc 2 and drops; 40 matches nothing and 50 is
    // too short to shingle — both pass through. No batch-internal
    // collapse (that's the single-source verb's job).
    val script =
      """DATA 'Batch' (
        |  [[10, "the quick brown fox jumps over the lazy dog"],
        |   [40, "completely different words here with nothing shared at all"],
        |   [50, "too short"]]
        |) WITH (COLUMNS = 'Id, Txt')
        |DATA 'Corpus' (
        |  [[2, "the quick brown fox jumps over the lazy cat"]]
        |) WITH (COLUMNS = 'Id, Txt')
        |TRANSFORM 'Kept' FROM BLOCK Batch, BLOCK Corpus (
        |  NEARDEDUP Batch AGAINST Corpus ON Txt KEY Id THRESHOLD 0.4%s
        |) INTO CONSOLE""".stripMargin
    def kept(methodSuffix: String): Seq[Long] =
      Aql.run(spark, script.format(methodSuffix))
        .outputs("KEPT").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept(" METHOD EXACT") == Seq(40L, 50L))
    // the banded cross-index path agrees with the exact postings join;
    // METHOD omitted resolves to the same LSH default as the
    // single-source form
    assert(kept(" METHOD LSH") == Seq(40L, 50L))
    assert(kept("") == Seq(40L, 50L))

    // STAR ABOVE has no meaning without clusters
    val e = intercept[Exception](Aql.run(spark,
      """DATA 'B' ([[1, "x"]]) WITH (COLUMNS = 'Id, Txt')
        |DATA 'C' ([[2, "y"]]) WITH (COLUMNS = 'Id, Txt')
        |TRANSFORM 'K' FROM BLOCK B, BLOCK C (
        |  NEARDEDUP B AGAINST C ON Txt KEY Id METHOD LSH STAR ABOVE 4
        |) INTO CONSOLE""".stripMargin))
    assert(e.getMessage.contains("single-source form"), e.getMessage)

    // unknown source name is a clear error
    val u = intercept[Exception](Aql.run(spark,
      """DATA 'B' ([[1, "x"]]) WITH (COLUMNS = 'Id, Txt')
        |TRANSFORM 'K' FROM BLOCK B (
        |  NEARDEDUP B AGAINST Nope ON Txt KEY Id
        |) INTO CONSOLE""".stripMargin))
    assert(u.getMessage.toLowerCase.contains("nope"), u.getMessage)

    // AGAINST STORED: build the persisted band index over the SAME
    // one-doc corpus (NearDup.bandStoreFrom — q144's artifact), then
    // probe it through the verb from the files alone: the kept set
    // must equal the two-source forms' exactly. Banding must match the
    // store (autoBands(0.4) = 128×1, same as the build below).
    import spark.implicits._
    val shC = graft.transforms.NearDup.shingled(
      Seq((2L, "the quick brown fox jumps over the lazy cat"))
        .toDF("id", "txt"), "id", "txt")
    val sBase = graft.transforms.NearDup.bandStoreFrom(shC,
      numPerm = 128, numBands = 128, rowsPerBand = 1, cells = 8)
    val keptStored = Aql.run(spark,
      s"""DATA 'Batch' (
         |  [[10, "the quick brown fox jumps over the lazy dog"],
         |   [40, "completely different words here with nothing shared at all"],
         |   [50, "too short"]]
         |) WITH (COLUMNS = 'Id, Txt')
         |TRANSFORM 'Kept' FROM BLOCK Batch (
         |  NEARDEDUP Batch AGAINST STORED '$sBase' ON Txt KEY Id
         |    THRESHOLD 0.4 METHOD LSH
         |) INTO CONSOLE""".stripMargin)
      .outputs("KEPT").collect().map(_.getLong(0)).sorted.toSeq
    assert(keptStored == Seq(40L, 50L), keptStored.toString)
    // the stored index is banded — only METHOD LSH can probe it
    val sm = intercept[Exception](Aql.run(spark,
      s"""DATA 'B' ([[1, "x"]]) WITH (COLUMNS = 'Id, Txt')
         |TRANSFORM 'K' FROM BLOCK B (
         |  NEARDEDUP B AGAINST STORED '$sBase' ON Txt KEY Id METHOD EXACT
         |) INTO CONSOLE""".stripMargin))
    assert(sm.getMessage.contains("requires METHOD LSH"), sm.getMessage)
    // mismatched banding errors instead of silently missing every pair
    val mb = intercept[Exception](Aql.run(spark,
      s"""DATA 'B' ([[1, "one two three four"]]) WITH (COLUMNS = 'Id, Txt')
         |TRANSFORM 'K' FROM BLOCK B (
         |  NEARDEDUP B AGAINST STORED '$sBase' ON Txt KEY Id
         |    THRESHOLD 0.4 METHOD LSH BANDS 64 ROWS 2
         |) INTO CONSOLE""".stripMargin))
    assert(mb.getMessage.contains("mismatched banding"), mb.getMessage)
  }

  test("INDEX verb: durable build-then-probe across engine runs; validate") {
    // the INDEX verb writes to a USER path (no temp-dir registration in
    // the verb itself — registered here only so the TEST cleans up):
    // script A builds, a SEPARATE Aql.run probes from the files alone —
    // the "write once, probe forever" contract at the language layer.
    val dir = java.nio.file.Files.createTempDirectory("graft_aqlspec_index")
    graft.queries.Advanced.registerTmpDir(dir)
    val lshIdx = dir.resolve("lsh").toString
    val built = Aql.run(spark,
      s"""DATA 'Corpus' (
         |  [[2, "the quick brown fox jumps over the lazy cat"]]
         |) WITH (COLUMNS = 'Id, Txt')
         |TRANSFORM 'Built' FROM BLOCK Corpus (
         |  INDEX ON Txt KEY Id METHOD LSH THRESHOLD 0.4 CELLS 8
         |    INTO '$lshIdx'
         |) INTO CONSOLE""".stripMargin).outputs("BUILT").collect()
    // one summary row: (path, kind, cells, indexed_rows)
    assert(built.length == 1)
    assert(built.head.getAs[String]("path") == lshIdx)
    assert(built.head.getAs[String]("kind") == "lsh_text")
    assert(built.head.getAs[Long]("indexed_rows") == 1L)
    // separate run, files only: same kept set as the two-source form
    // (autoBands(0.4) = 128×1 on both sides)
    val kept = Aql.run(spark,
      s"""DATA 'Batch' (
         |  [[10, "the quick brown fox jumps over the lazy dog"],
         |   [40, "completely different words here with nothing shared at all"],
         |   [50, "too short"]]
         |) WITH (COLUMNS = 'Id, Txt')
         |TRANSFORM 'Kept' FROM BLOCK Batch (
         |  NEARDEDUP Batch AGAINST STORED '$lshIdx' ON Txt KEY Id
         |    THRESHOLD 0.4 METHOD LSH
         |) INTO CONSOLE""".stripMargin)
      .outputs("KEPT").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(40L, 50L), kept.toString)

    // TYPO family through the verb too: build a 2-string delete index,
    // probe drops the ED-1 batch row and keeps the unrelated one
    val typoIdx = dir.resolve("typo").toString
    Aql.run(spark,
      s"""DATA 'Corpus' ([[1, "alpha"], [2, "beta"]])
         |  WITH (COLUMNS = 'Id, Txt')
         |TRANSFORM 'Built' FROM BLOCK Corpus (
         |  INDEX ON Txt KEY Id METHOD TYPO CELLS 4 INTO '$typoIdx'
         |) INTO CONSOLE""".stripMargin)
    val keptTypo = Aql.run(spark,
      s"""DATA 'Batch' ([[7, "alpho"], [8, "gamma"]])
         |  WITH (COLUMNS = 'Id, Txt')
         |TRANSFORM 'Kept' FROM BLOCK Batch (
         |  NEARDEDUP Batch AGAINST STORED '$typoIdx' ON Txt KEY Id
         |    METHOD TYPO
         |) INTO CONSOLE""".stripMargin)
      .outputs("KEPT").collect().map(_.getLong(0)).toSeq
    assert(keptTypo == Seq(8L), keptTypo.toString)

    // cross-family artifact mixups error instead of silently matching
    // nothing: probing the TYPO store with METHOD LSH names both kinds
    val km = intercept[Exception](Aql.run(spark,
      s"""DATA 'B' ([[1, "one two three four"]]) WITH (COLUMNS = 'Id, Txt')
         |TRANSFORM 'K' FROM BLOCK B (
         |  NEARDEDUP B AGAINST STORED '$typoIdx' ON Txt KEY Id
         |    THRESHOLD 0.4 METHOD LSH
         |) INTO CONSOLE""".stripMargin))
    assert(km.getMessage.contains("not interchangeable"), km.getMessage)

    // option algebra: each knob only applies to its method
    def bad(body: String): String =
      intercept[Exception](Aql.run(spark,
        s"""DATA 'C' ([[1, "x"]]) WITH (COLUMNS = 'Id, Txt')
           |TRANSFORM 'K' FROM BLOCK C (
           |  $body
           |) INTO CONSOLE""".stripMargin)).getMessage
    assert(bad(s"INDEX ON Txt KEY Id METHOD LSH TABLES 8 INTO '$lshIdx'")
      .contains("TABLES only applies to METHOD COSINE"))
    assert(bad(s"INDEX ON Txt KEY Id METHOD TYPO THRESHOLD 0.5 INTO '$lshIdx'")
      .contains("THRESHOLD only applies to METHOD LSH"))
    assert(bad(s"INDEX ON Txt KEY Id METHOD IVF BANDS 4 ROWS 2 INTO '$lshIdx'")
      .contains("BANDS/ROWS only applies to METHOD LSH"))
    assert(bad(s"INDEX ON Txt KEY Id METHOD NOPE INTO '$lshIdx'")
      .contains("METHOD NOPE unknown"))
    assert(bad("INDEX ON Txt KEY Id METHOD LSH") // INTO is mandatory
      .toLowerCase.contains("cannot parse index"))
    assert(bad(s"INDEX ON Txt KEY Nope METHOD LSH INTO '$lshIdx'")
      .contains("unknown column Nope"))
    // LSH on a non-string / TYPO on a non-string error clearly
    assert(bad(s"INDEX ON Id KEY Id METHOD LSH INTO '$lshIdx'")
      .contains("must be string"))
  }

  test("INDEX APPEND: grows each stored family; append == full build") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_aqlspec_appidx")
    graft.queries.Advanced.registerTmpDir(dir)
    def idxScript(data: String, cols: String, body: String) =
      s"""DATA 'Corpus' ($data) WITH (COLUMNS = '$cols')
         |TRANSFORM 'Built' FROM BLOCK Corpus (
         |  $body
         |) INTO CONSOLE""".stripMargin

    // LSH: build doc A, APPEND doc B in a separate run; probing the
    // grown artifact answers exactly like one full build of A∪B —
    // band rows are pure functions of each doc, so the equivalence is
    // exact, not approximate
    val grown = dir.resolve("lsh_grown").toString
    val full = dir.resolve("lsh_full").toString
    val docA = "the quick brown fox jumps over the lazy cat"
    val docB = "entirely unrelated sentences about winter weather patterns"
    Aql.run(spark, idxScript(s"""[[1, "$docA"]]""", "Id, Txt",
      s"INDEX ON Txt KEY Id METHOD LSH THRESHOLD 0.4 CELLS 8 INTO '$grown'"))
    val appended = Aql.run(spark, idxScript(s"""[[2, "$docB"]]""", "Id, Txt",
      s"INDEX ON Txt KEY Id METHOD LSH INTO '$grown' APPEND"))
      .outputs("BUILT").collect()
    // summary row reports the artifact's total entries after the append
    assert(appended.head.getAs[Long]("indexed_rows") == 2L)
    assert(appended.head.getAs[Int]("cells") == 8)
    Aql.run(spark, idxScript(
      s"""[[1, "$docA"], [2, "$docB"]]""", "Id, Txt",
      s"INDEX ON Txt KEY Id METHOD LSH THRESHOLD 0.4 CELLS 8 INTO '$full'"))
    def probeLsh(base: String): Seq[Long] = Aql.run(spark,
      s"""DATA 'Batch' (
         |  [[10, "the quick brown fox jumps over the lazy dog"],
         |   [20, "entirely unrelated sentences about winter weather storms"],
         |   [30, "no overlap with anything stored whatsoever in here"]]
         |) WITH (COLUMNS = 'Id, Txt')
         |TRANSFORM 'Kept' FROM BLOCK Batch (
         |  NEARDEDUP Batch AGAINST STORED '$base' ON Txt KEY Id
         |    THRESHOLD 0.4 METHOD LSH
         |) INTO CONSOLE""".stripMargin)
      .outputs("KEPT").collect().map(_.getLong(0)).sorted.toSeq
    val keptGrown = probeLsh(grown)
    assert(keptGrown == probeLsh(full), s"append != full build: $keptGrown")
    // doc 10 matched the BUILT entry, doc 20 the APPENDED one
    assert(keptGrown == Seq(30L), keptGrown.toString)

    // TYPO: the appended string matches ED-1 probes too
    val typoIdx = dir.resolve("typo").toString
    Aql.run(spark, idxScript("""[[1, "alpha"]]""", "Id, Txt",
      s"INDEX ON Txt KEY Id METHOD TYPO CELLS 4 INTO '$typoIdx'"))
    Aql.run(spark, idxScript("""[[2, "beta"]]""", "Id, Txt",
      s"INDEX ON Txt KEY Id METHOD TYPO INTO '$typoIdx' APPEND"))
    val keptTypo = Aql.run(spark,
      s"""DATA 'Batch' ([[7, "alpho"], [8, "betb"], [9, "gamma"]])
         |  WITH (COLUMNS = 'Id, Txt')
         |TRANSFORM 'Kept' FROM BLOCK Batch (
         |  NEARDEDUP Batch AGAINST STORED '$typoIdx' ON Txt KEY Id
         |    METHOD TYPO
         |) INTO CONSOLE""".stripMargin)
      .outputs("KEPT").collect().map(_.getLong(0)).toSeq
    assert(keptTypo == Seq(9L), keptTypo.toString)

    // COSINE: batch vectors near the appended direction are dropped
    val cosIdx = dir.resolve("cos").toString
    val vpqA = dir.resolve("vecsA.parquet").toString
    val vpqB = dir.resolve("vecsB.parquet").toString
    val bpq = dir.resolve("vecsBatch.parquet").toString
    Seq((1L, Array(1.0, 0.0))).toDF("vid", "emb").write.parquet(vpqA)
    Seq((2L, Array(0.0, 1.0))).toDF("vid", "emb").write.parquet(vpqB)
    Seq((7L, Array(0.05, 1.0)), (8L, Array(-1.0, 0.05)))
      .toDF("vid", "emb").write.parquet(bpq)
    def vecScript(pq: String, body: String) =
      s"""CONNECTION 'V' (DRIVER = 'file', FILE = '$pq', FORMAT = 'parquet')
         |TRANSFORM 'T' FROM CONNECTION V (
         |  $body
         |) INTO CONSOLE""".stripMargin
    Aql.run(spark, vecScript(vpqA,
      s"INDEX ON emb KEY vid METHOD COSINE CELLS 4 TABLES 8 BITS 2 " +
        s"INTO '$cosIdx'"))
    Aql.run(spark, vecScript(vpqB,
      s"INDEX ON emb KEY vid METHOD COSINE INTO '$cosIdx' APPEND"))
    val keptCos = Aql.run(spark,
      s"""CONNECTION 'B' (DRIVER = 'file', FILE = '$bpq', FORMAT = 'parquet')
         |TRANSFORM 'Kept' FROM CONNECTION B (
         |  NEARDEDUP B AGAINST STORED '$cosIdx' ON emb KEY vid
         |    THRESHOLD 0.9 METHOD COSINE TABLES 8 BITS 2
         |) INTO CONSOLE""".stripMargin)
      .outputs("KEPT").collect().map(_.getLong(0)).toSeq
    // 7 is cosine 0.9988 with the APPENDED [0,1] (dropped); 8 is at
    // most cosine ~0.05 with either stored direction (kept)
    assert(keptCos == Seq(8L), keptCos.toString)

    // IVF: append a copy of vector 1 under a new id; the frozen-centroid
    // assignment must land it in 1's own cell, so STORED serving returns
    // it as 1's top neighbor at cosine 1.0 (self excluded by id) —
    // the self-copy-dominance contract extended to appended rows
    val ivfIdx = dir.resolve("ivf").toString
    val cpq = dir.resolve("ivfCorpus.parquet").toString
    val apq = dir.resolve("ivfAppend.parquet").toString
    Seq((1L, Array(1.0, 0.0)), (2L, Array(0.9, 0.1)),
        (3L, Array(0.0, 1.0)), (4L, Array(0.1, 0.9)))
      .toDF("vid", "emb").write.parquet(cpq)
    Seq((5L, Array(1.0, 0.0))).toDF("vid", "emb").write.parquet(apq)
    Aql.run(spark, vecScript(cpq,
      s"INDEX ON emb KEY vid METHOD IVF CELLS 2 INTO '$ivfIdx'"))
    Aql.run(spark, vecScript(apq,
      s"INDEX ON emb KEY vid METHOD IVF INTO '$ivfIdx' APPEND"))
    val served = Aql.run(spark,
      s"""CONNECTION 'V' (DRIVER = 'file', FILE = '$cpq', FORMAT = 'parquet')
         |TRANSFORM 'K' FROM CONNECTION V (
         |  KNN ON emb KEY vid TOP 1 METHOD IVF PROBE 2 STORED '$ivfIdx'
         |    QUERIES vid = 1
         |) INTO CONSOLE""".stripMargin)
      .outputs("K").collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("neighbor_id"),
        r.getAs[Double]("cosine"))).toSeq
    assert(served == Seq((1L, 5L, 1.0)), served.toString)

    // option algebra + artifact validation
    def bad(script: String): String =
      intercept[Exception](Aql.run(spark, script)).getMessage
    assert(bad(idxScript("""[[1, "x"]]""", "Id, Txt",
      s"INDEX ON Txt KEY Id METHOD LSH CELLS 8 INTO '$grown' APPEND"))
      .contains("cannot be overridden"))
    assert(bad(idxScript("""[[1, "x"]]""", "Id, Txt",
      s"INDEX ON Txt KEY Id METHOD LSH THRESHOLD 0.4 INTO '$grown' APPEND"))
      .contains("cannot be overridden"))
    assert(bad(idxScript("""[[1, "x"]]""", "Id, Txt",
      s"INDEX ON Txt KEY Id METHOD LSH INTO '${dir.resolve("nope")}' APPEND"))
      .contains("no stored index"))
    // cross-kind append errors via the artifact's meta
    assert(bad(idxScript("""[[1, "x"]]""", "Id, Txt",
      s"INDEX ON Txt KEY Id METHOD TYPO INTO '$grown' APPEND"))
      .contains("not interchangeable"))
    // dimension drift errors instead of bucketing nonsense
    val wpq = dir.resolve("vecsWide.parquet").toString
    Seq((9L, Array(1.0, 0.0, 0.0))).toDF("vid", "emb").write.parquet(wpq)
    assert(bad(vecScript(wpq,
      s"INDEX ON emb KEY vid METHOD COSINE INTO '$cosIdx' APPEND"))
      .contains("dimensional"))

    // COMPACT: after the build + append above, the grown LSH artifact
    // holds ≥ 2 files in some cell; compaction reduces the file count
    // and changes NOTHING about answers
    val keptBefore = probeLsh(grown)
    val compacted = Aql.run(spark,
      s"""DATA 'One' ([[1]]) WITH (COLUMNS = 'X')
         |TRANSFORM 'C' FROM BLOCK One (
         |  INDEX COMPACT '$grown'
         |) INTO CONSOLE""".stripMargin)
      .outputs("C").collect().head
    assert(compacted.getAs[String]("kind") == "lsh_text")
    assert(compacted.getAs[Long]("files_after") <
      compacted.getAs[Long]("files_before"),
      s"expected fewer files after compaction, got $compacted")
    assert(probeLsh(grown) == keptBefore)
    // COMPACT is INCREMENTAL: a second pass finds no multi-file cells,
    // rewrites nothing, and every file survives at its exact path with
    // its exact bytes — compaction cost is ∝ dirtied cells, never
    // artifact size (the 100 TB full-rewrite fix)
    def fileBytes(): Map[String, Array[Byte]] = {
      val base = java.nio.file.Paths.get(grown)
      val it = java.nio.file.Files.walk(base)
      try it.iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p) &&
          !p.getFileName.toString.startsWith("_") &&
          !p.getFileName.toString.startsWith("."))
        .map(p => base.relativize(p).toString ->
          java.nio.file.Files.readAllBytes(p))
        .toMap
      finally it.close()
    }
    val afterFirst = fileBytes()
    val again2 = Aql.run(spark,
      s"""DATA 'One' ([[1]]) WITH (COLUMNS = 'X')
         |TRANSFORM 'C' FROM BLOCK One (
         |  INDEX COMPACT '$grown'
         |) INTO CONSOLE""".stripMargin)
      .outputs("C").collect().head
    assert(again2.getAs[Long]("files_after") ==
      again2.getAs[Long]("files_before"), again2.toString)
    val afterSecond = fileBytes()
    assert(afterSecond.keySet == afterFirst.keySet,
      "second COMPACT must not rename or rewrite any file")
    for ((p, b) <- afterFirst)
      assert(java.util.Arrays.equals(b, afterSecond(p)),
        s"second COMPACT changed bytes of $p")
    // summary row totals survive too (the shingle store is rewritten,
    // not filtered): a further APPEND still works on the compacted
    // artifact
    val again = Aql.run(spark, idxScript(
      """[[3, "yet another fresh unrelated document about gardening"]]""",
      "Id, Txt", s"INDEX ON Txt KEY Id METHOD LSH INTO '$grown' APPEND"))
      .outputs("BUILT").collect().head
    assert(again.getAs[Long]("indexed_rows") == 3L)
    assert(bad(
      s"""DATA 'One' ([[1]]) WITH (COLUMNS = 'X')
         |TRANSFORM 'C' FROM BLOCK One (
         |  INDEX COMPACT '${dir.resolve("missing")}'
         |) INTO CONSOLE""".stripMargin)
      .contains("no stored index"))
  }

  test("INDEX DELETE: removes membership per family; untouched cells " +
      "byte-identical; content-keyed; errors") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_aqlspec_delidx")
    graft.queries.Advanced.registerTmpDir(dir)
    def idxScript(data: String, cols: String, body: String) =
      s"""DATA 'Corpus' ($data) WITH (COLUMNS = '$cols')
         |TRANSFORM 'Built' FROM BLOCK Corpus (
         |  $body
         |) INTO CONSOLE""".stripMargin
    def bad(script: String): String =
      intercept[Exception](Aql.run(spark, script)).getMessage

    // LSH: build docs A+B, DELETE B's text under a DIFFERENT key —
    // membership is content-keyed (entries are one per distinct text,
    // ids never surface from an AGAINST probe), so the key value must
    // not matter. After the delete, a probe near B is KEPT (its match
    // is gone) while a probe near A still drops — both directions of
    // the delete observable through the language layer alone.
    val lshIdx = dir.resolve("lsh").toString
    val docA = "the quick brown fox jumps over the lazy cat"
    val docB = "entirely unrelated sentences about winter weather patterns"
    Aql.run(spark, idxScript(s"""[[1, "$docA"], [2, "$docB"]]""", "Id, Txt",
      s"INDEX ON Txt KEY Id METHOD LSH THRESHOLD 0.4 CELLS 64 INTO '$lshIdx'"))
    def probeLsh(): Seq[Long] = Aql.run(spark,
      s"""DATA 'Batch' (
         |  [[10, "the quick brown fox jumps over the lazy dog"],
         |   [20, "entirely unrelated sentences about winter weather storms"],
         |   [30, "no overlap with anything stored whatsoever in here"]]
         |) WITH (COLUMNS = 'Id, Txt')
         |TRANSFORM 'Kept' FROM BLOCK Batch (
         |  NEARDEDUP Batch AGAINST STORED '$lshIdx' ON Txt KEY Id
         |    THRESHOLD 0.4 METHOD LSH
         |) INTO CONSOLE""".stripMargin)
      .outputs("KEPT").collect().map(_.getLong(0)).sorted.toSeq
    assert(probeLsh() == Seq(30L)) // both docs stored: 10 and 20 drop
    // snapshot every data file (path → bytes) before the delete: a
    // rewritten cell gets fresh part-file names, so any path present in
    // BOTH snapshots must be an untouched cell's file — assert all such
    // files are byte-identical AND that at least one exists (if DELETE
    // wrongly rewrote every cell, zero common paths would survive and
    // this fails)
    def snapshot(): Map[String, Array[Byte]] = {
      val base = java.nio.file.Paths.get(lshIdx)
      val it = java.nio.file.Files.walk(base)
      try it.iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p) &&
          !p.getFileName.toString.startsWith("_") &&
          !p.getFileName.toString.startsWith("."))
        .map(p => base.relativize(p).toString ->
          java.nio.file.Files.readAllBytes(p))
        .toMap
      finally it.close()
    }
    val before = snapshot()
    Aql.run(spark, idxScript(s"""[[999, "$docB"]]""", "Id, Txt",
      s"INDEX ON Txt KEY Id METHOD LSH INTO '$lshIdx' DELETE"))
    val after = snapshot()
    val common = before.keySet.intersect(after.keySet)
    assert(common.nonEmpty,
      "expected ≥ 1 untouched cell file to survive the delete unrenamed")
    for (p <- common)
      assert(java.util.Arrays.equals(before(p), after(p)),
        s"untouched cell file $p changed bytes across the delete")
    assert(after.size < before.size, // routed cells were rewritten/removed
      s"expected fewer files after delete, got ${after.size}/${before.size}")
    assert(probeLsh() == Seq(20L, 30L)) // 20's match gone; 10 still drops

    // duplicate-append-then-delete: append docB twice more (duplicated
    // postings), one DELETE removes the membership entirely
    Aql.run(spark, idxScript(s"""[[3, "$docB"]]""", "Id, Txt",
      s"INDEX ON Txt KEY Id METHOD LSH INTO '$lshIdx' APPEND"))
    Aql.run(spark, idxScript(s"""[[4, "$docB"]]""", "Id, Txt",
      s"INDEX ON Txt KEY Id METHOD LSH INTO '$lshIdx' APPEND"))
    assert(probeLsh() == Seq(30L)) // membership is back
    Aql.run(spark, idxScript(s"""[[5, "$docB"]]""", "Id, Txt",
      s"INDEX ON Txt KEY Id METHOD LSH INTO '$lshIdx' DELETE"))
    assert(probeLsh() == Seq(20L, 30L)) // ALL duplicated postings gone

    // delete-everything: the summary row reports indexed_rows = 0
    // instead of erroring on the empty store, and a later APPEND
    // resurrects the artifact (meta survives deletion)
    val gone = Aql.run(spark, idxScript(s"""[[6, "$docA"]]""", "Id, Txt",
      s"INDEX ON Txt KEY Id METHOD LSH INTO '$lshIdx' DELETE"))
      .outputs("BUILT").collect().head
    assert(gone.getAs[Long]("indexed_rows") == 0L, gone.toString)
    assert(probeLsh() == Seq(10L, 20L, 30L)) // empty index keeps all
    val back = Aql.run(spark, idxScript(s"""[[7, "$docA"]]""", "Id, Txt",
      s"INDEX ON Txt KEY Id METHOD LSH INTO '$lshIdx' APPEND"))
      .outputs("BUILT").collect().head
    assert(back.getAs[Long]("indexed_rows") == 1L, back.toString)
    assert(probeLsh() == Seq(20L, 30L))

    // TYPO: delete one of two stored strings; its ED-1 probe is kept
    val typoIdx = dir.resolve("typo").toString
    Aql.run(spark, idxScript("""[[1, "alpha"], [2, "beta"]]""", "Id, Txt",
      s"INDEX ON Txt KEY Id METHOD TYPO CELLS 4 INTO '$typoIdx'"))
    Aql.run(spark, idxScript("""[[9, "beta"]]""", "Id, Txt",
      s"INDEX ON Txt KEY Id METHOD TYPO INTO '$typoIdx' DELETE"))
    val keptTypo = Aql.run(spark,
      s"""DATA 'Batch' ([[7, "alpho"], [8, "betb"]])
         |  WITH (COLUMNS = 'Id, Txt')
         |TRANSFORM 'Kept' FROM BLOCK Batch (
         |  NEARDEDUP Batch AGAINST STORED '$typoIdx' ON Txt KEY Id
         |    METHOD TYPO
         |) INTO CONSOLE""".stripMargin)
      .outputs("KEPT").collect().map(_.getLong(0)).toSeq
    assert(keptTypo == Seq(8L), keptTypo.toString) // beta gone, alpha stays

    // COSINE: delete the [0,1] direction; batch vectors near it are kept
    val cosIdx = dir.resolve("cos").toString
    val vpq = dir.resolve("vecs.parquet").toString
    val dpq = dir.resolve("vecsDel.parquet").toString
    val bpq = dir.resolve("vecsBatch.parquet").toString
    Seq((1L, Array(1.0, 0.0)), (2L, Array(0.0, 1.0)))
      .toDF("vid", "emb").write.parquet(vpq)
    Seq((9L, Array(0.0, 1.0))).toDF("vid", "emb").write.parquet(dpq)
    Seq((7L, Array(0.05, 1.0)), (8L, Array(1.0, 0.05)))
      .toDF("vid", "emb").write.parquet(bpq)
    def vecScript(pq: String, body: String) =
      s"""CONNECTION 'V' (DRIVER = 'file', FILE = '$pq', FORMAT = 'parquet')
         |TRANSFORM 'T' FROM CONNECTION V (
         |  $body
         |) INTO CONSOLE""".stripMargin
    Aql.run(spark, vecScript(vpq,
      s"INDEX ON emb KEY vid METHOD COSINE CELLS 4 TABLES 8 BITS 2 " +
        s"INTO '$cosIdx'"))
    def probeCos(): Seq[Long] = Aql.run(spark,
      s"""CONNECTION 'B' (DRIVER = 'file', FILE = '$bpq', FORMAT = 'parquet')
         |TRANSFORM 'Kept' FROM CONNECTION B (
         |  NEARDEDUP B AGAINST STORED '$cosIdx' ON emb KEY vid
         |    THRESHOLD 0.9 METHOD COSINE TABLES 8 BITS 2
         |) INTO CONSOLE""".stripMargin)
      .outputs("KEPT").collect().map(_.getLong(0)).sorted.toSeq
    assert(probeCos() == Seq.empty) // 7 near [0,1], 8 near [1,0]: both drop
    Aql.run(spark, vecScript(dpq, // content-keyed: vid 9 ≠ stored vid 2
      s"INDEX ON emb KEY vid METHOD COSINE INTO '$cosIdx' DELETE"))
    assert(probeCos() == Seq(7L)) // [0,1] gone; 8 still drops on [1,0]

    // IVF: delete by vec_id — the appended self-copy from the append
    // test's contract, removed again: vid 1's top neighbor falls back
    // from the copy (cosine 1.0) to vid 2
    val ivfIdx = dir.resolve("ivf").toString
    val cpq = dir.resolve("ivfCorpus.parquet").toString
    val apq = dir.resolve("ivfAppend.parquet").toString
    Seq((1L, Array(1.0, 0.0)), (2L, Array(0.9, 0.1)),
        (3L, Array(0.0, 1.0)), (4L, Array(0.1, 0.9)))
      .toDF("vid", "emb").write.parquet(cpq)
    Seq((5L, Array(1.0, 0.0))).toDF("vid", "emb").write.parquet(apq)
    Aql.run(spark, vecScript(cpq,
      s"INDEX ON emb KEY vid METHOD IVF CELLS 2 INTO '$ivfIdx'"))
    Aql.run(spark, vecScript(apq,
      s"INDEX ON emb KEY vid METHOD IVF INTO '$ivfIdx' APPEND"))
    def serveIvf(): Seq[(Long, Long)] = Aql.run(spark,
      s"""CONNECTION 'V' (DRIVER = 'file', FILE = '$cpq', FORMAT = 'parquet')
         |TRANSFORM 'K' FROM CONNECTION V (
         |  KNN ON emb KEY vid TOP 1 METHOD IVF PROBE 2 STORED '$ivfIdx'
         |    QUERIES vid = 1
         |) INTO CONSOLE""".stripMargin)
      .outputs("K").collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("neighbor_id"))).toSeq
    assert(serveIvf() == Seq((1L, 5L))) // the appended copy dominates
    Aql.run(spark, vecScript(apq,
      s"INDEX ON emb KEY vid METHOD IVF INTO '$ivfIdx' DELETE"))
    assert(serveIvf() == Seq((1L, 2L))) // copy removed, 2 is next-best

    // option algebra + artifact validation, DELETE leg
    assert(bad(idxScript("""[[1, "x"]]""", "Id, Txt",
      s"INDEX ON Txt KEY Id METHOD LSH CELLS 8 INTO '$lshIdx' DELETE"))
      .contains("cannot be overridden"))
    assert(bad(idxScript("""[[1, "x"]]""", "Id, Txt",
      s"INDEX ON Txt KEY Id METHOD LSH THRESHOLD 0.4 INTO '$lshIdx' DELETE"))
      .contains("cannot be overridden"))
    assert(bad(idxScript("""[[1, "x"]]""", "Id, Txt",
      s"INDEX ON Txt KEY Id METHOD LSH INTO '${dir.resolve("nope")}' DELETE"))
      .contains("no stored index"))
    assert(bad(idxScript("""[[1, "x"]]""", "Id, Txt",
      s"INDEX ON Txt KEY Id METHOD TYPO INTO '$lshIdx' DELETE"))
      .contains("not interchangeable"))
    // dimension drift errors on the delete batch too
    val wpq = dir.resolve("vecsWide.parquet").toString
    Seq((9L, Array(1.0, 0.0, 0.0))).toDF("vid", "emb").write.parquet(wpq)
    assert(bad(vecScript(wpq,
      s"INDEX ON emb KEY vid METHOD COSINE INTO '$cosIdx' DELETE"))
      .contains("dimensional"))
  }

  test("INDEX maintenance lock: single-writer; probes stay lock-free") {
    val dir = java.nio.file.Files.createTempDirectory("graft_aqlspec_lock")
    graft.queries.Advanced.registerTmpDir(dir)
    val idx = dir.resolve("lsh").toString
    def idxScript(data: String, body: String) =
      s"""DATA 'C' ($data) WITH (COLUMNS = 'Id, Txt')
         |TRANSFORM 'T' FROM BLOCK C (
         |  $body
         |) INTO CONSOLE""".stripMargin
    Aql.run(spark, idxScript(
      """[[1, "the quick brown fox jumps over the lazy cat"]]""",
      s"INDEX ON Txt KEY Id METHOD LSH THRESHOLD 0.4 CELLS 8 INTO '$idx'"))
    // a held lock excludes every maintenance form with a clear error…
    val lock = java.nio.file.Paths.get(idx, ".maint_lock")
    java.nio.file.Files.writeString(lock, "APPEND @ test-holder\n")
    def locked(body: String): String =
      intercept[Exception](Aql.run(spark,
        idxScript("""[[2, "x"]]""", body))).getMessage
    for (b <- Seq(
        s"INDEX ON Txt KEY Id METHOD LSH INTO '$idx' APPEND",
        s"INDEX ON Txt KEY Id METHOD LSH INTO '$idx' DELETE",
        s"INDEX COMPACT '$idx'",
        s"INDEX REBUILD '$idx'")) {
      val m = locked(b)
      assert(m.contains("single-writer") && m.contains("test-holder"), m)
    }
    // …while probes are lock-free by contract (a probe reads one
    // committed version of the layout record)
    val kept = Aql.run(spark,
      s"""DATA 'B' ([[10, "the quick brown fox jumps over the lazy dog"]])
         |  WITH (COLUMNS = 'Id, Txt')
         |TRANSFORM 'K' FROM BLOCK B (
         |  NEARDEDUP B AGAINST STORED '$idx' ON Txt KEY Id
         |    THRESHOLD 0.4 METHOD LSH
         |) INTO CONSOLE""".stripMargin)
      .outputs("K").collect().map(_.getLong(0)).toSeq
    assert(kept.isEmpty, kept.toString) // doc 10 matches the stored text
    // releasing the lock unblocks maintenance, and a completed
    // statement leaves no lock behind — neither at the legacy
    // in-artifact location nor at the round-14 sibling the statement
    // actually acquires
    java.nio.file.Files.delete(lock)
    val sibling = java.nio.file.Paths.get(
      graft.transforms.IndexMaintenance.maintLockPath(idx).toUri.getPath)
    Aql.run(spark, idxScript(
      """[[2, "entirely unrelated sentences about winter weather"]]""",
      s"INDEX ON Txt KEY Id METHOD LSH INTO '$idx' APPEND"))
    assert(!java.nio.file.Files.exists(lock))
    assert(!java.nio.file.Files.exists(sibling))

    // the SIBLING lock (the location maintenance actually acquires —
    // it must survive REBUILD's directory swap, so it lives NEXT TO
    // the artifact, not inside it) excludes the verb forms AND the
    // Scala-API writers — the path a streaming ingest job calls per
    // microbatch, where an unlocked append racing REBUILD's swap
    // would silently lose the batch (round-13 verdict item 1)
    import spark.implicits._
    java.nio.file.Files.writeString(sibling, "REBUILD @ sibling-holder\n")
    val vm = locked(s"INDEX ON Txt KEY Id METHOD LSH INTO '$idx' APPEND")
    assert(vm.contains("single-writer") && vm.contains("sibling-holder"), vm)
    // …and vice versa: REBUILD is blocked while a stream batch's API
    // append (which acquires this same sibling lock) is mid-write
    val rm = locked(s"INDEX REBUILD '$idx'")
    assert(rm.contains("single-writer") && rm.contains("sibling-holder"), rm)
    val batchSh = graft.transforms.NearDup.shingled(
      Seq((77L, "a brand new sentence about maintenance locking rules"))
        .toDF("id", "txt"), "id", "txt")
    val am = intercept[Exception](
      graft.transforms.NearDup.bandStoreAppend(idx, batchSh)).getMessage
    assert(am.contains("single-writer") && am.contains("sibling-holder"), am)
    val dm = intercept[Exception](
      graft.transforms.NearDup.bandStoreDelete(idx, batchSh)).getMessage
    assert(dm.contains("single-writer") && dm.contains("sibling-holder"), dm)
    // DESCRIBE reports the sibling holder (read-only, never blocked)
    assert(Aql.run(spark,
      s"""DATA 'One' ([[1]]) WITH (COLUMNS = 'X')
         |TRANSFORM 'D' FROM BLOCK One (
         |  INDEX DESCRIBE '$idx'
         |) INTO CONSOLE""".stripMargin).outputs("D").collect()
      .forall(_.getAs[String]("lock_holder") == "REBUILD @ sibling-holder"))
    // released → the API writer acquires, appends, and releases
    java.nio.file.Files.delete(sibling)
    graft.transforms.NearDup.bandStoreAppend(idx, batchSh)
    assert(!java.nio.file.Files.exists(sibling))
    val probed = Aql.run(spark,
      s"""DATA 'B' ([[11, "a brand new sentence about maintenance locking rules"]])
         |  WITH (COLUMNS = 'Id, Txt')
         |TRANSFORM 'K' FROM BLOCK B (
         |  NEARDEDUP B AGAINST STORED '$idx' ON Txt KEY Id
         |    THRESHOLD 0.4 METHOD LSH
         |) INTO CONSOLE""".stripMargin)
      .outputs("K").collect()
    assert(probed.isEmpty, probed.mkString(";")) // the API append landed
  }

  test("INDEX REBUILD: crash-recovery sweep runs UNDER the lock") {
    // Round-15 pin (verdict r14 "what's wrong" #1): a second REBUILD
    // issued while the first holds the lock must error naming the
    // holder WITHOUT having run the crash-recovery sweep — before this
    // fix the sweep ran pre-lock, so a contender landing between the
    // first's two swap renames (live absent + old present) would
    // "restore" the doomed old artifact and make the first's
    // stage→live rename fail spuriously.
    val dir = java.nio.file.Files.createTempDirectory("graft_aqlspec_swlk")
    graft.queries.Advanced.registerTmpDir(dir)
    val idx = dir.resolve("lsh").toString
    def idxScript(data: String, body: String) =
      s"""DATA 'C' ($data) WITH (COLUMNS = 'Id, Txt')
         |TRANSFORM 'T' FROM BLOCK C (
         |  $body
         |) INTO CONSOLE""".stripMargin
    Aql.run(spark, idxScript(
      """[[1, "the quick brown fox jumps over the lazy cat"]]""",
      s"INDEX ON Txt KEY Id METHOD LSH THRESHOLD 0.4 CELLS 8 INTO '$idx'"))
    // simulate the first REBUILD mid-swap: live renamed out to
    // .rebuild_old_<name>, sibling lock held by the running statement
    val live = java.nio.file.Paths.get(idx)
    val oldP = live.resolveSibling(s".rebuild_old_${live.getFileName}")
    java.nio.file.Files.move(live, oldP)
    val sibling = java.nio.file.Paths.get(
      graft.transforms.IndexMaintenance.maintLockPath(idx).toUri.getPath)
    java.nio.file.Files.writeString(sibling, "REBUILD @ first-rebuild\n")
    val m = intercept[Exception](Aql.run(spark,
      idxScript("""[[2, "x"]]""", s"INDEX REBUILD '$idx'"))).getMessage
    assert(m.contains("single-writer") && m.contains("first-rebuild"), m)
    // the contender did NOT sweep: old still present, live still absent
    assert(java.nio.file.Files.exists(oldP), "sweep ran before the lock")
    assert(!java.nio.file.Files.exists(live), "sweep restored mid-swap")
    // lock released (first statement crashed, say) → the next REBUILD
    // self-heals the interrupted swap under its own lock and completes
    java.nio.file.Files.delete(sibling)
    Aql.run(spark, idxScript("""[[2, "x"]]""", s"INDEX REBUILD '$idx'"))
    assert(java.nio.file.Files.exists(live) &&
      !java.nio.file.Files.exists(oldP))
    // the healed artifact still answers
    val kept = Aql.run(spark,
      s"""DATA 'B' ([[10, "the quick brown fox jumps over the lazy dog"]])
         |  WITH (COLUMNS = 'Id, Txt')
         |TRANSFORM 'K' FROM BLOCK B (
         |  NEARDEDUP B AGAINST STORED '$idx' ON Txt KEY Id
         |    THRESHOLD 0.4 METHOD LSH
         |) INTO CONSOLE""".stripMargin)
      .outputs("K").collect().map(_.getLong(0)).toSeq
    assert(kept.isEmpty, kept.toString)
  }

  test("INDEX geometry: derived from corpus size; probe adopts meta") {
    import spark.implicits._
    // the shared derivation itself, pinned at the harnesses' measured
    // corpus points (CosineScale's 2000-vector base → bits 8, BandScale's
    // 2500-doc base → 512 cells; the harnesses now CALL IndexGeometry, so
    // these pins keep the formulas from drifting away from the corpus
    // sizes SCALING.md's flat curves were recorded at)
    assert(graft.transforms.IndexGeometry.cosineBits(2000) == 8)
    assert(graft.transforms.IndexGeometry.cosineBits(2000 * 16) == 12)
    assert(graft.transforms.IndexGeometry.cosineBits(10) == 4) // floor
    assert(graft.transforms.IndexGeometry.storeCells(2500) == 512)
    assert(graft.transforms.IndexGeometry.storeCells(2500 * 16) == 8192)
    assert(graft.transforms.IndexGeometry.storeCells(1) == 64) // floor
    assert(graft.transforms.IndexGeometry.ivfCells(400) == 20)
    assert(graft.transforms.IndexGeometry.ivfCells(4) == 16) // floor
    // the 65 536 cap — the derivation returning exactly maxCells is
    // what triggers the build-time "pin CELLS and shard" warning
    assert(graft.transforms.IndexGeometry.storeCells(400000L) ==
      graft.transforms.IndexGeometry.maxCells)
    assert(graft.transforms.IndexGeometry.ivfCells(5000000000L) ==
      graft.transforms.IndexGeometry.maxCells)

    val dir = java.nio.file.Files.createTempDirectory("graft_aqlspec_geoidx")
    graft.queries.Advanced.registerTmpDir(dir)

    // LSH: 1000 distinct texts, no CELLS → storeCells(1000) = 256
    val docsPq = dir.resolve("docs.parquet").toString
    spark.range(1000)
      .selectExpr("id", "concat('unique document number ', id, " +
        "' alpha beta gamma delta') AS txt")
      .write.parquet(docsPq)
    val lshIdx = dir.resolve("lsh").toString
    val lshBuilt = Aql.run(spark,
      s"""CONNECTION 'D' (DRIVER = 'file', FILE = '$docsPq',
         |  FORMAT = 'parquet')
         |TRANSFORM 'Built' FROM CONNECTION D (
         |  INDEX ON txt KEY id METHOD LSH THRESHOLD 0.5 INTO '$lshIdx'
         |) INTO CONSOLE""".stripMargin).outputs("BUILT").collect().head
    assert(lshBuilt.getAs[Int]("cells") == 256, lshBuilt.toString)
    assert(spark.read.parquet(s"$lshIdx/meta").head()
      .getAs[Int]("cells") == 256)

    // COSINE: 200 distinct vectors, no BITS/CELLS → bits = 5, cells = 64
    val vecsPq = dir.resolve("vecs.parquet").toString
    (0 until 200).map(i => (i.toLong, Array(i * 1.0, 1.0, 0.5, 0.25)))
      .toDF("vid", "emb").write.parquet(vecsPq)
    val cosIdx = dir.resolve("cos").toString
    Aql.run(spark,
      s"""CONNECTION 'V' (DRIVER = 'file', FILE = '$vecsPq',
         |  FORMAT = 'parquet')
         |TRANSFORM 'Built' FROM CONNECTION V (
         |  INDEX ON emb KEY vid METHOD COSINE INTO '$cosIdx'
         |) INTO CONSOLE""".stripMargin)
    val cosMeta = spark.read.parquet(s"$cosIdx/meta").head()
    assert(cosMeta.getAs[Int]("bits") == 5, cosMeta.toString)
    assert(cosMeta.getAs[Int]("tables") == 32, cosMeta.toString)
    assert(cosMeta.getAs[Int]("cells") == 64, cosMeta.toString)
    // a probe WITHOUT TABLES/BITS adopts the artifact's derived
    // geometry from meta (it cannot guess derived bits) …
    val kept = Aql.run(spark,
      s"""CONNECTION 'B' (DRIVER = 'file', FILE = '$vecsPq',
         |  FORMAT = 'parquet')
         |TRANSFORM 'Kept' FROM CONNECTION B (
         |  NEARDEDUP B AGAINST STORED '$cosIdx' ON emb KEY vid
         |    THRESHOLD 0.99 METHOD COSINE
         |) INTO CONSOLE""".stripMargin)
      .outputs("KEPT").collect()
    // re-ingested corpus vectors match their own copies at cosine 1.0
    assert(kept.isEmpty, s"expected all dropped, kept ${kept.length}")
    // … while EXPLICIT mismatched geometry still errors loudly
    val gm = intercept[Exception](Aql.run(spark,
      s"""CONNECTION 'B' (DRIVER = 'file', FILE = '$vecsPq',
         |  FORMAT = 'parquet')
         |TRANSFORM 'Kept' FROM CONNECTION B (
         |  NEARDEDUP B AGAINST STORED '$cosIdx' ON emb KEY vid
         |    THRESHOLD 0.99 METHOD COSINE TABLES 32 BITS 4
         |) INTO CONSOLE""".stripMargin)).getMessage
    assert(gm.contains("BITS=5"), gm)

    // IVF: 400 vectors, no CELLS → ivfCells(400) = 20
    val ivfIdx = dir.resolve("ivf").toString
    val ivfBuilt = Aql.run(spark,
      s"""CONNECTION 'V' (DRIVER = 'file', FILE = '$vecsPq',
         |  FORMAT = 'parquet')
         |TRANSFORM 'Built' FROM CONNECTION V (
         |  INDEX ON emb KEY vid METHOD IVF INTO '$ivfIdx'
         |) INTO CONSOLE""".stripMargin).outputs("BUILT").collect().head
    assert(ivfBuilt.getAs[Int]("cells") ==
      graft.transforms.IndexGeometry.ivfCells(200), ivfBuilt.toString)
  }

  test("INDEX DESCRIBE: per-store stats, derived flag, COMPACT signal, " +
      "errors") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_aqlspec_desc")
    graft.queries.Advanced.registerTmpDir(dir)
    val docsPq = dir.resolve("docs.parquet").toString
    spark.range(100)
      .selectExpr("id", "concat('document number ', id, " +
        "' alpha beta gamma delta epsilon') AS txt")
      .write.parquet(docsPq)
    val idx = dir.resolve("lsh").toString
    def run(body: String) = Aql.run(spark,
      s"""CONNECTION 'D' (DRIVER = 'file', FILE = '$docsPq',
         |  FORMAT = 'parquet')
         |TRANSFORM 'T' FROM CONNECTION D (
         |  $body
         |) INTO CONSOLE""".stripMargin).outputs("T")
    // build with everything derivable left to derive: CELLS and
    // BANDS/ROWS come from IndexGeometry/autoBands and meta records it
    run(s"INDEX ON txt KEY id METHOD LSH THRESHOLD 0.5 INTO '$idx'")
    val d1 = run(s"INDEX DESCRIBE '$idx'").collect()
      .map(r => r.getAs[String]("store") -> r).toMap
    assert(d1.keySet == Set("bands", "shingles"), d1.keySet.toString)
    for ((_, r) <- d1) {
      assert(r.getAs[String]("kind") == "lsh_text", r.toString)
      assert(r.getAs[Int]("cells") == 64, r.toString) // floor at 100 docs
      assert(r.getAs[Long]("entries") > 0, r.toString)
      assert(r.getAs[Long]("cells_present") > 0 &&
        r.getAs[Long]("cells_present") <= 64, r.toString)
      // fresh build writes one file per present cell — nothing to compact
      assert(r.getAs[Long]("multi_file_cells") == 0, r.toString)
      assert(r.getAs[Long]("max_files_per_cell") == 1, r.toString)
      assert(r.getAs[Long]("rows_max") >= r.getAs[Long]("rows_min"),
        r.toString)
      assert(r.getAs[String]("geometry").contains("num_perm="), r.toString)
      assert(r.getAs[String]("derived") == "cells,bands_rows", r.toString)
      assert(r.getAs[String]("lock_holder") == "", r.toString)
    }
    // a held maintenance lock is visible to the operator via DESCRIBE
    val lock = java.nio.file.Paths.get(idx, ".maint_lock")
    java.nio.file.Files.writeString(lock, "APPEND @ descr-holder\n")
    assert(run(s"INDEX DESCRIBE '$idx'").collect()
      .forall(_.getAs[String]("lock_holder") == "APPEND @ descr-holder"))
    java.nio.file.Files.delete(lock)
    // an APPEND adds one file per touched cell → DESCRIBE is the "do I
    // need COMPACT?" answer, and COMPACT resets it
    Aql.run(spark,
      s"""DATA 'N' ([[500, "a freshly appended sentence about winters"]])
         |  WITH (COLUMNS = 'Id, Txt')
         |TRANSFORM 'T' FROM BLOCK N (
         |  INDEX ON Txt KEY Id METHOD LSH INTO '$idx' APPEND
         |) INTO CONSOLE""".stripMargin)
    val d2 = run(s"INDEX DESCRIBE '$idx'").collect()
    assert(d2.exists(_.getAs[Long]("multi_file_cells") > 0),
      d2.mkString("; "))
    run(s"INDEX COMPACT '$idx'")
    val d3 = run(s"INDEX DESCRIBE '$idx'").collect()
    assert(d3.forall(_.getAs[Long]("multi_file_cells") == 0),
      d3.mkString("; "))
    // the appended entry is visible in the described totals
    assert(d3.map(r => r.getAs[String]("store") -> r).toMap
      .apply("shingles").getAs[Long]("entries") >
      d1("shingles").getAs[Long]("entries"))

    // TYPO strings store holds exactly one row per distinct text — the
    // q160 gate's oracle-backed pin, repeated here at spec scale
    val typoIdx = dir.resolve("typo").toString
    run(s"INDEX ON txt KEY id METHOD TYPO CELLS 16 INTO '$typoIdx'")
    val td = run(s"INDEX DESCRIBE '$typoIdx'").collect()
      .map(r => r.getAs[String]("store") -> r).toMap
    assert(td("strings").getAs[Long]("entries") == 100, td.toString)
    // CELLS was pinned by the user → derived records nothing for it
    assert(td("strings").getAs[String]("derived") == "", td.toString)

    // the vector families: COSINE (buckets + vectors stores) and IVF
    // (single index store with its own cell column) describe too
    val vecsPq = dir.resolve("vecs.parquet").toString
    (0 until 60).map(i => (i.toLong, Array(i * 1.0, 1.0, 0.5)))
      .toDF("vid", "emb").write.parquet(vecsPq)
    def runV(body: String) = Aql.run(spark,
      s"""CONNECTION 'V' (DRIVER = 'file', FILE = '$vecsPq',
         |  FORMAT = 'parquet')
         |TRANSFORM 'T' FROM CONNECTION V (
         |  $body
         |) INTO CONSOLE""".stripMargin).outputs("T")
    val cosIdx = dir.resolve("cos").toString
    runV(s"INDEX ON emb KEY vid METHOD COSINE CELLS 8 TABLES 4 BITS 3 " +
      s"INTO '$cosIdx'")
    val cd = runV(s"INDEX DESCRIBE '$cosIdx'").collect()
      .map(r => r.getAs[String]("store") -> r).toMap
    assert(cd.keySet == Set("buckets", "vectors"), cd.keySet.toString)
    assert(cd("vectors").getAs[Long]("entries") == 60, cd.toString)
    assert(cd("buckets").getAs[Long]("entries") == 60L * 4, cd.toString)
    assert(cd("buckets").getAs[String]("geometry").contains("bits=3"))
    val ivfIdx = dir.resolve("ivf").toString
    runV(s"INDEX ON emb KEY vid METHOD IVF CELLS 4 INTO '$ivfIdx'")
    val id = runV(s"INDEX DESCRIBE '$ivfIdx'").collect()
    assert(id.map(_.getAs[String]("store")).toSeq == Seq("index"),
      id.mkString("; "))
    assert(id.head.getAs[String]("kind") == "ivf_vec")
    assert(id.head.getAs[Long]("entries") == 60, id.head.toString)

    // round-14 second wave: DIRECT API appends maintain stats for
    // every family — the mergeForWriter kind wiring is per-wrapper,
    // so pin served == VERIFY (and the appended entry visible in the
    // SERVED figures) after each family's API append
    import org.apache.spark.sql.functions.{col, xxhash64}
    def recordAt(ix: String) =
      graft.transforms.IndexManifest.read(spark, ix).isDefined
    def servedVsVerify(ix: String,
        runner: String => org.apache.spark.sql.DataFrame): Unit = {
      assert(recordAt(ix), s"$ix: layout record absent after API mutation")
      // compare modulo stats_served — the one column DOCUMENTED to
      // differ (true on the served read, false under VERIFY by
      // construction); everything else must be row-identical
      def rows(stmt: String) = {
        val df = runner(stmt)
        df.drop("stats_served").collect().map(_.toString).sorted.toSeq ->
          df.collect().map(_.getAs[Boolean]("stats_served")).distinct.toSeq
      }
      val (s0, f0) = rows(s"INDEX DESCRIBE '$ix'")
      val (s1, f1) = rows(s"INDEX DESCRIBE '$ix' VERIFY")
      assert(s0 == s1, s"$ix: served stats diverge from VERIFY")
      assert(f0 == Seq(true) && f1 == Seq(false),
        s"$ix: stats_served flags wrong (served=$f0, verify=$f1)")
    }
    def entriesAt(ix: String, sub: String,
        runner: String => org.apache.spark.sql.DataFrame): Long =
      runner(s"INDEX DESCRIBE '$ix'").collect()
        .find(_.getAs[String]("store") == sub).get.getAs[Long]("entries")
    val typoBatch = Seq("zz-novel-string-for-api-append").toDF("txt")
      .select(xxhash64(col("txt")).as("id"), col("txt"))
    graft.transforms.NearDup.typoStoreAppend(typoIdx, typoBatch)
    servedVsVerify(typoIdx, run)
    assert(entriesAt(typoIdx, "strings", run) == 101)
    // …and the API DELETE maintains them the same way (one mergeForWriter
    // body per wrapper — the delete side's wiring gets its own pin)
    graft.transforms.NearDup.typoStoreDelete(typoIdx, typoBatch)
    servedVsVerify(typoIdx, run)
    assert(entriesAt(typoIdx, "strings", run) == 100)
    val cosBatch = Seq(Tuple1(Array(9.0, 9.0, 9.0))).toDF("v")
      .withColumn("nrm", graft.functions.Vectors.l2norm(col("v")))
      .select(xxhash64(col("v")).as("id"), col("v"), col("nrm"))
    graft.transforms.VecKnn.cosineStoreAppend(cosIdx, cosBatch)
    servedVsVerify(cosIdx, runV)
    assert(entriesAt(cosIdx, "vectors", runV) == 61)
    graft.transforms.VecKnn.cosineStoreDelete(cosIdx, cosBatch)
    servedVsVerify(cosIdx, runV)
    assert(entriesAt(cosIdx, "vectors", runV) == 60)
    val ivfBatch = Seq((999L, Array(9.0, 9.0, 9.0))).toDF("vec_id", "v")
      .withColumn("nrm", graft.functions.Vectors.l2norm(col("v")))
    graft.queries.Similarity.ivfStoreAppend(ivfIdx, ivfBatch)
    servedVsVerify(ivfIdx, runV)
    assert(entriesAt(ivfIdx, "index", runV) == 61)
    graft.queries.Similarity.ivfStoreDelete(ivfIdx, ivfBatch)
    servedVsVerify(ivfIdx, runV)
    assert(entriesAt(ivfIdx, "index", runV) == 60)

    // errors: no artifact at the path
    val m = intercept[Exception](
      run(s"INDEX DESCRIBE '${dir.resolve("missing")}'")).getMessage
    assert(m.contains("no stored index"), m)
  }

  test("INDEX maintenance crash recovery: files no layout record version " +
      "lists stay out of probes and served DESCRIBE, show in VERIFY, and " +
      "COMPACT reclaims them") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_aqlspec_crash")
    graft.queries.Advanced.registerTmpDir(dir)
    val docs = (0L until 40L).map(i => (i,
      s"crash recovery document $i alpha beta gamma delta epsilon zeta"))
    val stray = (900L, "a stray sentence whose statement never committed")
    val docsPq = dir.resolve("docs.parquet").toString
    docs.toDF("id", "txt").write.parquet(docsPq)
    val strayPq = dir.resolve("stray.parquet").toString
    Seq(stray).toDF("id", "txt").write.parquet(strayPq)
    val probePq = dir.resolve("probe.parquet").toString
    (docs :+ stray).toDF("id", "txt").write.parquet(probePq)
    val idx = dir.resolve("lsh").toString
    def onFile(pq: String, body: String) = Aql.run(spark,
      s"""CONNECTION 'D' (DRIVER = 'file', FILE = '$pq',
         |  FORMAT = 'parquet')
         |TRANSFORM 'T' FROM CONNECTION D (
         |  $body
         |) INTO CONSOLE""".stripMargin).outputs("T").collect()
    def kept(): Set[Long] = onFile(probePq, s"NEARDEDUP D AGAINST STORED " +
      s"'$idx' ON txt KEY id THRESHOLD 0.5 METHOD LSH").map(_.getLong(0)).toSet
    // modulo stats_served — served vs VERIFY differ there by design
    def describeRows(verify: Boolean): Seq[String] = onFile(docsPq,
        s"INDEX DESCRIBE '$idx'${if (verify) " VERIFY" else ""}")
      .map(r => r.schema.fieldNames.filterNot(_ == "stats_served")
        .map(f => r.getAs[Any](f)).mkString(",")).sorted.toSeq
    def entries(verify: Boolean): Long = onFile(docsPq,
        s"INDEX DESCRIBE '$idx'${if (verify) " VERIFY" else ""}")
      .find(_.getAs[String]("store") == "shingles").get.getAs[Long]("entries")
    val stores = Seq("bands" -> "pc", "shingles" -> "sc")
    def exact(): Unit = {
      assert(describeRows(false) == describeRows(true))
      assert(graft.transforms.IndexManifest.read(spark, idx).map(_.layout)
        .contains(graft.transforms.IndexMaintenance.Stats.recount(spark,
          idx, stores)))
    }
    /** The data files under the stores of the index at `root`. */
    def files(root: String): Seq[java.nio.file.Path] = {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      try walk.iterator().asScala.filter(p =>
          java.nio.file.Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet") &&
          !p.getFileName.toString.startsWith(".") &&
          stores.exists(s => p.toString.contains(s"/${s._1}/"))).toSeq
      finally walk.close()
    }
    onFile(docsPq,
      s"INDEX ON txt KEY id METHOD LSH THRESHOLD 0.5 CELLS 8 INTO '$idx'")
    assert(kept() == Set(stray._1))
    val served = describeRows(false)

    // a crash before the commit: a statement wrote the stray text's rows
    // into its routed cells under its own names, and no version lists
    // them (the rows come from the same build of the stray text alone)
    val side = dir.resolve("side").toString
    onFile(strayPq,
      s"INDEX ON txt KEY id METHOD LSH THRESHOLD 0.5 CELLS 8 INTO '$side'")
    val strays = files(side).map { f =>
      val cell = f.getParent.getFileName.toString
      val store = f.getParent.getParent.getFileName.toString
      val to = java.nio.file.Paths.get(idx, store, cell,
        s"part-00000-7-${java.util.UUID.randomUUID()}.c000.snappy.parquet")
      java.nio.file.Files.createDirectories(to.getParent)
      java.nio.file.Files.copy(f, to)
    }
    assert(strays.nonEmpty)
    assert(kept() == Set(stray._1), "a probe read an unlisted file")
    assert(describeRows(false) == served)
    assert(entries(verify = true) == 41L, "VERIFY misses the stray file")
    onFile(docsPq, s"INDEX COMPACT '$idx'")
    assert(strays.forall(p => !java.nio.file.Files.exists(p)))
    assert(describeRows(false) == served)
    exact()

    // a crash after a DELETE's commit, before its superseded files were
    // deleted: copies of the pre-DELETE files put back where they were
    val aside = dir.resolve("aside")
    val before = files(idx).map { f =>
      val to = aside.resolve(java.nio.file.Paths.get(idx).relativize(f))
      java.nio.file.Files.createDirectories(to.getParent)
      f -> java.nio.file.Files.copy(f, to)
    }
    Aql.run(spark,
      s"""DATA 'One' ([[0, "${docs.head._2}"]]) WITH (COLUMNS = 'Id, Txt')
         |TRANSFORM 'T' FROM BLOCK One (
         |  INDEX ON Txt KEY Id METHOD LSH INTO '$idx' DELETE
         |) INTO CONSOLE""".stripMargin).outputs("T").collect()
    val superseded = before.collect { case (f, copy)
        if !java.nio.file.Files.exists(f) =>
      java.nio.file.Files.createDirectories(f.getParent)
      java.nio.file.Files.copy(copy, f)
    }
    assert(superseded.nonEmpty)
    assert(kept() == Set(0L, stray._1), "a probe read a superseded file")
    assert(entries(verify = false) == 39L)
    assert(entries(verify = true) > 39L, "VERIFY misses a superseded file")
    val servedAfterDelete = describeRows(false)
    onFile(docsPq, s"INDEX COMPACT '$idx'")
    assert(superseded.forall(p => !java.nio.file.Files.exists(p)))
    assert(kept() == Set(0L, stray._1))
    // no cell held two listed files: COMPACT only reclaimed
    assert(describeRows(false) == servedAfterDelete)
    exact()
  }

  test("INDEX REBUILD, MANIFEST and a first mutation refuse a record-less " +
      "artifact holding .old_ cells a crashed swap left, naming the restore") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_aqlspec_rbcrash")
    graft.queries.Advanced.registerTmpDir(dir)
    val docsPq = dir.resolve("docs.parquet").toString
    spark.range(40)
      .selectExpr("id", "concat('rebuild crash document ', id, " +
        "' alpha beta gamma delta epsilon zeta') AS txt")
      .write.parquet(docsPq)
    val idx = dir.resolve("lsh").toString
    def onDocs(name: String, body: String) = Aql.run(spark,
      s"""CONNECTION 'D' (DRIVER = 'file', FILE = '$docsPq',
         |  FORMAT = 'parquet')
         |TRANSFORM '$name' FROM CONNECTION D (
         |  $body
         |) INTO CONSOLE""".stripMargin).outputs(name).collect()
    def maintain(verb: String) = Aql.run(spark,
      s"""DATA 'One' ([[1]]) WITH (COLUMNS = 'X')
         |TRANSFORM 'T' FROM BLOCK One (
         |  INDEX $verb '$idx'
         |) INTO CONSOLE""".stripMargin).outputs("T").collect()
    val built = onDocs("T", s"INDEX ON txt KEY id METHOD LSH THRESHOLD " +
      s"0.5 CELLS 8 INTO '$idx'").head.getAs[Long]("indexed_rows")
    assert(built == 40L)
    // an earlier writer's DELETE or COMPACT that crashed between a cell's
    // two renames: it had dropped the layout record, the live cell is
    // absent and `.old_` holds the only copy of its rows
    graft.transforms.IndexManifest.invalidate(
      spark.sparkContext.hadoopConfiguration, idx)
    val root = java.nio.file.Paths.get(idx, "shingles")
    val cell = {
      val cells = java.nio.file.Files.list(root)
      try cells.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("sc=")).toSeq.min
      finally cells.close()
    }
    val old = root.resolve(s".old_sc_${cell.stripPrefix("sc=")}")
    java.nio.file.Files.move(root.resolve(cell), old)
    // every statement that would snapshot the live layout refuses, names
    // the directory and the restore, and leaves the artifact as it was
    def refused(m: String): Unit = assert(m.contains(old.toString) &&
      m.contains("rename it back"), m)
    refused(intercept[Exception](maintain("REBUILD")).getMessage)
    refused(intercept[Exception](maintain("MANIFEST")).getMessage)
    refused(intercept[Exception](maintain("COMPACT")).getMessage)
    refused(intercept[Exception](graft.transforms.NearDup.bandStoreAppend(
      idx, graft.transforms.NearDup.shingled(
        Seq((90L, "an append refused while a cell sits aside"))
          .toDF("id", "txt"), "id", "txt"))).getMessage)
    assert(java.nio.file.Files.exists(old))
    assert(graft.transforms.IndexManifest.read(spark, idx).isEmpty)
    assert(graft.transforms.IndexMaintenance.maintLockHolder(
      spark.sparkContext.hadoopConfiguration, idx) == "")
    // restored by the rename the message names, the artifact rebuilds
    // whole: every doc still matches its copy
    java.nio.file.Files.move(old, root.resolve(cell))
    val rebuilt = maintain("REBUILD").head
    assert(rebuilt.getAs[Long]("indexed_rows") == built, rebuilt)
    val served = maintain("DESCRIBE").map(r =>
      r.getAs[String]("store") -> r.getAs[Long]("entries")).toMap
    val verify = Aql.run(spark,
      s"""DATA 'One' ([[1]]) WITH (COLUMNS = 'X')
         |TRANSFORM 'T' FROM BLOCK One (
         |  INDEX DESCRIBE '$idx' VERIFY
         |) INTO CONSOLE""".stripMargin).outputs("T").collect()
      .map(r => r.getAs[String]("store") -> r.getAs[Long]("entries")).toMap
    assert(verify("shingles") == built, verify)
    assert(served == verify)
    val kept = onDocs("K", s"NEARDEDUP D AGAINST STORED '$idx' ON txt " +
      "KEY id THRESHOLD 0.5 METHOD LSH").map(_.getLong(0)).toSet
    assert(kept.isEmpty, s"expected no doc kept, got $kept")
  }

  test("INDEX under a dot-dir ancestor: indexed_rows counts the real " +
      "entries (qualified-path hidden test)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_aqlspec_dotanc")
    graft.queries.Advanced.registerTmpDir(dir)
    val docsPq = dir.resolve("docs.parquet").toString
    spark.range(20)
      .selectExpr("id", "concat('dot ancestor document ', id, " +
        "' alpha beta gamma delta') AS txt")
      .write.parquet(docsPq)
    // an artifact under ~/.cache-style hidden ancestors must still
    // report its entry count — only components BELOW the store root
    // mark a file hidden (the walk compares qualified paths; a raw
    // string compare would walk past the root and see the dot-dir)
    val idx = dir.resolve(".cache").resolve("sub").resolve("typo").toString
    val built = Aql.run(spark,
      s"""CONNECTION 'D' (DRIVER = 'file', FILE = '$docsPq',
         |  FORMAT = 'parquet')
         |TRANSFORM 'T' FROM CONNECTION D (
         |  INDEX ON txt KEY id METHOD TYPO CELLS 8 INTO '$idx'
         |) INTO CONSOLE""".stripMargin).outputs("T").collect().head
    assert(built.getAs[Long]("indexed_rows") == 20, built.toString)
  }

  test("INDEX REBUILD: re-derives geometry for the grown artifact, " +
      "preserves answers, keeps pinned fields pinned, self-heals") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_aqlspec_rb")
    graft.queries.Advanced.registerTmpDir(dir)
    // base corpus small enough that derived cells sit at the 64 floor;
    // the appended batch grows entries past the next derivation point
    val basePq = dir.resolve("base.parquet").toString
    val morePq = dir.resolve("more.parquet").toString
    spark.range(200)
      .selectExpr("id", "concat('rebuild base document ', id, " +
        "' alpha beta gamma delta') AS txt")
      .write.parquet(basePq)
    spark.range(1000, 3400)
      .selectExpr("id", "concat('rebuild grown document ', id, " +
        "' epsilon zeta eta theta') AS txt")
      .write.parquet(morePq)
    val idx = dir.resolve("lsh").toString
    def run(pq: String, body: String) = Aql.run(spark,
      s"""CONNECTION 'D' (DRIVER = 'file', FILE = '$pq',
         |  FORMAT = 'parquet')
         |TRANSFORM 'T' FROM CONNECTION D (
         |  $body
         |) INTO CONSOLE""".stripMargin).outputs("T")
    run(basePq, s"INDEX ON txt KEY id METHOD LSH THRESHOLD 0.5 INTO '$idx'")
    assert(spark.read.parquet(s"$idx/meta").head()
      .getAs[Int]("cells") == 64) // floor at 200 entries
    run(morePq, s"INDEX ON txt KEY id METHOD LSH INTO '$idx' APPEND")
    def kept(): Set[Long] = run(basePq,
      s"NEARDEDUP D AGAINST STORED '$idx' ON txt KEY id " +
        "THRESHOLD 0.5 METHOD LSH")
      .collect().map(_.getLong(0)).toSet
    val keptBefore = kept()
    assert(keptBefore.isEmpty) // every base doc matches its own copy
    val rb = run(basePq, s"INDEX REBUILD '$idx'").collect().head
    // 2600 entries -> storeCells = next pow2 of 520 = 1024
    assert(rb.getAs[Int]("cells_before") == 64, rb.toString)
    assert(rb.getAs[Int]("cells_after") == 1024, rb.toString)
    assert(rb.getAs[Long]("indexed_rows") == 2600, rb.toString)
    assert(spark.read.parquet(s"$idx/meta").head()
      .getAs[Int]("cells") == 1024)
    // content-preserving: answers identical after the re-cell; the
    // appended entries are still served (grown docs match themselves)
    assert(kept() == keptBefore)
    assert(run(morePq,
      s"NEARDEDUP D AGAINST STORED '$idx' ON txt KEY id " +
        "THRESHOLD 0.5 METHOD LSH").collect().isEmpty)

    // a PINNED cell count stays pinned (rebuild rebalances files only)
    val pinned = dir.resolve("pinned").toString
    run(basePq,
      s"INDEX ON txt KEY id METHOD LSH THRESHOLD 0.5 CELLS 8 INTO '$pinned'")
    run(morePq, s"INDEX ON txt KEY id METHOD LSH INTO '$pinned' APPEND")
    val rbp = run(basePq, s"INDEX REBUILD '$pinned'").collect().head
    assert(rbp.getAs[Int]("cells_after") == 8, rbp.toString)
    // ...and the rebuild compacted the append's extra files away: one
    // file per cell, like a fresh build
    val bands = java.nio.file.Paths.get(pinned, "bands")
    val multi = java.nio.file.Files.list(bands).iterator()
    while (multi.hasNext) {
      val cell = multi.next()
      if (cell.getFileName.toString.startsWith("pc=")) {
        val files = java.nio.file.Files.list(cell).iterator()
        var n = 0
        while (files.hasNext) {
          val f = files.next().getFileName.toString
          if (!f.startsWith("_") && !f.startsWith(".")) n += 1
        }
        assert(n == 1, s"cell $cell has $n files after REBUILD")
      }
    }

    // round 14 — REBUILD … CELLS pins an EXPLICIT count: the
    // right-size-ahead-of-growth statement the cell-cap warning's
    // remedy names. meta adopts it, the field leaves `derived` (so a
    // later derived-geometry REBUILD keeps the pin), and answers are
    // unchanged — cell count is pure layout
    val rbCe = run(basePq, s"INDEX REBUILD '$idx' CELLS 32").collect().head
    assert(rbCe.getAs[Int]("cells_before") == 1024, rbCe.toString)
    assert(rbCe.getAs[Int]("cells_after") == 32, rbCe.toString)
    val metaC = spark.read.parquet(s"$idx/meta").head()
    assert(metaC.getAs[Int]("cells") == 32, metaC.toString)
    assert(!metaC.getAs[String]("derived").split(",").contains("cells"),
      metaC.toString)
    assert(kept() == keptBefore)
    val rbCe2 = run(basePq, s"INDEX REBUILD '$idx'").collect().head
    assert(rbCe2.getAs[Int]("cells_after") == 32, rbCe2.toString)
    // CELLS composes with THRESHOLD (one statement re-bands AND
    // re-cells an lsh artifact); mutual exclusion and bounds unchanged
    val rbThCe = run(basePq, s"INDEX REBUILD '$idx' THRESHOLD 0.5 CELLS 16")
      .collect().head
    assert(rbThCe.getAs[Int]("cells_after") == 16, rbThCe.toString)
    assert(kept() == keptBefore)
    def badRb(body: String): String =
      intercept[Exception](run(basePq, body)).getMessage
    assert(badRb(s"INDEX REBUILD '$idx' CELLS 0").contains("must be >= 1"))
    assert(badRb(s"INDEX REBUILD '$idx' THRESHOLD 0.5 TABLES 8")
      .contains("mutually exclusive"))

    // IVF: rebuild re-trains centroids over the grown corpus and
    // re-derives cells = ceil(sqrt(n))
    val vecsPq = dir.resolve("vecs.parquet").toString
    val moreVecsPq = dir.resolve("morevecs.parquet").toString
    def vframe(from: Int, until: Int) = (from until until).map(i =>
        (i.toLong, Array(i * 1.0, (i % 7).toDouble, 0.5)))
      .toDF("vid", "emb")
    vframe(0, 300).write.parquet(vecsPq)
    vframe(1000, 1700).write.parquet(moreVecsPq)
    val ivfIdx = dir.resolve("ivf").toString
    run(vecsPq, s"INDEX ON emb KEY vid METHOD IVF INTO '$ivfIdx'")
    assert(spark.read.parquet(s"$ivfIdx/meta").head()
      .getAs[Int]("cells") ==
      graft.transforms.IndexGeometry.ivfCells(300))
    run(moreVecsPq, s"INDEX ON emb KEY vid METHOD IVF INTO '$ivfIdx' APPEND")
    val rbi = run(vecsPq, s"INDEX REBUILD '$ivfIdx'").collect().head
    assert(rbi.getAs[Int]("cells_after") ==
      graft.transforms.IndexGeometry.ivfCells(1000), rbi.toString)
    assert(rbi.getAs[Long]("indexed_rows") == 1000, rbi.toString)
    // served from fresh centroids: the probe answers from the artifact
    val knn = run(vecsPq,
      s"KNN ON emb KEY vid TOP 1 METHOD IVF PROBE 2 STORED '$ivfIdx'")
      .collect()
    assert(knn.nonEmpty)
    // CELLS is kind-independent (round 14): an IVF re-cell at an
    // explicit count re-trains at that count and pins it
    val rbiC = run(vecsPq, s"INDEX REBUILD '$ivfIdx' CELLS 12")
      .collect().head
    assert(rbiC.getAs[Int]("cells_after") == 12, rbiC.toString)
    val im1 = spark.read.parquet(s"$ivfIdx/meta").head()
    assert(im1.getAs[Int]("cells") == 12, im1.toString)
    assert(!im1.getAs[String]("derived").split(",").contains("cells"),
      im1.toString)
    assert(run(vecsPq,
      s"KNN ON emb KEY vid TOP 1 METHOD IVF PROBE 2 STORED '$ivfIdx'")
      .collect().nonEmpty)

    // COSINE: rebuild re-buckets from the stored vectors, re-deriving
    // BITS alongside cells (both meta-flagged derived)
    val cosVecs = dir.resolve("cosvecs.parquet").toString
    val cosMore = dir.resolve("cosmore.parquet").toString
    vframe(0, 200).write.parquet(cosVecs)
    vframe(2000, 3000).write.parquet(cosMore)
    val cosIdx = dir.resolve("cos").toString
    run(cosVecs, s"INDEX ON emb KEY vid METHOD COSINE INTO '$cosIdx'")
    val cm0 = spark.read.parquet(s"$cosIdx/meta").head()
    assert(cm0.getAs[Int]("bits") ==
      graft.transforms.IndexGeometry.cosineBits(200))
    run(cosMore, s"INDEX ON emb KEY vid METHOD COSINE INTO '$cosIdx' APPEND")
    val rbc = run(cosVecs, s"INDEX REBUILD '$cosIdx'").collect().head
    assert(rbc.getAs[Long]("indexed_rows") == 1200, rbc.toString)
    val cm1 = spark.read.parquet(s"$cosIdx/meta").head()
    assert(cm1.getAs[Int]("bits") ==
      graft.transforms.IndexGeometry.cosineBits(1200), cm1.toString)
    assert(cm1.getAs[Int]("cells") ==
      graft.transforms.IndexGeometry.storeCells(1200), cm1.toString)
    // re-ingested copies still match themselves through the rebuilt
    // (re-bucketed) artifact
    assert(run(cosVecs,
      s"NEARDEDUP D AGAINST STORED '$cosIdx' ON emb KEY vid " +
        "THRESHOLD 0.99 METHOD COSINE").collect().isEmpty)
    // CELLS composes with the cosine TABLES/BITS form (round 14): one
    // statement re-buckets at explicit geometry AND re-cells, pinning
    // all three fields
    val rbcC = run(cosVecs,
      s"INDEX REBUILD '$cosIdx' CELLS 8 TABLES 16 BITS 3").collect().head
    assert(rbcC.getAs[Int]("cells_after") == 8, rbcC.toString)
    val cm2 = spark.read.parquet(s"$cosIdx/meta").head()
    assert(cm2.getAs[Int]("cells") == 8 && cm2.getAs[Int]("tables") == 16
      && cm2.getAs[Int]("bits") == 3, cm2.toString)
    assert(cm2.getAs[String]("derived") == "", cm2.toString)
    assert(run(cosVecs,
      s"NEARDEDUP D AGAINST STORED '$cosIdx' ON emb KEY vid " +
        "THRESHOLD 0.99 METHOD COSINE").collect().isEmpty)

    // TYPO: re-cell from the strings store
    val typoIdx = dir.resolve("typo").toString
    run(basePq, s"INDEX ON txt KEY id METHOD TYPO INTO '$typoIdx'")
    run(morePq, s"INDEX ON txt KEY id METHOD TYPO INTO '$typoIdx' APPEND")
    val rbt = run(basePq, s"INDEX REBUILD '$typoIdx'").collect().head
    assert(rbt.getAs[Long]("indexed_rows") == 2600, rbt.toString)
    assert(rbt.getAs[Int]("cells_after") ==
      graft.transforms.IndexGeometry.storeCells(2600), rbt.toString)
    assert(run(basePq,
      s"NEARDEDUP D AGAINST STORED '$typoIdx' ON txt KEY id METHOD TYPO")
      .collect().isEmpty) // exact copies are ED-0 matches

    // errors + self-heal: a crashed swap (live renamed away) restores
    val m = intercept[Exception](run(basePq,
      s"INDEX REBUILD '${dir.resolve("missing")}'")).getMessage
    assert(m.contains("no stored index"), m)
    val oldSib = dir.resolve(".rebuild_old_pinned")
    java.nio.file.Files.move(java.nio.file.Paths.get(pinned), oldSib)
    val rbh = run(basePq, s"INDEX REBUILD '$pinned'").collect().head
    assert(rbh.getAs[Int]("cells_after") == 8, rbh.toString)
    assert(!java.nio.file.Files.exists(oldSib))
    assert(kept() == keptBefore) // unrelated artifact untouched
  }

  test("INDEX PQ / KNN STORED ADC: lifecycle equivalence + option algebra") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_aqlspec_pq")
    graft.queries.Advanced.registerTmpDir(dir)
    // 12 four-dim vectors in 2 cells; PQ 2 → two 2-dim subspaces with a
    // 4-code codebook each. Deterministic, spread directions so top-k
    // is stable.
    def vframe(from: Int, until: Int) = (from until until).map { i =>
      val a = i * 0.7
      (i.toLong, Array(math.cos(a), math.sin(a),
        math.cos(a * 1.3) * 0.5, math.sin(a * 1.3) * 0.5))
    }.toDF("vid", "emb")
    val basePq = dir.resolve("base.parquet").toString
    val morePq = dir.resolve("more.parquet").toString
    vframe(0, 12).write.parquet(basePq)
    vframe(100, 106).write.parquet(morePq)
    val idx = dir.resolve("ivfpq").toString
    def run(pq: String, body: String) = Aql.run(spark,
      s"""CONNECTION 'D' (DRIVER = 'file', FILE = '$pq',
         |  FORMAT = 'parquet')
         |TRANSFORM 'T' FROM CONNECTION D (
         |  $body
         |) INTO CONSOLE""".stripMargin).outputs("T")
    run(basePq,
      s"INDEX ON emb KEY vid METHOD IVF CELLS 2 PQ 2 PQCODES 4 INTO '$idx'")
    // the artifact carries codes + codebook stores and PQ meta
    for (sub <- Seq("codes", "codebook"))
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(idx, sub)), sub)
    val meta = spark.read.parquet(s"$idx/meta").head()
    assert(meta.getAs[Int]("pq_m") == 2 && meta.getAs[Int]("pq_subdim") == 2
      && meta.getAs[Int]("pq_codes") == 4, meta.toString)

    // the lifecycle invariant: with SHORTLIST ≥ all routed candidates the
    // ADC pass shortlists EVERYTHING, so the exact rerank must answer
    // byte-identically to the full-vector STORED probe — any defect in
    // encode/codebook/LUT/candidate routing surfaces as a diff here
    // (candidates lost from the codes store never reach the rerank)
    def served(adc: Boolean): Seq[(Long, Long, Double, Int)] =
      run(basePq,
        s"KNN ON emb KEY vid TOP 3 METHOD IVF PROBE 2 STORED '$idx'" +
          (if (adc) " ADC SHORTLIST 100" else "") + " QUERIES vid < 4")
        .collect().map(r => (r.getAs[Long]("qid"),
          r.getAs[Long]("neighbor_id"), r.getAs[Double]("cosine"),
          r.getAs[Int]("rank"))).toSeq.sorted
    assert(served(adc = true) == served(adc = false))

    // APPEND encodes the batch against the FROZEN codebook — appended
    // vectors must be ADC-rankable (missing code rows would drop them
    // from the shortlist and the equivalence would fail)
    run(morePq, s"INDEX ON emb KEY vid METHOD IVF INTO '$idx' APPEND")
    assert(served(adc = true) == served(adc = false))
    // DELETE routes code rows with the index rows — a deleted vector
    // must never resurface through an ADC shortlist
    run(morePq, s"INDEX ON emb KEY vid METHOD IVF INTO '$idx' DELETE")
    val afterDelete = served(adc = true)
    assert(afterDelete == served(adc = false))
    assert(!afterDelete.exists(_._2 >= 100L), afterDelete.toString)
    // REBUILD re-picks the codebook from the current corpus exactly as
    // centroids re-train; the rebuilt artifact still serves ADC
    run(basePq, s"INDEX REBUILD '$idx'")
    val metaRb = spark.read.parquet(s"$idx/meta").head()
    assert(metaRb.getAs[Int]("pq_m") == 2, metaRb.toString)
    assert(served(adc = true) == served(adc = false))

    // implicit SHORTLIST is max(100, TOP): a bare ADC TOP 120 over a
    // single cell of 150 vectors must return 120 ranks, not silently
    // cap at the old fixed default of 100
    val bigPq = dir.resolve("big.parquet").toString
    vframe(0, 150).write.parquet(bigPq)
    val bigIdx = dir.resolve("big").toString
    run(bigPq,
      s"INDEX ON emb KEY vid METHOD IVF CELLS 1 PQ 2 INTO '$bigIdx'")
    val ranks = run(bigPq,
      s"KNN ON emb KEY vid TOP 120 METHOD IVF PROBE 1 STORED '$bigIdx' " +
        "ADC QUERIES vid = 0")
      .collect().map(_.getAs[Int]("rank"))
    assert(ranks.length == 120 && ranks.max == 120,
      s"${ranks.length} ranks, max ${if (ranks.isEmpty) -1 else ranks.max}")
    // derived PQCODES clamps to the corpus (150 entries < 256 target)
    assert(spark.read.parquet(s"$bigIdx/meta").head()
      .getAs[Int]("pq_codes") == 150)

    // derived PQCODES on a tiny corpus is the entry count, not a
    // 16-row promise the codebook pick cannot honor
    val tinyPq = dir.resolve("tiny.parquet").toString
    vframe(0, 3).write.parquet(tinyPq)
    val tinyIdx = dir.resolve("tiny").toString
    run(tinyPq, s"INDEX ON emb KEY vid METHOD IVF CELLS 1 PQ 2 INTO '$tinyIdx'")
    assert(spark.read.parquet(s"$tinyIdx/meta").head()
      .getAs[Int]("pq_codes") == 3)
    assert(spark.read.parquet(s"$tinyIdx/codebook")
      .where(org.apache.spark.sql.functions.col("m") === 0).count() == 3)

    // option algebra
    def bad(pq: String, body: String): String =
      intercept[Exception](run(pq, body)).getMessage
    assert(bad(basePq, s"INDEX ON emb KEY vid METHOD COSINE PQ 2 INTO '$idx'")
      .contains("PQ only applies to METHOD IVF"))
    assert(bad(basePq, s"INDEX ON emb KEY vid METHOD IVF PQCODES 4 INTO '$idx'")
      .contains("PQCODES requires PQ"))
    assert(bad(basePq,
      s"INDEX ON emb KEY vid METHOD IVF PQ 3 INTO '${dir.resolve("x")}'")
      .contains("must divide the vector dimension 4"))
    assert(bad(basePq,
      s"INDEX ON emb KEY vid METHOD IVF PQ 513 INTO '$idx'")
      .contains("must be in [1, 512]"))
    // SMALLINT persistence bounds the codebook width — a 40 000-code
    // book would wrap ids negative and silently break the LUT join
    assert(bad(basePq,
      s"INDEX ON emb KEY vid METHOD IVF PQ 2 PQCODES 40000 INTO '$idx'")
      .contains("[2, 32768]"))
    assert(bad(basePq,
      s"INDEX ON emb KEY vid METHOD IVF PQ 2 INTO '$idx' APPEND")
      .contains("comes from the stored artifact"))
    assert(bad(basePq,
      "KNN ON emb KEY vid TOP 3 METHOD IVF ADC")
      .contains("ADC only applies with STORED"))
    assert(bad(basePq,
      s"KNN ON emb KEY vid TOP 3 METHOD IVF STORED '$idx' SHORTLIST 50")
      .contains("SHORTLIST only applies with ADC"))
    assert(bad(basePq,
      s"KNN ON emb KEY vid TOP 30 METHOD IVF STORED '$idx' ADC SHORTLIST 5")
      .contains("must be >= TOP"))
    // ADC against an artifact with no codes store: a clear pre-flight
    // error naming the fix, not a mid-job path failure
    val plainIdx = dir.resolve("plain").toString
    run(basePq, s"INDEX ON emb KEY vid METHOD IVF CELLS 2 INTO '$plainIdx'")
    assert(bad(basePq,
      s"KNN ON emb KEY vid TOP 3 METHOD IVF STORED '$plainIdx' ADC")
      .contains("carries no PQ codes"))
  }

  test("INDEX maintenance refuses non-atomic-rename object stores " +
      "up front") {
    // the single-writer lock and every cell/artifact swap assume atomic
    // create/rename; on s3-style schemes neither exists, so the
    // statement must refuse with the contract spelled out BEFORE any
    // filesystem work (no s3 connector is present here — reaching the
    // FS layer would throw an opaque class-not-found instead)
    def bad(body: String): String =
      intercept[Exception](Aql.run(spark,
        s"""DATA 'C' ([[1, "some text here"]]) WITH (COLUMNS = 'Id, Txt')
           |TRANSFORM 'K' FROM BLOCK C (
           |  $body
           |) INTO CONSOLE""".stripMargin)).getMessage
    for (scheme <- Seq("s3a", "gs", "abfss", "wasb"))
      assert(bad(s"INDEX COMPACT '$scheme://bucket/idx'")
        .contains("atomic-rename"), scheme)
    assert(bad("INDEX REBUILD 's3a://bucket/idx'")
      .contains("atomic-rename"))
    assert(bad(
      "INDEX ON Txt KEY Id METHOD LSH INTO 's3a://bucket/idx' APPEND")
      .contains("atomic-rename"))
    assert(bad(
      "INDEX ON Txt KEY Id METHOD LSH INTO 'gs://bucket/idx' DELETE")
      .contains("atomic-rename"))
  }

  test("INDEX REBUILD THRESHOLD: re-bands from the shingle store; " +
      "old-threshold probes error; non-LSH kinds reject") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_aqlspec_rbth")
    graft.queries.Advanced.registerTmpDir(dir)
    val corpusPq = dir.resolve("corpus.parquet").toString
    val batchPq = dir.resolve("batch.parquet").toString
    Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("id", "txt").write.parquet(corpusPq)
    // 10 = exact copy (jaccard 1.0 — dropped at every threshold);
    // 20 = 5 of 7 union shingles shared (jaccard 0.714286 — dropped at
    // 0.5, KEPT at 0.9); 30 = unrelated (kept at both)
    Seq((10L, "alpha beta gamma delta epsilon zeta eta theta"),
        (20L, "alpha beta gamma delta epsilon zeta eta iota"),
        (30L, "completely different words about nothing shared at all"))
      .toDF("id", "txt").write.parquet(batchPq)
    val idx = dir.resolve("lsh").toString
    def run(pq: String, body: String) = Aql.run(spark,
      s"""CONNECTION 'D' (DRIVER = 'file', FILE = '$pq',
         |  FORMAT = 'parquet')
         |TRANSFORM 'T' FROM CONNECTION D (
         |  $body
         |) INTO CONSOLE""".stripMargin).outputs("T")
    def kept(threshold: Double): Set[Long] = run(batchPq,
      s"NEARDEDUP D AGAINST STORED '$idx' ON txt KEY id " +
        s"THRESHOLD $threshold METHOD LSH")
      .collect().map(_.getLong(0)).toSet
    run(corpusPq,
      s"INDEX ON txt KEY id METHOD LSH THRESHOLD 0.5 CELLS 8 INTO '$idx'")
    // the gap the statement closes: a 0.9 probe of the 0.5-banded
    // artifact errors on the banding mismatch (it cannot silently
    // miss pairs), so before re-banding the 0.9 question is unaskable
    val mm = intercept[Exception](kept(0.9)).getMessage
    assert(mm.contains("was built with"), mm)
    assert(kept(0.5) == Set(30L))
    val rb = run(batchPq, s"INDEX REBUILD '$idx' THRESHOLD 0.9")
      .collect().head
    assert(rb.getAs[Long]("indexed_rows") == 1L, rb.toString)
    val meta = spark.read.parquet(s"$idx/meta").head()
    assert(meta.getAs[Int]("num_bands") == 32
      && meta.getAs[Int]("rows_per_band") == 4, meta.toString)
    assert(meta.getAs[String]("derived").split(",").contains("bands_rows"),
      meta.toString)
    // re-banded: the 0.9 probe now answers — 20 (0.714 < 0.9) is kept,
    // the exact copy still drops; and the OLD threshold now errors
    assert(kept(0.9) == Set(20L, 30L))
    val mo = intercept[Exception](kept(0.5)).getMessage
    assert(mo.contains("was built with"), mo)

    // a RAW-scheme store (shingles persisted as strings — the Scala
    // API's hashShingles = false form; the verb always hashes) re-bands
    // through the full hash chain, the bandKeysFromStored branch the
    // default scheme never exercises; answers must match the hashed
    // store's
    val rawIdx = dir.resolve("raw").toString
    val shC = graft.transforms.NearDup.shingled(
      spark.read.parquet(corpusPq), "id", "txt")
    graft.transforms.NearDup.bandStoreTo(rawIdx, shC,
      numPerm = 128, numBands = 64, rowsPerBand = 2, cells = 8,
      hashShingles = false)
    run(batchPq, s"INDEX REBUILD '$rawIdx' THRESHOLD 0.9")
    val rawMeta = spark.read.parquet(s"$rawIdx/meta").head()
    assert(rawMeta.getAs[Int]("num_bands") == 32
      && rawMeta.getAs[String]("shingle_scheme") == "raw", rawMeta.toString)
    val keptRaw = run(batchPq,
      s"NEARDEDUP D AGAINST STORED '$rawIdx' ON txt KEY id " +
        "THRESHOLD 0.9 METHOD LSH")
      .collect().map(_.getLong(0)).toSet
    assert(keptRaw == Set(20L, 30L), keptRaw.toString)

    // option algebra: non-LSH kinds reject THRESHOLD; an unreachable
    // banding and an out-of-range threshold error at the right layer
    val typoIdx = dir.resolve("typo").toString
    run(corpusPq, s"INDEX ON txt KEY id METHOD TYPO CELLS 4 INTO '$typoIdx'")
    def bad(body: String): String =
      intercept[Exception](run(batchPq, body)).getMessage
    assert(bad(s"INDEX REBUILD '$typoIdx' THRESHOLD 0.9")
      .contains("only applies to lsh_text"))
    assert(bad(s"INDEX REBUILD '$idx' THRESHOLD 0.05")
      .contains("REBUILD THRESHOLD"))
    assert(bad(s"INDEX REBUILD '$idx' THRESHOLD 1.5")
      .contains("out of range"))
    // TABLES/BITS is the cosine form — an lsh_text artifact rejects it
    assert(bad(s"INDEX REBUILD '$idx' TABLES 8 BITS 2")
      .contains("only applies to cosine_vec"))
  }

  test("INDEX REBUILD TABLES/BITS: re-buckets the cosine artifact at " +
      "explicit geometry from its own vectors store; meta pins the " +
      "fields; the derived-bits serving warning stops; option algebra") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_aqlspec_rbgeo")
    graft.queries.Advanced.registerTmpDir(dir)
    val pq = dir.resolve("vecs.parquet").toString
    // same fixture as the KNN LSH STORED spec: vid 5 duplicates vid 1's
    // content, so the serve must self-exclude it by content after the
    // re-bucket exactly as before
    Seq((1L, Array(1.0, 0.0)), (2L, Array(0.9, 0.1)),
        (3L, Array(0.0, 1.0)), (4L, Array(0.1, 0.9)),
        (5L, Array(1.0, 0.0)))
      .toDF("vid", "emb").write.parquet(pq)
    val idx = dir.resolve("cos").toString
    def run(body: String,
        log: (String, String, String) => Unit = (_, _, _) => ()) =
      Aql.run(spark,
        s"""CONNECTION 'V' (DRIVER = 'file', FILE = '$pq',
           |  FORMAT = 'parquet')
           |TRANSFORM 'T' FROM CONNECTION V (
           |  $body
           |) INTO CONSOLE""".stripMargin, logger = log).outputs("T")
    // build with DERIVED bits AND cells — the one-line geometry the
    // serving warning is for (cells derive to the 64-cell floor here)
    run(s"INDEX ON emb KEY vid METHOD COSINE INTO '$idx'")
    val metaBefore = spark.read.parquet(s"$idx/meta").head()
    assert(metaBefore.getAs[String]("derived").split(",").contains("bits"),
      metaBefore.toString)
    // re-bucket at the explicit geometry the sibling KNN spec pins —
    // the answers below are that spec's, so the re-bucket is content-
    // preserving by the same deterministic-recall argument
    val rb = run(s"INDEX REBUILD '$idx' TABLES 16 BITS 1")
      .collect().head
    assert(rb.getAs[String]("kind") == "cosine_vec", rb.toString)
    assert(rb.getAs[Long]("indexed_rows") == 4L, rb.toString) // distinct
    val meta = spark.read.parquet(s"$idx/meta").head()
    assert(meta.getAs[Int]("tables") == 16 && meta.getAs[Int]("bits") == 1,
      meta.toString)
    assert(!meta.getAs[String]("derived").split(",").contains("bits"),
      meta.toString)
    assert(meta.getAs[String]("derived").split(",").contains("cells"),
      meta.toString) // cells stays derived — only given fields pin
    // the serve is silent now (no derived-bits warning through the
    // engine logger) and the answers are the pinned-geometry spec's
    val logged = scala.collection.mutable.ArrayBuffer.empty[String]
    val served = run(
      s"KNN ON emb KEY vid TOP 2 METHOD LSH STORED '$idx' QUERIES vid = 1",
      (lvl, _, msg) =>
        if (lvl.equalsIgnoreCase("warning")) logged += msg)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Double]("cosine"),
        r.getAs[Int]("rank"))).toSeq.sortBy(_._3)
    assert(logged.isEmpty, logged.mkString("; "))
    assert(served.map(_._3) == Seq(1, 2), served.toString)
    assert(math.abs(served.head._2 - 0.993884) < 1e-6, served.toString)
    assert(math.abs(served(1)._2 - 0.110432) < 1e-6, served.toString)
    assert(!served.exists(_._2 >= 0.999999), served.toString)

    // partial form: BITS alone pins bits, keeps tables from meta
    val idx2 = dir.resolve("cos2").toString
    run(s"INDEX ON emb KEY vid METHOD COSINE CELLS 4 TABLES 8 INTO '$idx2'")
    run(s"INDEX REBUILD '$idx2' BITS 2")
    val meta2 = spark.read.parquet(s"$idx2/meta").head()
    assert(meta2.getAs[Int]("tables") == 8 && meta2.getAs[Int]("bits") == 2,
      meta2.toString)
    assert(!meta2.getAs[String]("derived").split(",").contains("bits"),
      meta2.toString)

    // option algebra: THRESHOLD and TABLES/BITS never meet; values are
    // range-checked at parse time; non-cosine kinds reject
    def bad(body: String): String =
      intercept[Exception](run(body)).getMessage
    assert(bad(s"INDEX REBUILD '$idx' THRESHOLD 0.9 BITS 2")
      .contains("mutually exclusive"))
    assert(bad(s"INDEX REBUILD '$idx' TABLES 0")
      .contains("must be >= 1"))
    assert(bad(s"INDEX REBUILD '$idx' BITS 40")
      .contains("out of range"))
    val ivfIdx = dir.resolve("ivf").toString
    run(s"INDEX ON emb KEY vid METHOD IVF CELLS 2 INTO '$ivfIdx'")
    assert(bad(s"INDEX REBUILD '$ivfIdx' TABLES 8 BITS 2")
      .contains("only applies to cosine_vec"))
  }

  test("INDEX DESCRIBE: serves from the stats maintained by every " +
      "mutating writer (verb AND direct API), VERIFY recomputes, an API " +
      "mutation of a record-less artifact commits one") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_aqlspec_st")
    graft.queries.Advanced.registerTmpDir(dir)
    val aPq = dir.resolve("a.parquet").toString
    val bPq = dir.resolve("b.parquet").toString
    Seq((1L, "alpha beta gamma delta epsilon"),
        (2L, "completely different words about nothing"))
      .toDF("id", "txt").write.parquet(aPq)
    Seq((3L, "yet another sentence with many tokens"),
        (4L, "the final corpus text for appending here"))
      .toDF("id", "txt").write.parquet(bPq)
    val idx = dir.resolve("lsh").toString
    val mf = graft.transforms.IndexManifest
    def recordAt(): Boolean = mf.read(spark, idx).isDefined
    def run(pq: String, body: String) = Aql.run(spark,
      s"""CONNECTION 'D' (DRIVER = 'file', FILE = '$pq',
         |  FORMAT = 'parquet')
         |TRANSFORM 'T' FROM CONNECTION D (
         |  $body
         |) INTO CONSOLE""".stripMargin).outputs("T")
    def describe(verify: Boolean): Seq[String] =
      run(aPq, s"INDEX DESCRIBE '$idx'" + (if (verify) " VERIFY" else ""))
        // modulo stats_served — served vs VERIFY differ there by design
        .drop("stats_served")
        .collect().map(_.toString).sorted.toSeq
    def entries(sub: String): Long =
      run(aPq, s"INDEX DESCRIBE '$idx'").collect()
        .find(_.getAs[String]("store") == sub).get.getAs[Long]("entries")
    // the build commits the layout record; the served DESCRIBE equals
    // the ground truth
    run(aPq, s"INDEX ON txt KEY id METHOD LSH THRESHOLD 0.5 CELLS 8 " +
      s"INTO '$idx'")
    assert(recordAt())
    assert(describe(false) == describe(true))
    assert(entries("shingles") == 2L)
    // verb APPEND commits the next version (same lock, last step)
    run(bPq, s"INDEX ON txt KEY id METHOD LSH INTO '$idx' APPEND")
    assert(recordAt())
    assert(describe(false) == describe(true))
    assert(entries("shingles") == 4L)
    // a DIRECT API append (the streaming ingestion path) maintains the
    // record itself (IndexManifest.maintained: prior read → mutate →
    // commit the batch's file reports folded in), so DESCRIBE stays
    // SERVED under continuous direct-API ingest — and the served rows
    // must equal the VERIFY ground truth, which proves the carried-over
    // cells are not stale
    val sh = graft.transforms.NearDup.shingled(
      Seq((99L, "totally novel words for the api append path"))
        .toDF("id", "txt"), "id", "txt")
    graft.transforms.NearDup.bandStoreAppend(idx, sh)
    assert(recordAt())
    assert(describe(false) == describe(true))
    assert(entries("shingles") == 5L)
    // with the record ABSENT, an API mutation first snapshots the live
    // layout as its prior, then commits its reports over it
    mf.invalidate(spark.sparkContext.hadoopConfiguration, idx)
    graft.transforms.NearDup.bandStoreDelete(idx, sh)
    assert(mf.read(spark, idx).map(_.version).contains(2L))
    assert(describe(false) == describe(true))
    assert(entries("shingles") == 4L)
    // and the next verb DELETE folds into it
    run(bPq, s"INDEX ON txt KEY id METHOD LSH INTO '$idx' DELETE")
    assert(recordAt())
    assert(describe(false) == describe(true))
    assert(entries("shingles") == 2L) // bPq's 2 texts deleted
    // COMPACT's rewrite also lands in the record (multi-file cells → 1)
    run(aPq, s"INDEX COMPACT '$idx'")
    assert(recordAt())
    assert(describe(false) == describe(true))
    val desc = run(aPq, s"INDEX DESCRIBE '$idx'").collect()
    assert(desc.forall(_.getAs[Long]("multi_file_cells") == 0L),
      desc.mkString("; "))
    // incremental refresh, closed-form: with the record PRESENT, verb
    // APPEND and verb DELETE fold only their own reports and carry the
    // rest over — after a full append-then-delete cycle the record
    // must equal a full recount of the live layout FILE FOR FILE, and
    // a cell emptied by the delete must leave the record entirely
    run(bPq, s"INDEX ON txt KEY id METHOD LSH INTO '$idx' APPEND")
    assert(describe(false) == describe(true))
    assert(entries("shingles") == 4L)
    run(bPq, s"INDEX ON txt KEY id METHOD LSH INTO '$idx' DELETE")
    assert(describe(false) == describe(true))
    assert(entries("shingles") == 2L)
    val stats = graft.transforms.IndexMaintenance.Stats
    val stores = Seq("bands" -> "pc", "shingles" -> "sc")
    assert(mf.read(spark, idx).map(_.layout).contains(
      stats.recount(spark, idx, stores)))
    // recount edge case 1: a zero-row parquet file in every cell (so in
    // every touched one) — it holds no entries, so neither the record
    // nor VERIFY counts it as a file
    val beforeEmpty = describe(true)
    val cellDirs = stores.flatMap { case (sub, pcol) =>
      java.nio.file.Files.list(java.nio.file.Paths.get(idx, sub))
        .toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.getFileName.toString.startsWith(s"$pcol=")) }
    for ((sub, pcol) <- stores) {
      val empty = dir.resolve(s"empty_$sub").toString
      spark.read.parquet(s"$idx/$sub").drop(pcol).limit(0).coalesce(1)
        .write.parquet(empty)
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(empty))
        .toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
        .find(_.getFileName.toString.endsWith(".parquet")).get
      for (cd <- cellDirs if cd.getParent.getFileName.toString == sub)
        java.nio.file.Files.copy(part, cd.resolve("part-zero-rows.parquet"))
    }
    assert(describe(true) == beforeEmpty)
    run(bPq, s"INDEX ON txt KEY id METHOD LSH INTO '$idx' APPEND")
    assert(describe(false) == describe(true))
    assert(entries("shingles") == 4L)
    run(bPq, s"INDEX ON txt KEY id METHOD LSH INTO '$idx' DELETE")
    assert(describe(false) == describe(true))
    assert(entries("shingles") == 2L)
    // recount edge case 2: a file a crashed statement left in a cell the
    // batch routes to, under a statement-style name — before its commit
    // (no version ever listed it) or after it (a superseded file it did
    // not delete): a copy of a listed file. The shingle store routes an
    // entry by pmod(xxhash64(id), 8) with id = xxhash64(text)
    val routed = spark.read.parquet(bPq)
      .select(org.apache.spark.sql.functions.expr(
        "cast(pmod(xxhash64(xxhash64(txt)), 8) as int)"))
      .collect().map(_.getInt(0)).toSet
    val listed = mf.read(spark, idx).get.layout("shingles")
      .filter { case (c, _) => routed(c) }.values.flatMap(_.keys).toSeq.sorted
    assert(listed.nonEmpty, s"no listed file in routed cells $routed")
    val from = java.nio.file.Paths.get(idx, listed.head)
    val strayRows = mf.read(spark, idx).get.layout("shingles")
      .values.flatMap(_.toSeq).toMap.apply(listed.head)
    val stray = from.resolveSibling(
      s"part-00000-7-${java.util.UUID.randomUUID()}.c000.snappy.parquet")
    java.nio.file.Files.copy(from, stray)
    def verified(): Long = run(aPq, s"INDEX DESCRIBE '$idx' VERIFY")
      .collect().find(_.getAs[String]("store") == "shingles").get
      .getAs[Long]("entries")
    // probes and served DESCRIBE are exact; VERIFY shows the extra file
    assert(entries("shingles") == 2L)
    assert(verified() == 2L + strayRows)
    run(bPq, s"INDEX ON txt KEY id METHOD LSH INTO '$idx' APPEND")
    assert(entries("shingles") == 4L)
    assert(verified() == 4L + strayRows)
    assert(java.nio.file.Files.exists(stray))
    run(bPq, s"INDEX ON txt KEY id METHOD LSH INTO '$idx' DELETE")
    assert(entries("shingles") == 2L)
    // COMPACT reclaims it: served equals VERIFY again, and the record
    // equals the recount file for file
    run(aPq, s"INDEX COMPACT '$idx'")
    assert(!java.nio.file.Files.exists(stray))
    assert(describe(false) == describe(true))
    assert(entries("shingles") == 2L)
    assert(mf.read(spark, idx).map(_.layout).contains(
      stats.recount(spark, idx, stores)))
  }

  test("INDEX DESCRIBE drift advisory: max_cell_skew reports the " +
      "hottest cell's share; an IVF skew >= 8 warns naming REBUILD; " +
      "the rebuild re-balances and the advisory stops") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_aqlspec_drift")
    graft.queries.Advanced.registerTmpDir(dir)
    // base: 64 unit vectors spread around the circle; drifted append:
    // 1000 vectors in a tight cone at angle ~0 — the DriftScale
    // protocol at spec scale (frozen centroids concentrate the cone
    // into the one nearest cell)
    val basePq = dir.resolve("base.parquet").toString
    val conePq = dir.resolve("cone.parquet").toString
    (0 until 64).map { i =>
      val a = 2 * math.Pi * i / 64
      (i.toLong, Array(math.cos(a), math.sin(a)))
    }.toDF("vid", "emb").write.parquet(basePq)
    (0 until 1000).map { i =>
      val a = 0.01 * (i % 7)
      (10000L + i, Array(math.cos(a), math.sin(a)))
    }.toDF("vid", "emb").write.parquet(conePq)
    val idx = dir.resolve("ivf").toString
    def run(pq: String, body: String) = Aql.run(spark,
      s"""CONNECTION 'D' (DRIVER = 'file', FILE = '$pq',
         |  FORMAT = 'parquet')
         |TRANSFORM 'T' FROM CONNECTION D (
         |  $body
         |) INTO CONSOLE""".stripMargin).outputs("T")
    def indexRow() = run(basePq, s"INDEX DESCRIBE '$idx'").collect()
      .find(_.getAs[String]("store") == "index").get
    run(basePq, s"INDEX ON emb KEY vid METHOD IVF CELLS 16 INTO '$idx'")
    val before = indexRow()
    // balanced-ish base: the skew column is bounded by cells_present
    // and sits well under the advisory line
    assert(before.getAs[Double]("max_cell_skew") < 8.0, before.toString)
    val warnsBefore = graft.transforms.IndexMaintenance.Warnings.recent
      .count(_.contains("hottest index cell"))
    run(conePq, s"INDEX ON emb KEY vid METHOD IVF INTO '$idx' APPEND")
    val after = indexRow()
    assert(after.getAs[Double]("max_cell_skew") >= 8.0, after.toString)
    val fired = graft.transforms.IndexMaintenance.Warnings.recent
      .filter(_.contains("hottest index cell"))
    assert(fired.size > warnsBefore, fired.toString)
    // the advisory names the remedy statement for THIS artifact
    assert(fired.last.contains(s"INDEX REBUILD '$idx'"), fired.last)
    // …and running it re-trains centroids over the union, splitting
    // the cone across cells — the advisory line is no longer crossed
    run(basePq, s"INDEX REBUILD '$idx'")
    val rebuilt = indexRow()
    assert(rebuilt.getAs[Double]("max_cell_skew") < 8.0, rebuilt.toString)
  }

  test("INDEX DESCRIBE file-growth advisory: a cell crossing 16 files " +
      "warns naming INDEX COMPACT; compaction clears it") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_aqlspec_fga")
    graft.queries.Advanced.registerTmpDir(dir)
    val pq = dir.resolve("doc.parquet").toString
    val text = "one steady sentence appended again and again until " +
      "its cells hold too many files"
    Seq((1L, text)).toDF("id", "txt").write.parquet(pq)
    val idx = dir.resolve("lsh").toString
    def run(body: String) = Aql.run(spark,
      s"""CONNECTION 'D' (DRIVER = 'file', FILE = '$pq',
         |  FORMAT = 'parquet')
         |TRANSFORM 'T' FROM CONNECTION D (
         |  $body
         |) INTO CONSOLE""".stripMargin).outputs("T")
    def maxFiles() = run(s"INDEX DESCRIBE '$idx'").collect()
      .map(_.getAs[Long]("max_files_per_cell")).max
    def compactWarns() = graft.transforms.IndexMaintenance.Warnings.recent
      .count(_.contains("INDEX COMPACT"))
    run(s"INDEX ON txt KEY id METHOD LSH THRESHOLD 0.5 CELLS 2 INTO '$idx'")
    // below the line: a fresh build is one file per cell — silent
    val w0 = compactWarns()
    assert(maxFiles() == 1L)
    assert(compactWarns() == w0)
    // the streaming-cadence failure mode: repeated appends of content
    // routing to the SAME cells add one file each (duplicated postings
    // are legal — "the wasted bytes are COMPACT's job"); at the 16th
    // file in one cell the advisory fires naming the remedy
    val sh = graft.transforms.NearDup.shingled(
      Seq(text).toDF("txt").select(
        org.apache.spark.sql.functions.xxhash64(
          org.apache.spark.sql.functions.col("txt")).as("th"),
        org.apache.spark.sql.functions.col("txt")),
      "th", "txt")
    for (_ <- 0 until 15)
      graft.transforms.NearDup.bandStoreAppend(idx, sh)
    assert(maxFiles() >= 16L)
    val fired = graft.transforms.IndexMaintenance.Warnings.recent
      .filter(_.contains("INDEX COMPACT"))
    assert(fired.size > w0, fired.toString)
    assert(fired.last.contains(s"INDEX COMPACT '$idx'"), fired.last)
    // the named remedy works and the advisory stops
    run(s"INDEX COMPACT '$idx'")
    val w1 = compactWarns()
    assert(maxFiles() == 1L)
    assert(compactWarns() == w1)
  }

  test("INDEX DESCRIBE stats_served: true off the layout record, false " +
      "after an invalidation-without-prior, one warning naming INDEX " +
      "MANIFEST") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_aqlspec_ssv")
    graft.queries.Advanced.registerTmpDir(dir)
    val pq = dir.resolve("doc.parquet").toString
    Seq((1L, "a first document about served statistics columns"),
      (2L, "a second document about full recompute fallbacks"))
      .toDF("id", "txt").write.parquet(pq)
    val idx = dir.resolve("lsh").toString
    def run(body: String) = Aql.run(spark,
      s"""CONNECTION 'D' (DRIVER = 'file', FILE = '$pq',
         |  FORMAT = 'parquet')
         |TRANSFORM 'T' FROM CONNECTION D (
         |  $body
         |) INTO CONSOLE""".stripMargin).outputs("T")
    def served(verify: String = "") = run(s"INDEX DESCRIBE '$idx'$verify")
      .collect().map(_.getAs[Boolean]("stats_served")).distinct.toSeq
    def absentWarns() = graft.transforms.IndexMaintenance.Warnings.recent
      .count(_.contains("is absent"))
    run(s"INDEX ON txt KEY id METHOD LSH THRESHOLD 0.5 CELLS 2 INTO '$idx'")
    // a fresh build commits the record: served, silent
    val w0 = absentWarns()
    assert(served() == Seq(true))
    assert(absentWarns() == w0)
    // an API append WITH a prior folds its reports in — still served
    val sh = graft.transforms.NearDup.shingled(
      Seq((9L, "a third document about incremental merge epilogues"))
        .toDF("id", "txt"), "id", "txt")
    graft.transforms.NearDup.bandStoreAppend(idx, sh)
    assert(served() == Seq(true))
    // invalidation WITHOUT a prior: the record removed out-of-band — the
    // DESCRIBE pays the recount, says so, and WARNs ONCE with the remedy
    def dropRecord(): Unit = {
      new org.apache.hadoop.fs.Path(idx)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(s"$idx/manifest"), true)
      ()
    }
    dropRecord()
    assert(served() == Seq(false))
    val fired = graft.transforms.IndexMaintenance.Warnings.recent
      .filter(_.contains("is absent"))
    assert(fired.size == w0 + 1, fired.toString)
    assert(fired.last.contains(s"INDEX MANIFEST '$idx'"), fired.last)
    // the next mutation snapshots the live layout as its prior and
    // commits over it: served again, no warning
    graft.transforms.NearDup.bandStoreAppend(idx,
      graft.transforms.NearDup.shingled(
        Seq((10L, "a fourth document appended while stats were absent"))
          .toDF("id", "txt"), "id", "txt"))
    assert(served() == Seq(true))
    assert(absentWarns() == w0 + 1)
    dropRecord()
    assert(served() == Seq(false))
    // the named remedy snapshots the record and the advisory stops
    run(s"INDEX MANIFEST '$idx'")
    val w1 = absentWarns()
    assert(served() == Seq(true))
    assert(absentWarns() == w1)
    // VERIFY honestly reports false — the recount was the explicit
    // ask, so no degradation warning fires
    assert(served(" VERIFY") == Seq(false))
    assert(absentWarns() == w1)
  }

  test("INDEX MANIFEST: every writer commits the layout record (build v1, " +
      "API append, COMPACT, REBUILD); a readable record is returned " +
      "unchanged; absent or malformed, it is snapshotted; lock excludes") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_aqlspec_mfst")
    graft.queries.Advanced.registerTmpDir(dir)
    val pq = dir.resolve("docs.parquet").toString
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "an entirely different sentence about winter weather"),
      (3L, "manifest committed probes read explicit file paths"))
      .toDF("id", "txt").write.parquet(pq)
    val idx = dir.resolve("lsh").toString
    val mf = graft.transforms.IndexManifest
    def run(body: String) = Aql.run(spark,
      s"""CONNECTION 'D' (DRIVER = 'file', FILE = '$pq',
         |  FORMAT = 'parquet')
         |TRANSFORM 'T' FROM CONNECTION D (
         |  $body
         |) INTO CONSOLE""".stripMargin).outputs("T")
    def probe(): Seq[Long] = Aql.run(spark,
      s"""DATA 'B' ([[10, "the quick brown fox jumps over the lazy dog tonight"],
         |          [11, "a sentence no corpus document resembles at all"]])
         |  WITH (COLUMNS = 'Id, Txt')
         |TRANSFORM 'K' FROM BLOCK B (
         |  NEARDEDUP B AGAINST STORED '$idx' ON Txt KEY Id
         |    THRESHOLD 0.5 METHOD LSH
         |) INTO CONSOLE""".stripMargin)
      .outputs("K").collect().map(_.getLong(0)).toSeq.sorted
    def descVersion(): Long = run(s"INDEX DESCRIBE '$idx'").collect()
      .map(_.getAs[Long]("manifest_version")).distinct match {
        case Array(v) => v
      }
    def manifest(): (Long, Long) = {
      val r = run(s"INDEX MANIFEST '$idx'").collect().head
      (r.getAs[Long]("version"), r.getAs[Long]("files"))
    }
    def bandFiles(): Int = {
      val s2 = java.nio.file.Files.walk(java.nio.file.Paths.get(idx, "bands"))
      try s2.iterator().asScala
        .count(p => java.nio.file.Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet") &&
          !p.getFileName.toString.startsWith("."))
      finally s2.close()
    }
    def resolved(): Seq[String] = graft.transforms.CellStore
      .snapshot(spark, idx, "lsh_text", "resolve").paths("bands", 0 to 3)
    run(s"INDEX ON txt KEY id METHOD LSH THRESHOLD 0.5 CELLS 4 INTO '$idx'")
    // the build commits v1: DESCRIBE reports it, and the resolver
    // answers from it with FILE paths (…/part-….parquet), not cell
    // directories, covering every live band file
    assert(descVersion() == 1L)
    assert(resolved().nonEmpty && resolved().forall(_.endsWith(".parquet")),
      resolved().toString)
    assert(resolved().size == bandFiles())
    val served = probe()
    assert(served == Seq(11L), served.toString)
    // a readable record is returned unchanged: same version, every file
    val (v1, files1) = manifest()
    assert(v1 == 1L && files1 == mf.read(spark, idx).get.files && files1 > 0)
    assert(descVersion() == 1L)
    // record-served probe ≡ live-layout probe (the q174 contract, pinned
    // here at spec scale where both paths run in one JVM)
    mf.invalidate(spark.sparkContext.hadoopConfiguration, idx)
    assert(descVersion() == 0L)
    assert(probe() == served)
    // an absent record is snapshotted from the live layout: the same
    // files as the build committed
    assert(manifest() == (1L, files1))
    assert(probe() == served)
    // MAINTAINED: an API mutation commits the next version as its last
    // step (prior read → mutate → commit its reports folded in), so the
    // probe stays record-served AND sees the appended row
    graft.transforms.NearDup.bandStoreAppend(idx,
      graft.transforms.NearDup.shingled(
        Seq((20L, "a sentence no corpus document resembles at all"))
          .toDF("id", "txt"), "id", "txt"))
    assert(descVersion() == 2L)
    assert(probe() == Seq.empty, "appended doc 20 must now match doc 11")
    // ...and the record really carries the appended files
    assert(resolved().size == bandFiles())
    // COMPACT commits with its dirty set (the append left multi-file
    // cells)
    run(s"INDEX COMPACT '$idx'")
    assert(descVersion() == 3L)
    assert(resolved().size == bandFiles())
    assert(probe() == Seq.empty)
    // REBUILD's swap carries the stage's fresh v1 in
    run(s"INDEX REBUILD '$idx'")
    assert(descVersion() == 1L)
    assert(resolved().size == bandFiles())
    assert(probe() == Seq.empty)
    // the record removed out-of-band ⇒ the next mutation snapshots the
    // live layout as its prior (v1) and commits over it (v2), deleting
    // the prior version
    new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(s"$idx/manifest"), true)
    graft.transforms.NearDup.bandStoreAppend(idx,
      graft.transforms.NearDup.shingled(
        Seq((21L, "yet another entirely unrelated appended sentence"))
          .toDF("id", "txt"), "id", "txt"))
    assert(descVersion() == 2L)
    assert(resolved().size == bandFiles())
    assert(probe() == Seq.empty)
    // a malformed record is an ERROR naming the recovery statement,
    // never a silent fallback (probing the live layout could silently
    // disagree with what the operator believes is pinned) — for probes
    // and writers alike
    assert(manifest()._1 == 2L)
    val mdir = java.nio.file.Paths.get(idx, "manifest")
    val v = {
      val s = java.nio.file.Files.list(mdir)
      try s.filter(_.getFileName.toString.startsWith("v"))
        .iterator().next()
      finally s.close()
    }
    java.nio.file.Files.writeString(v, "not a manifest\n")
    // drop Hadoop LocalFileSystem's checksum sidecar too — an external
    // edit on HDFS/S3 has no sidecar, and leaving a stale one would
    // surface as a ChecksumException instead of the header check
    java.nio.file.Files.deleteIfExists(
      v.resolveSibling("." + v.getFileName.toString + ".crc"))
    val em = intercept[Exception](probe()).getMessage
    assert(em.contains("malformed") && em.contains("INDEX MANIFEST"), em)
    val wm = intercept[Exception](graft.transforms.NearDup.bandStoreAppend(
      idx, graft.transforms.NearDup.shingled(
        Seq((22L, "an append refused while the record is malformed"))
          .toDF("id", "txt"), "id", "txt"))).getMessage
    assert(wm.contains("malformed") && wm.contains("INDEX MANIFEST"), wm)
    // the recovery statement snapshots over it as the next version
    assert(manifest()._1 == 3L)
    assert(descVersion() == 3L)
    assert(probe() == Seq.empty)
    // the MANIFEST statement is a writer: a held maintenance lock
    // excludes it
    val sibling = java.nio.file.Paths.get(
      graft.transforms.IndexMaintenance.maintLockPath(idx).toUri.getPath)
    java.nio.file.Files.writeString(sibling, "APPEND @ mfst-holder\n")
    val lm = intercept[Exception](
      run(s"INDEX MANIFEST '$idx'")).getMessage
    assert(lm.contains("single-writer") && lm.contains("mfst-holder"), lm)
    java.nio.file.Files.delete(sibling)
  }

  test("KNN METHOD JACCARD STORED: top-k text retrieval from the band " +
      "artifact — threshold grade, key self-exclusion, option algebra") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_aqlspec_kjac")
    graft.queries.Advanced.registerTmpDir(dir)
    val corpusPq = dir.resolve("corpus.parquet").toString
    val batchPq = dir.resolve("batch.parquet").toString
    // 1 = qid 10's exact text (content-excluded from 10's answer);
    // 2 = shares 5 of 7 union shingles with 1 (jaccard 0.714286);
    // 3 = unrelated (0, below grade)
    Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"),
        (2L, "alpha beta gamma delta epsilon zeta eta iota"),
        (3L, "completely different words about nothing shared at all"))
      .toDF("id", "txt").write.parquet(corpusPq)
    Seq((10L, "alpha beta gamma delta epsilon zeta eta theta"),
        (20L, "alpha beta gamma delta epsilon zeta eta iota"))
      .toDF("id", "txt").write.parquet(batchPq)
    val idx = dir.resolve("lsh").toString
    def run(pq: String, body: String) = Aql.run(spark,
      s"""CONNECTION 'D' (DRIVER = 'file', FILE = '$pq',
         |  FORMAT = 'parquet')
         |TRANSFORM 'T' FROM CONNECTION D (
         |  $body
         |) INTO CONSOLE""".stripMargin).outputs("T")
    run(corpusPq,
      s"INDEX ON txt KEY id METHOD LSH THRESHOLD 0.5 CELLS 8 INTO '$idx'")
    // neighbor ids are the store's CONTENT hashes (the exact-first
    // collapse keys entries by xxhash64(text) — q164's semantics for
    // the text family)
    val hashOf = Seq("alpha beta gamma delta epsilon zeta eta theta",
        "alpha beta gamma delta epsilon zeta eta iota")
      .toDF("t").select(org.apache.spark.sql.functions.xxhash64(
        org.apache.spark.sql.functions.col("t")))
      .collect().map(_.getLong(0))
    // the query's OWN text is content-excluded, so for qid 10 (a NEW
    // key carrying doc 1's exact text) the stored copy of that text is
    // NOT its neighbor — doc 2's text is, at 0.714286; doc 3 is below
    // the 0.5 grade and never appears (the answer is "top k with
    // jaccard >= t", possibly fewer than k rows)
    val served = run(batchPq,
      s"KNN ON txt KEY id TOP 2 METHOD JACCARD THRESHOLD 0.5 " +
        s"STORED '$idx' QUERIES id = 10")
      .collect().map(r => (r.getAs[Long]("qid"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("jaccard"),
        r.getAs[Int]("rank"))).toSeq.sortBy(_._4)
    assert(served == Seq((10L, hashOf(1), 0.714286, 1)), served.toString)
    // a query with a DIFFERENT text sees doc 1's text at 1.0 only if
    // its own text differs — qid 20 carries doc 2's text, so doc 1's
    // text surfaces at 0.714286 and its own is excluded
    val self = run(batchPq,
      s"KNN ON txt KEY id TOP 2 METHOD JACCARD THRESHOLD 0.5 " +
        s"STORED '$idx' QUERIES id = 20")
      .collect().map(r => (r.getAs[Long]("neighbor_id"),
        r.getAs[Double]("jaccard"), r.getAs[Int]("rank")))
      .toSeq.sortBy(_._3)
    assert(self == Seq((hashOf(0), 0.714286, 1)), self.toString)
    assert(!self.exists(_._2 >= 0.999999), self.toString)

    // option algebra: in-plan JACCARD requires an explicit THRESHOLD
    // (no artifact fixes the banding — round 14's in-plan form);
    // THRESHOLD belongs to JACCARD alone; vector knobs reject; kinds
    // don't interchange; the probe's banding must match the
    // artifact's (grade = build threshold) — a mismatched-threshold
    // serve errors instead of silently missing pairs
    def bad(body: String): String =
      intercept[Exception](run(batchPq, body)).getMessage
    assert(bad("KNN ON txt KEY id METHOD JACCARD")
      .contains("requires THRESHOLD"))
    assert(bad(s"KNN ON txt KEY id METHOD LSH THRESHOLD 0.5 STORED '$idx'")
      .contains("THRESHOLD only applies to METHOD JACCARD"))
    assert(bad(s"KNN ON txt KEY id METHOD JACCARD TABLES 8 STORED '$idx'")
      .contains("only applies to METHOD LSH"))
    assert(bad(s"KNN ON txt KEY id METHOD JACCARD STORED '$idx' ADC")
      .contains("ADC only applies to METHOD IVF"))
    assert(bad(s"KNN ON txt KEY id METHOD JACCARD THRESHOLD 0.9 " +
      s"STORED '$idx'").contains("was built with"))
    assert(bad(s"KNN ON txt KEY id METHOD JACCARD THRESHOLD 1.5 " +
      s"STORED '$idx'").contains("out of range"))
    val typoIdx = dir.resolve("typo").toString
    run(corpusPq, s"INDEX ON txt KEY id METHOD TYPO CELLS 4 INTO '$typoIdx'")
    assert(bad(s"KNN ON txt KEY id METHOD JACCARD STORED '$typoIdx'")
      .contains("not interchangeable"))
    // and the text method rejects a numeric column up front
    val numPq = dir.resolve("nums.parquet").toString
    Seq((1L, Array(1.0, 0.0))).toDF("id", "txt").write.parquet(numPq)
    val numErr = intercept[Exception](run(numPq,
      s"KNN ON txt KEY id METHOD JACCARD STORED '$idx'")).getMessage
    assert(numErr.contains("must be string"), numErr)
  }

  test("KNN METHOD JACCARD in-plan: top-k text retrieval without an " +
      "artifact — content self-exclusion, stored-serve symmetry") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_aqlspec_kjip")
    graft.queries.Advanced.registerTmpDir(dir)
    val corpusPq = dir.resolve("corpus.parquet").toString
    val batchPq = dir.resolve("batch.parquet").toString
    // same panel as the STORED test: 2 shares 5 of 7 union shingles
    // with 1 (jaccard 0.714286); 3 is unrelated; 4 duplicates 1's
    // CONTENT under a different key (content collapse → one entry)
    Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"),
        (2L, "alpha beta gamma delta epsilon zeta eta iota"),
        (3L, "completely different words about nothing shared at all"),
        (4L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("id", "txt").write.parquet(corpusPq)
    Seq((10L, "alpha beta gamma delta epsilon zeta eta theta"),
        (20L, "completely different words about nothing shared at all"))
      .toDF("id", "txt").write.parquet(batchPq)
    def run(script: String) = Aql.run(spark, script)
    val hashOf = Seq("alpha beta gamma delta epsilon zeta eta theta",
        "alpha beta gamma delta epsilon zeta eta iota")
      .toDF("t").select(org.apache.spark.sql.functions.xxhash64(
        org.apache.spark.sql.functions.col("t")))
      .collect().map(_.getLong(0))
    // ONE-SOURCE self-retrieval: each query's own content is excluded,
    // so doc 1 (and its exact-dup 4) see only doc 2's text at
    // 0.714286; doc 3 is below grade everywhere and emits no rows
    val selfServed = run(
      s"""CONNECTION 'D' (DRIVER = 'file', FILE = '$corpusPq',
         |  FORMAT = 'parquet')
         |TRANSFORM 'T' FROM CONNECTION D (
         |  KNN ON txt KEY id TOP 3 METHOD JACCARD THRESHOLD 0.5
         |) INTO CONSOLE""".stripMargin).outputs("T")
      .collect().map(r => (r.getAs[Long]("qid"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("jaccard"),
        r.getAs[Int]("rank"))).toSeq.sortBy(t => (t._1, t._4))
    assert(selfServed == Seq(
      (1L, hashOf(1), 0.714286, 1),
      (2L, hashOf(0), 0.714286, 1),
      (4L, hashOf(1), 0.714286, 1)), selfServed.toString)
    // TWO-SOURCE form ≡ the STORED serve over the same corpus at the
    // same grade — banding, verify and rank are shared bodies, so the
    // in-plan statement and the build+serve pair must answer
    // IDENTICALLY row-for-row (the write-once story's check: the
    // artifact adds persistence, never answers)
    def twoSourceScript(body: String) =
      s"""CONNECTION 'B' (DRIVER = 'file', FILE = '$batchPq',
         |  FORMAT = 'parquet')
         |CONNECTION 'C' (DRIVER = 'file', FILE = '$corpusPq',
         |  FORMAT = 'parquet')
         |TRANSFORM 'T' FROM CONNECTION B, CONNECTION C (
         |  $body
         |) INTO CONSOLE""".stripMargin
    val inPlan = run(twoSourceScript(
      "KNN B WITH C ON txt KEY id TOP 2 METHOD JACCARD THRESHOLD 0.5"))
      .outputs("T").collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("neighbor_id"),
        r.getAs[Double]("jaccard"), r.getAs[Int]("rank")))
      .toSeq.sorted
    val idx = dir.resolve("lsh").toString
    run(
      s"""CONNECTION 'C' (DRIVER = 'file', FILE = '$corpusPq',
         |  FORMAT = 'parquet')
         |TRANSFORM 'T' FROM CONNECTION C (
         |  INDEX ON txt KEY id METHOD LSH THRESHOLD 0.5 CELLS 8
         |    INTO '$idx'
         |) INTO CONSOLE""".stripMargin)
    val served = run(
      s"""CONNECTION 'B' (DRIVER = 'file', FILE = '$batchPq',
         |  FORMAT = 'parquet')
         |TRANSFORM 'T' FROM CONNECTION B (
         |  KNN ON txt KEY id TOP 2 METHOD JACCARD THRESHOLD 0.5
         |    STORED '$idx'
         |) INTO CONSOLE""".stripMargin).outputs("T").collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("neighbor_id"),
        r.getAs[Double]("jaccard"), r.getAs[Int]("rank")))
      .toSeq.sorted
    assert(inPlan == served, s"in-plan $inPlan vs stored $served")
    assert(inPlan.nonEmpty) // the symmetry pin must not pass vacuously
    // the corpus side is content-keyed, so a corpus frame WITHOUT the
    // key column is a valid heterogeneous two-source retrieval (KEY is
    // resolved on the query side only) and answers identically
    val corpusNoKeyPq = dir.resolve("corpus_nokey.parquet").toString
    spark.read.parquet(corpusPq).select(org.apache.spark.sql.functions
      .col("txt")).write.parquet(corpusNoKeyPq)
    val noKey = run(
      s"""CONNECTION 'B' (DRIVER = 'file', FILE = '$batchPq',
         |  FORMAT = 'parquet')
         |CONNECTION 'C' (DRIVER = 'file', FILE = '$corpusNoKeyPq',
         |  FORMAT = 'parquet')
         |TRANSFORM 'T' FROM CONNECTION B, CONNECTION C (
         |  KNN B WITH C ON txt KEY id TOP 2 METHOD JACCARD THRESHOLD 0.5
         |) INTO CONSOLE""".stripMargin).outputs("T").collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("neighbor_id"),
        r.getAs[Double]("jaccard"), r.getAs[Int]("rank")))
      .toSeq.sorted
    assert(noKey == inPlan, s"no-key corpus $noKey vs $inPlan")
    // option algebra: the in-plan form rejects the vector knobs and a
    // numeric column exactly as the stored form does
    def bad(body: String): String =
      intercept[Exception](run(twoSourceScript(body))).getMessage
    assert(bad("KNN B WITH C ON txt KEY id METHOD JACCARD THRESHOLD 0.5 " +
      "TABLES 8").contains("only applies to METHOD LSH"))
    assert(bad("KNN B WITH C ON txt KEY id METHOD JACCARD THRESHOLD 1.5")
      .contains("out of range"))
    assert(bad("KNN B WITH C ON txt KEY id METHOD JACCARD")
      .contains("requires THRESHOLD"))
  }

  test("KNN METHOD LSH STORED: top-k from the cosine artifact, " +
      "content self-exclusion, option algebra") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_aqlspec_klsh")
    graft.queries.Advanced.registerTmpDir(dir)
    val pq = dir.resolve("vecs.parquet").toString
    // vid 5 duplicates vid 1's CONTENT — the store collapses them to one
    // entry, and a query on vid 1 must exclude that entry by content
    // (not key), so cosine 1.0 never appears in its answer
    Seq((1L, Array(1.0, 0.0)), (2L, Array(0.9, 0.1)),
        (3L, Array(0.0, 1.0)), (4L, Array(0.1, 0.9)),
        (5L, Array(1.0, 0.0)))
      .toDF("vid", "emb").write.parquet(pq)
    val idx = dir.resolve("cos").toString
    def run(body: String) = Aql.run(spark,
      s"""CONNECTION 'V' (DRIVER = 'file', FILE = '$pq',
         |  FORMAT = 'parquet')
         |TRANSFORM 'T' FROM CONNECTION V (
         |  $body
         |) INTO CONSOLE""".stripMargin).outputs("T")
    run("INDEX ON emb KEY vid METHOD COSINE CELLS 4 TABLES 16 BITS 1 " +
      s"INTO '$idx'")
    val served = run(
      s"KNN ON emb KEY vid TOP 2 METHOD LSH STORED '$idx' QUERIES vid = 1")
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Double]("cosine"),
        r.getAs[Int]("rank"))).toSeq.sortBy(_._3)
    // [0.9, 0.1] at cosine ≈ 0.993884, then [0.1, 0.9] at ≈ 0.110432;
    // the duplicated [1, 0] entry is self-excluded, [0, 1] is rank 3
    assert(served.map(_._3) == Seq(1, 2), served.toString)
    assert(served.forall(_._1 == 1L), served.toString)
    assert(math.abs(served.head._2 - 0.993884) < 1e-6, served.toString)
    assert(math.abs(served(1)._2 - 0.110432) < 1e-6, served.toString)
    assert(!served.exists(_._2 >= 0.999999), served.toString)

    // geometry comes from meta — passing it is an error, as is serving
    // the wrong family or asking for codes the store cannot hold
    def bad(body: String): String =
      intercept[Exception](run(body)).getMessage
    assert(bad(s"KNN ON emb KEY vid METHOD LSH TABLES 8 STORED '$idx'")
      .contains("TABLES/BITS do not apply with STORED"))
    assert(bad(s"KNN ON emb KEY vid METHOD EXACT STORED '$idx'")
      .contains("METHOD EXACT scans the source"))
    assert(bad(s"KNN ON emb KEY vid METHOD LSH STORED '$idx' ADC")
      .contains("ADC only applies to METHOD IVF STORED"))
    val ivfIdx = dir.resolve("ivf").toString
    run(s"INDEX ON emb KEY vid METHOD IVF CELLS 2 INTO '$ivfIdx'")
    assert(bad(s"KNN ON emb KEY vid METHOD LSH STORED '$ivfIdx'")
      .contains("not interchangeable"))
    assert(bad(s"KNN ON emb KEY vid METHOD IVF STORED '$idx'")
      .contains("not interchangeable"))

    // serving from a DERIVED-bits artifact warns (the dedup-grade
    // geometry contract applied to top-k, where there is no threshold
    // to gate on) and the warning persists for DESCRIBE; the pinned
    // artifact above served silently
    val derivedIdx = dir.resolve("cos_derived").toString
    run(s"INDEX ON emb KEY vid METHOD COSINE CELLS 4 INTO '$derivedIdx'")
    run(s"KNN ON emb KEY vid TOP 2 METHOD LSH STORED '$derivedIdx' " +
      "QUERIES vid = 1").collect()
    assert(graft.transforms.IndexMaintenance.Warnings.recent
      .exists(_.contains("KNN top-k served")))
    val desc = run(s"INDEX DESCRIBE '$derivedIdx'").collect()
    assert(desc.forall(_.getAs[Long]("probe_warnings") >= 1L),
      desc.mkString("; "))
    val descPinned = run(s"INDEX DESCRIBE '$idx'").collect()
    assert(descPinned.forall(_.getAs[Long]("probe_warnings") == 0L),
      descPinned.mkString("; "))
  }

  test("INDEX derived-bits contract: stored cosine probe below the " +
      "threshold floor warns; dedup-grade probes stay silent") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_aqlspec_warn")
    graft.queries.Advanced.registerTmpDir(dir)
    val vecsPq = dir.resolve("vecs.parquet").toString
    (0 until 200).map(i => (i.toLong, Array(i * 1.0, 1.0, 0.5, 0.25)))
      .toDF("vid", "emb").write.parquet(vecsPq)
    val idx = dir.resolve("cos").toString
    Aql.run(spark,
      s"""CONNECTION 'V' (DRIVER = 'file', FILE = '$vecsPq',
         |  FORMAT = 'parquet')
         |TRANSFORM 'Built' FROM CONNECTION V (
         |  INDEX ON emb KEY vid METHOD COSINE INTO '$idx'
         |) INTO CONSOLE""".stripMargin)
    // meta records bits (and cells) as DERIVED
    val meta = spark.read.parquet(s"$idx/meta").head()
    assert(meta.getAs[String]("derived") == "cells,bits", meta.toString)
    def probe(threshold: Double, log: (String, String, String) => Unit)
        : Unit = {
      Aql.run(spark,
        s"""CONNECTION 'B' (DRIVER = 'file', FILE = '$vecsPq',
           |  FORMAT = 'parquet')
           |TRANSFORM 'Kept' FROM CONNECTION B (
           |  NEARDEDUP B AGAINST STORED '$idx' ON emb KEY vid
           |    THRESHOLD $threshold METHOD COSINE
           |) INTO CONSOLE""".stripMargin, logger = log)
      ()
    }
    // a moderate-threshold probe of the derived-bits artifact warns —
    // through the engine logger (WARNING level) and the warnings ring
    val logged = scala.collection.mutable.ArrayBuffer.empty[String]
    probe(0.5, (lvl, _, msg) =>
      if (lvl.equalsIgnoreCase("warning")) logged += msg)
    assert(logged.exists(m => m.contains("DERIVED bits") &&
      m.contains("THRESHOLD 0.5")), logged.mkString("; "))
    assert(graft.transforms.IndexMaintenance.Warnings.recent
      .exists(_.contains("DERIVED bits")))
    // a dedup-grade probe (>= the contract floor) stays silent
    val logged2 = scala.collection.mutable.ArrayBuffer.empty[String]
    probe(0.99, (lvl, _, msg) =>
      if (lvl.equalsIgnoreCase("warning")) logged2 += msg)
    assert(logged2.isEmpty, logged2.mkString("; "))

    // the warning PERSISTS (to the artifact's sibling warnings dir)
    // and INDEX DESCRIBE surfaces it — the ring above dies with this
    // JVM, but the operator who asks "has anything probed this below
    // contract?" tomorrow is a different process. Identical messages
    // persist once per process (the serve-path cost contract), so two
    // below-floor probes in this JVM record ≥ 1 event, not 2
    probe(0.5, (_, _, _) => ())
    val desc = Aql.run(spark,
      s"""DATA 'One' ([[1]]) WITH (COLUMNS = 'X')
         |TRANSFORM 'D' FROM BLOCK One (
         |  INDEX DESCRIBE '$idx'
         |) INTO CONSOLE""".stripMargin).outputs("D").collect()
    assert(desc.forall(_.getAs[Long]("probe_warnings") >= 1L),
      desc.mkString("; "))
    assert(desc.forall(_.getAs[String]("last_warning")
      .contains("DERIVED bits")), desc.mkString("; "))
  }

  test("NEARDEDUP METHOD COSINE: embedding dedup e2e; options validate") {
    // the vector member of the dedup verb family (q44 as a language
    // operator). Eight 2-d vectors: 1-2-5 form a cosine-0.9 chain
    // (cos(1,2)=0.994, cos(1,5)=0.970, cos(2,5)=0.991) and 6 is an
    // EXACT copy of 1 (exercises the exact-first collapse: the copy
    // joins 1's cluster through the vector hash and drops); 7-8 are an
    // isolated identical pair (a clique with no near neighbors — the
    // clique gate keeps 7, drops 8); 3 and 4 are isolated singletons;
    // 9 is the ZERO vector — its cosine is 0/0 = NaN, which Spark's
    // NaN-safe ordering ranks ABOVE any threshold, so it must be
    // filtered out of dedup entirely (passes through) rather than
    // "matching" every bucket collision — 12 carries a NaN component
    // (norm NaN; NaN > 0 is TRUE under the same ordering, so the norm
    // guard needs its explicit isnan — an unfiltered NaN vector's
    // cosine is NaN ≥ any threshold and would merge unrelated clusters
    // exactly like the zero vector) — and 13 overflows (components
    // ~1e160 whose squares overflow: norm = Inf, cosines NaN, same
    // failure mode, needs the finite guard). Survivors are the min key
    // per cluster plus the passthroughs: {1, 3, 4, 7, 9, 12, 13}.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_cos_aql")
    dir.toFile.deleteOnExit()
    val pq = dir.resolve("vecs.parquet").toString
    Seq(
      (1L, Array(1.0, 0.0)), (2L, Array(0.9, 0.1)), (5L, Array(0.8, 0.2)),
      (6L, Array(1.0, 0.0)), (7L, Array(0.5, -0.5)), (8L, Array(0.5, -0.5)),
      (3L, Array(0.0, 1.0)), (4L, Array(-1.0, 0.0)), (9L, Array(0.0, 0.0)),
      (12L, Array(1.0, Double.NaN)), (13L, Array(1.6e160, 1.0e160)))
      .toDF("vid", "emb").write.parquet(pq)
    val kept = Aql.run(spark,
      s"""CONNECTION 'V' (DRIVER = 'file', FILE = '$pq', FORMAT = 'parquet')
         |TRANSFORM 'D' FROM CONNECTION V (
         |  NEARDEDUP ON emb KEY vid THRESHOLD 0.9 METHOD COSINE
         |) INTO CONSOLE""".stripMargin)
      .outputs("D").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L, 3L, 4L, 7L, 9L, 12L, 13L), kept.toString)

    // AGAINST: batch 10 matches corpus vector 1 and drops; 1 matches its
    // own corpus copy (no same-key exclusion — re-ingestion IS the
    // duplicate) and drops; 11 matches nothing and passes
    val bpq = dir.resolve("batch.parquet").toString
    Seq((10L, Array(1.0, 0.0)), (1L, Array(1.0, 0.0)),
      (11L, Array(0.0, -1.0)))
      .toDF("vid", "emb").write.parquet(bpq)
    val keptB = Aql.run(spark,
      s"""CONNECTION 'V' (DRIVER = 'file', FILE = '$pq', FORMAT = 'parquet')
         |CONNECTION 'B' (DRIVER = 'file', FILE = '$bpq', FORMAT = 'parquet')
         |TRANSFORM 'D' FROM CONNECTION B, CONNECTION V (
         |  NEARDEDUP B AGAINST V ON emb KEY vid THRESHOLD 0.9 METHOD COSINE
         |) INTO CONSOLE""".stripMargin)
      .outputs("D").collect().map(_.getLong(0)).sorted.toSeq
    assert(keptB == Seq(11L), keptB.toString)

    def bad(verb: String, data: String = s"CONNECTION 'V' (DRIVER = " +
        s"'file', FILE = '$pq', FORMAT = 'parquet')"): String =
      intercept[Exception](Aql.run(spark,
        s"""$data
           |TRANSFORM 'D' FROM CONNECTION V ($verb) INTO CONSOLE
           |""".stripMargin)).getMessage
    // ON must be a vector column for COSINE
    val tv = intercept[Exception](Aql.run(spark,
      """DATA 'T' ([[1, "x"]]) WITH (COLUMNS = 'Id, Txt')
        |TRANSFORM 'D' FROM BLOCK T (
        |  NEARDEDUP ON Txt KEY Id METHOD COSINE
        |) INTO CONSOLE""".stripMargin))
    assert(tv.getMessage.contains("array<float|double>"), tv.getMessage)
    // option pairing: TABLES/BITS are COSINE-only, BANDS/ROWS LSH-only
    assert(bad("NEARDEDUP ON emb KEY vid METHOD LSH TABLES 8")
      .contains("only apply to METHOD COSINE"))
    assert(bad("NEARDEDUP ON emb KEY vid METHOD COSINE BANDS 8 ROWS 2")
      .contains("only apply to METHOD LSH"))
    assert(bad("NEARDEDUP ON emb KEY vid METHOD COSINE TABLES 0")
      .contains("invalid"))
    // STAR ABOVE on COSINE is the vector-side hot-bucket split: with
    // the most aggressive setting (every ≥2 bucket starred) the cluster
    // partition — and so the survivor set — must be IDENTICAL to the
    // all-pairs path on this corpus (homogeneous families; the
    // SkewScale contract at miniature scale)
    val keptStar = Aql.run(spark,
      s"""CONNECTION 'V' (DRIVER = 'file', FILE = '$pq', FORMAT = 'parquet')
         |TRANSFORM 'D' FROM CONNECTION V (
         |  NEARDEDUP ON emb KEY vid THRESHOLD 0.9 METHOD COSINE
         |    STAR ABOVE 1
         |) INTO CONSOLE""".stripMargin)
      .outputs("D").collect().map(_.getLong(0)).sorted.toSeq
    assert(keptStar == kept, s"star survivors $keptStar != $kept")
    assert(bad("NEARDEDUP ON emb KEY vid METHOD TYPO STAR ABOVE 4")
      .contains("only applies to METHOD LSH or COSINE"))
  }

  test("NEARDEDUP METHOD TYPO: edit-distance dedup e2e; options validate") {
    // the fuzzy-string member of the dedup verb family (q98 as a
    // language operator). Hand-computed: 1-2-4 chain ("abcd"~"abxd"
    // substitution, "abcd"~"abc" deletion; longest len-4 tie -> min key
    // 1 survives), 6 is an exact copy of "abcd" (collapse path, drops),
    // 7-8 an isolated identical pair (clique keeps 7), 5 isolated.
    def kept(rows: String, verb: String): Seq[Long] = Aql.run(spark,
      s"""DATA 'D' ([$rows]) WITH (COLUMNS = 'Id, Txt', FORMAT = 'JSON_ARRAY')
         |TRANSFORM 'T' FROM BLOCK D ($verb) INTO CONSOLE
         |""".stripMargin).outputs("T").collect()
      .map(_.getLong(0)).sorted.toSeq
    // 9 and 12 carry NULL text: the only passthrough class (a null is
    // at no edit distance from anything) — both survive, even as a pair
    val rows =
      """[1, "abcd"], [2, "abxd"], [4, "abc"], [5, "zzzz"],
        |[6, "abcd"], [7, "qq"], [8, "qq"], [9, null], [12, null]""".stripMargin
    assert(kept(rows, "NEARDEDUP ON Txt KEY Id METHOD TYPO")
      == Seq(1L, 5L, 7L, 9L, 12L))

    // AGAINST: batch 10 ("abce") is ED-1 from corpus "abcd" and drops;
    // 1 re-ingests its own corpus string (no same-key exclusion) and
    // drops; 11 matches nothing and passes
    val keptB = Aql.run(spark,
      """DATA 'B' ([[10, "abce"], [1, "abcd"], [11, "hello"]])
        |  WITH (COLUMNS = 'Id, Txt', FORMAT = 'JSON_ARRAY')
        |DATA 'C' ([[1, "abcd"], [2, "zzzz"]])
        |  WITH (COLUMNS = 'Id, Txt', FORMAT = 'JSON_ARRAY')
        |TRANSFORM 'T' FROM BLOCK B, BLOCK C (
        |  NEARDEDUP B AGAINST C ON Txt KEY Id METHOD TYPO
        |) INTO CONSOLE""".stripMargin).outputs("T").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(keptB == Seq(11L), keptB.toString)

    def bad(verb: String): String = intercept[Exception](Aql.run(spark,
      s"""DATA 'D' ([[1, "x"]]) WITH (COLUMNS = 'Id, Txt')
         |TRANSFORM 'T' FROM BLOCK D ($verb) INTO CONSOLE
         |""".stripMargin)).getMessage
    assert(bad("NEARDEDUP ON Txt KEY Id THRESHOLD 0.5 METHOD TYPO")
      .contains("does not apply to METHOD TYPO"))
    val ns = intercept[Exception](Aql.run(spark,
      """DATA 'D' ([[1, 2]]) WITH (COLUMNS = 'Id, Num')
        |TRANSFORM 'T' FROM BLOCK D (
        |  NEARDEDUP ON Num KEY Id METHOD TYPO
        |) INTO CONSOLE""".stripMargin))
    assert(ns.getMessage.contains("must be string"), ns.getMessage)
    assert(bad("NEARDEDUP ON Txt KEY Id METHOD TYPO TABLES 8")
      .contains("only apply to METHOD COSINE"))
    assert(bad("NEARDEDUP ON Txt KEY Id METHOD TYPO BANDS 8 ROWS 2")
      .contains("only apply to METHOD LSH"))
  }

  test("KNN verb: exact top-k neighbors e2e; options validate") {
    // beyond-parity verb (SURVEY §7.3): q34/q35/q46's similarity search
    // as a language operator. Four 2-d vectors in two clear pairs: each
    // row's nearest neighbor is its pair partner, for every method —
    // EXACT by brute force, LSH (sign buckets over 2 dims), IVF
    // (CELLS 2 quantizer separates the pairs cleanly).
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_knn_aql")
    dir.toFile.deleteOnExit()
    val pq = dir.resolve("vecs.parquet").toString
    Seq(
      (1L, Array(1.0, 0.0)), (2L, Array(0.9, 0.1)),
      (3L, Array(0.0, 1.0)), (4L, Array(0.1, 0.9)))
      .toDF("vid", "emb").write.parquet(pq)
    def run(verb: String): Seq[(Long, Long)] = Aql.run(spark,
      s"""CONNECTION 'V' (DRIVER = 'file', FILE = '$pq', FORMAT = 'parquet')
         |TRANSFORM 'K' FROM CONNECTION V (
         |  $verb
         |) INTO CONSOLE""".stripMargin)
      .outputs("K").select("qid", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val want = Seq((1L, 2L), (2L, 1L), (3L, 4L), (4L, 3L))
    assert(run("KNN ON emb KEY vid TOP 1") == want)
    assert(run("KNN ON emb KEY vid TOP 1 METHOD LSH TABLES 8 BITS 2") == want)
    assert(run("KNN ON emb KEY vid TOP 1 METHOD IVF CELLS 2 PROBE 2") == want)
    // QUERIES restricts the query side; the corpus stays whole
    assert(run("KNN ON emb KEY vid TOP 1 QUERIES vid <= 2")
      == Seq((1L, 2L), (2L, 1L)))

    // two-source form: a query batch against a separate corpus (q85's
    // incremental shape for vectors). Query 10 hits corpus vector 1;
    // query 1 shares its key with a corpus row and must not match
    // itself — the same-key exclusion routes it to vector 2.
    val qpq = dir.resolve("queries.parquet").toString
    Seq((10L, Array(1.0, 0.0)), (1L, Array(1.0, 0.0)))
      .toDF("vid", "emb").write.parquet(qpq)
    val two = Aql.run(spark,
      s"""CONNECTION 'V' (DRIVER = 'file', FILE = '$pq', FORMAT = 'parquet')
         |CONNECTION 'Q' (DRIVER = 'file', FILE = '$qpq', FORMAT = 'parquet')
         |TRANSFORM 'K' FROM CONNECTION Q, CONNECTION V (
         |  KNN Q WITH V ON emb KEY vid TOP 1
         |) INTO CONSOLE""".stripMargin)
      .outputs("K").select("qid", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(two == Seq((1L, 2L), (10L, 1L)))

    // validation: unknown method, wrong-method options, PROBE > CELLS,
    // non-array column, malformed clause
    def bad(verb: String): String = intercept[Exception](run(verb)).getMessage
    assert(bad("KNN ON emb KEY vid METHOD COSINE").contains("METHOD COSINE"))
    assert(bad("KNN ON emb KEY vid TABLES 4")
      .contains("only applies to METHOD LSH"))
    assert(bad("KNN ON emb KEY vid METHOD LSH CELLS 4")
      .contains("only applies to METHOD IVF"))
    assert(bad("KNN ON emb KEY vid METHOD IVF CELLS 2 PROBE 3")
      .contains("PROBE 3 exceeds CELLS 2"))
    // the default-valued halves of the pair are validated too
    assert(bad("KNN ON emb KEY vid METHOD IVF PROBE 32")
      .contains("PROBE 32 exceeds CELLS 16"))
    assert(bad("KNN ON emb KEY vid METHOD IVF CELLS 4")
      .contains("PROBE 8 exceeds CELLS 4"))
    // out-of-int-range numerics are structured errors, not raw
    // NumberFormatException
    assert(bad("KNN ON emb KEY vid TOP 99999999999")
      .contains("out of integer range"))
    // the bucket expression's own bounds surface as TransformErrors with
    // verb context, not a bare `require` from deep in the build
    assert(bad("KNN ON emb KEY vid METHOD LSH BITS 40")
      .contains("BITS 40 must be <= 30"))
    assert(bad("KNN ON emb KEY vid METHOD LSH TABLES 2048")
      .contains("TABLES 2048 must be <= 1024"))
    assert(bad("KNN ON vid KEY vid").contains("must be a numeric array"))
    assert(bad("KNN emb").contains("cannot parse KNN"))

    // STORED serving: build the persisted IVF artifact over the SAME
    // 4-vector corpus (Similarity.ivfStoreFrom — the q136/q139 code),
    // then answer through the verb from the files alone. Top-1 answers
    // must equal the in-plan methods' (the pairs are in separate cells,
    // PROBE 2 covers both).
    val e = Seq(
      (1L, Array(1.0, 0.0)), (2L, Array(0.9, 0.1)),
      (3L, Array(0.0, 1.0)), (4L, Array(0.1, 0.9)))
      .toDF("vec_id", "v")
      .withColumn("nrm", graft.functions.Vectors.l2norm($"v"))
    val base = graft.queries.Similarity.ivfStoreFrom(e, 2)
    assert(run(s"KNN ON emb KEY vid TOP 1 METHOD IVF PROBE 2 STORED '$base'")
      == want)
    assert(run(s"KNN ON emb KEY vid TOP 1 METHOD IVF PROBE 2 " +
      s"STORED '$base' QUERIES vid <= 2") == Seq((1L, 2L), (2L, 1L)))
    // STORED option pairing: EXACT has nothing stored to serve from;
    // METHOD LSH now serves the COSINE family, so pointing it at an
    // IVF artifact is a kind mismatch, not a parse error; CELLS fixed
    // by the artifact; one-source only
    assert(bad(s"KNN ON emb KEY vid METHOD EXACT STORED '$base'")
      .contains("METHOD EXACT scans the source"))
    assert(bad(s"KNN ON emb KEY vid METHOD LSH STORED '$base'")
      .contains("not interchangeable"))
    assert(bad(s"KNN ON emb KEY vid METHOD IVF CELLS 2 STORED '$base'")
      .contains("CELLS does not apply with STORED"))
    val tw = intercept[Exception](Aql.run(spark,
      s"""CONNECTION 'V' (DRIVER = 'file', FILE = '$pq', FORMAT = 'parquet')
         |CONNECTION 'Q' (DRIVER = 'file', FILE = '$qpq', FORMAT = 'parquet')
         |TRANSFORM 'K' FROM CONNECTION Q, CONNECTION V (
         |  KNN Q WITH V ON emb KEY vid METHOD IVF STORED '$base'
         |) INTO CONSOLE""".stripMargin))
    assert(tw.getMessage.contains("replaces the corpus side"),
      tw.getMessage)
  }

  test("SAMPLE verb: deterministic hash sample, stable across runs") {
    // beyond-parity verb: the q69 curation primitive as a language operator.
    // Membership is a pure function of the key, so two runs agree exactly.
    def run(): Seq[Long] = Aql.run(spark,
      s"""DATA 'D' (
         |  [${(1 to 100).map(i => s"[$i]").mkString(", ")}]
         |) WITH (COLUMNS = 'Id')
         |
         |TRANSFORM 'Half' FROM BLOCK D (
         |  SAMPLE 50 PERCENT BY Id
         |) INTO CONSOLE""".stripMargin)
      .outputs("HALF").collect().map(_.getLong(0)).sorted.toSeq
    val first = run()
    // close to the rate but exact-deterministic (md5 buckets of 1..100)
    assert(first.size > 30 && first.size < 70, s"got ${first.size}/100")
    assert(run() == first)
    // the verb composes with FILTER-style pushdown: a subset of the input
    assert(first.forall(i => i >= 1 && i <= 100))
    // malformed rate fails at compile
    val e = intercept[Exception](Aql.run(spark,
      """DATA 'D' ([[1]]) WITH (COLUMNS = 'Id')
        |TRANSFORM 'S' FROM BLOCK D (SAMPLE 200 PERCENT BY Id) INTO CONSOLE
        |""".stripMargin))
    assert(e.getMessage.contains("out of range"))
  }

  test("FILTER verb: SQL predicate over the stream") {
    // the reference filters only via delegated SQL or plugins (test_filter.py
    // drops non-positives); FILTER is the native equivalent
    val r = Aql.run(spark,
      """DATA 'D' (
        |  [[1], [-2], [3], [0]]
        |) WITH (COLUMNS = 'Value')
        |
        |TRANSFORM 'Pos' FROM BLOCK D (
        |  FILTER Value > 0
        |) INTO CONSOLE""".stripMargin)
    assert(r.outputs("POS").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 3L))
  }

  test("QUOTA verb: at most n rows per key, lowest order-column first") {
    // beyond-parity verb: q77's per-domain cap at the language level —
    // salted two-phase top-N under the hood, single-window semantics.
    val rows = (1 to 30).map(i => s"[${'"'}g${i % 3}${'"'}, $i]")
    val r = Aql.run(spark,
      s"""DATA 'D' (
         |  [${rows.mkString(", ")}]
         |) WITH (COLUMNS = 'Grp,Id', FORMAT = 'JSON_ARRAY')
         |
         |TRANSFORM 'Capped' FROM BLOCK D (
         |  QUOTA 2 BY Grp ORDER BY Id
         |) INTO CONSOLE""".stripMargin)
    val got = r.outputs("CAPPED").collect()
      .map(x => (x.getString(0), x.getLong(1))).toSet
    // lowest two ids per group survive: g1->{1,4} g2->{2,5} g0->{3,6}
    assert(got == Set(("g1", 1L), ("g2", 2L), ("g0", 3L),
      ("g1", 4L), ("g2", 5L), ("g0", 6L)), s"got $got")
    // malformed cap fails at compile
    val e = intercept[Exception](Aql.run(spark,
      """DATA 'D' ([[1]]) WITH (COLUMNS = 'Id')
        |TRANSFORM 'Q' FROM BLOCK D (QUOTA 0 BY Id ORDER BY Id) INTO CONSOLE
        |""".stripMargin))
    assert(e.getMessage.contains("QUOTA"))
  }

  test("QUOTA verb: duplicate order values keep a deterministic set") {
    // every row of the hot key shares ONE order value — the kept pair is
    // decided by the whole-row-hash tiebreak, so different shuffle
    // partitionings must keep the identical pair (and the salt still
    // spreads tied rows across lanes instead of collapsing to one)
    val rows = (1 to 20).map(i => s"""["g", 7, $i]""")
    def once(): Set[Long] = Aql.run(spark,
      s"""DATA 'D' (
         |  [${rows.mkString(", ")}]
         |) WITH (COLUMNS = 'Grp,Ord,Id', FORMAT = 'JSON_ARRAY')
         |
         |TRANSFORM 'Capped' FROM BLOCK D (
         |  QUOTA 2 BY Grp ORDER BY Ord
         |) INTO CONSOLE""".stripMargin)
      .outputs("CAPPED").collect().map(_.getLong(2)).toSet
    val a = once()
    val saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    val b = try once()
    finally spark.conf.set("spark.sql.shuffle.partitions", saved)
    assert(a.size == 2 && a == b, s"nondeterministic under ties: $a vs $b")
  }

  test("SHARD verb: seeded deterministic shard ids; options validate") {
    // beyond-parity verb (q130 as a language operator): the shard id is a
    // pure function of (seed, key) — same seed ⇒ identical assignment on
    // replay, different seed ⇒ a re-shuffle.
    def shards(verb: String): Map[Long, Int] = Aql.run(spark,
      s"""DATA 'D' ([[1, 10], [2, 20], [3, 30], [4, 40]])
         |  WITH (COLUMNS = 'Id, Sz')
         |TRANSFORM 'S' FROM BLOCK D ($verb) INTO CONSOLE
         |""".stripMargin).outputs("S").collect()
      .map(r => r.getLong(0) -> r.getAs[Int]("shard")).toMap
    val a = shards("SHARD ON Id INTO 4 SEED 7")
    assert(a == shards("SHARD ON Id INTO 4 SEED 7"), "replay must be identical")
    assert(a.values.forall(s => s >= 0 && s < 4))
    val b = shards("SHARD ON Id INTO 4 SEED 8")
    assert(a != b, "re-seeding must re-shuffle")
    assert(shards("SHARD ON Id INTO 4") ==
      shards("SHARD ON Id INTO 4 SEED 42"), "default seed is 42")

    // INTO < 1 rejected; non-integral key rejected; existing column name
    val z = intercept[Exception](Aql.run(spark,
      """DATA 'D' ([[1, 1]]) WITH (COLUMNS = 'Id, Sz')
        |TRANSFORM 'S' FROM BLOCK D (SHARD ON Id INTO 0) INTO CONSOLE
        |""".stripMargin))
    assert(z.getMessage.contains("must be >= 1"), z.getMessage)
    val k = intercept[Exception](Aql.run(spark,
      """DATA 'D' ([["a", 1]]) WITH (COLUMNS = 'Id, Sz')
        |TRANSFORM 'S' FROM BLOCK D (SHARD ON Id INTO 4) INTO CONSOLE
        |""".stripMargin))
    assert(k.getMessage.contains("must be integral"), k.getMessage)
    val c = intercept[Exception](Aql.run(spark,
      """DATA 'D' ([[1, 2]]) WITH (COLUMNS = 'Id, Shard')
        |TRANSFORM 'S' FROM BLOCK D (SHARD ON Id INTO 4) INTO CONSOLE
        |""".stripMargin))
    assert(c.getMessage.contains("already exists"), c.getMessage)
  }

  test("PACK verb: serpentine deal balances writers; options validate") {
    // beyond-parity verb (q131 as a language operator). With one salt
    // group the deal is fully deterministic: ranks by (Sz DESC, Id) are
    // 8,7,6,5,4,3,2,1 → writers 0,1,1,0 per serpentine block of 2.
    val r = Aql.run(spark,
      """DATA 'D' ([[1, 80], [2, 70], [3, 60], [4, 50]])
        |  WITH (COLUMNS = 'Id, Sz')
        |TRANSFORM 'P' FROM BLOCK D (
        |  PACK BY Sz KEY Id INTO 2 GROUPS 1
        |) INTO CONSOLE""".stripMargin).outputs("P").collect()
      .map(x => x.getLong(0) -> x.getAs[Int]("writer")).toMap
    assert(r == Map(1L -> 0, 2L -> 1, 3L -> 1, 4L -> 0), r.toString)
    // per-writer totals: {80+50, 70+60} = {130, 130} — balanced exactly
    // on this geometric-ish spread, the property q131's gate measures

    // non-numeric size column rejected; unknown column; bad INTO
    val n = intercept[Exception](Aql.run(spark,
      """DATA 'D' ([[1, "x"]]) WITH (COLUMNS = 'Id, Sz')
        |TRANSFORM 'P' FROM BLOCK D (PACK BY Sz KEY Id INTO 2) INTO CONSOLE
        |""".stripMargin))
    assert(n.getMessage.contains("must be numeric"), n.getMessage)
    val u = intercept[Exception](Aql.run(spark,
      """DATA 'D' ([[1, 2]]) WITH (COLUMNS = 'Id, Sz')
        |TRANSFORM 'P' FROM BLOCK D (PACK BY Nope KEY Id INTO 2) INTO CONSOLE
        |""".stripMargin))
    assert(u.getMessage.contains("unknown column"), u.getMessage)
    val g = intercept[Exception](Aql.run(spark,
      """DATA 'D' ([[1, 2]]) WITH (COLUMNS = 'Id, Sz')
        |TRANSFORM 'P' FROM BLOCK D (
        |  PACK BY Sz KEY Id INTO 2 GROUPS 0
        |) INTO CONSOLE""".stripMargin))
    assert(g.getMessage.contains("must be >= 1"), g.getMessage)
    // a source column named like an internal working column would be
    // silently REPLACED by withColumn and then dropped — reject instead
    val w = intercept[Exception](Aql.run(spark,
      """DATA 'D' ([[1, 2, 3]]) WITH (COLUMNS = 'Id, Sz, __g')
        |TRANSFORM 'P' FROM BLOCK D (PACK BY Sz KEY Id INTO 2) INTO CONSOLE
        |""".stripMargin))
    assert(w.getMessage.contains("internal working"), w.getMessage)
  }

  test("CHUNK verb: windowing, overlap, tail, zero-token drop; validate") {
    // beyond-parity verb (q67 as a language operator) — the verb
    // family's one row generator. Hand-computed chunks on a 5-token doc.
    def chunks(verb: String): Seq[(Long, Long, Int, String)] = Aql.run(spark,
      s"""DATA 'D' (
         |  [[1, "a b c d e"], [2, "x"], [3, ""]]
         |) WITH (COLUMNS = 'Id, Txt', FORMAT = 'JSON_ARRAY')
         |TRANSFORM 'C' FROM BLOCK D ($verb) INTO CONSOLE
         |""".stripMargin).outputs("C").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getString(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    // tiling (STRIDE = SIZE): ceil(5/2)=3 chunks incl. the short tail;
    // the empty doc 3 yields no rows
    assert(chunks("CHUNK ON Txt KEY Id SIZE 2 STRIDE 2") == Seq(
      (1L, 0L, 2, "a b"), (1L, 1L, 2, "c d"), (1L, 2L, 1, "e"),
      (2L, 0L, 1, "x")))
    // overlap (STRIDE < SIZE): windows start every 2 tokens, 3 wide
    assert(chunks("CHUNK ON Txt KEY Id SIZE 3 STRIDE 2") == Seq(
      (1L, 0L, 3, "a b c"), (1L, 1L, 3, "c d e"), (1L, 2L, 1, "e"),
      (2L, 0L, 1, "x")))
    // defaults: SIZE 64, STRIDE = SIZE → one whole-doc chunk here
    assert(chunks("CHUNK ON Txt KEY Id") == Seq(
      (1L, 0L, 5, "a b c d e"), (2L, 0L, 1, "x")))

    def bad(verb: String): String = intercept[Exception](Aql.run(spark,
      s"""DATA 'D' ([[1, "a"]]) WITH (COLUMNS = 'Id, Txt')
         |TRANSFORM 'C' FROM BLOCK D ($verb) INTO CONSOLE
         |""".stripMargin)).getMessage
    assert(bad("CHUNK ON Txt KEY Id SIZE 2 STRIDE 3")
      .contains("must be <= SIZE"))
    assert(bad("CHUNK ON Txt KEY Id SIZE 0").contains("must be >= 1"))
    assert(bad("CHUNK ON Nope KEY Id").contains("unknown column"))
    assert(bad("CHUNK ON Id KEY Txt").contains("must be string"))
    val c = intercept[Exception](Aql.run(spark,
      """DATA 'D' ([["a", "b"]]) WITH (COLUMNS = 'chunk_text, Txt')
        |TRANSFORM 'C' FROM BLOCK D (CHUNK ON Txt KEY chunk_text) INTO CONSOLE
        |""".stripMargin))
    assert(c.getMessage.contains("collides"), c.getMessage)
    // KEY capturing the internal working column would be ambiguous
    // downstream — rejected up front (other source columns are fine:
    // the first select projects them away)
    val ww = intercept[Exception](Aql.run(spark,
      """DATA 'D' ([[1, "b"]]) WITH (COLUMNS = '__ws, Txt')
        |TRANSFORM 'C' FROM BLOCK D (CHUNK ON Txt KEY __ws) INTO CONSOLE
        |""".stripMargin))
    assert(ww.getMessage.contains("internal working"), ww.getMessage)
  }

  test("SPLIT verb: deterministic slice assignment; options validate") {
    // beyond-parity verb (q66 as a language operator): split is a pure
    // function of (seed, key); the last slice absorbs the remainder so
    // every row is assigned; re-seeding re-deals.
    def splits(verb: String): Map[Long, String] = Aql.run(spark,
      s"""DATA 'D' ([[1, 10], [2, 20], [3, 30], [4, 40], [5, 50],
         |  [6, 60], [7, 70], [8, 80]]) WITH (COLUMNS = 'Id, Sz')
         |TRANSFORM 'S' FROM BLOCK D ($verb) INTO CONSOLE
         |""".stripMargin).outputs("S").collect()
      .map(r => r.getLong(0) -> r.getAs[String]("split")).toMap
    val a = splits("SPLIT ON Id INTO train=0.5, val=0.25, test=0.25")
    assert(a == splits("SPLIT ON Id INTO train=0.5, val=0.25, test=0.25"),
      "replay must be identical")
    assert(a.values.forall(Set("train", "val", "test")), a.toString)
    assert(a.size == 8, "every row must be assigned")
    val b = splits("SPLIT ON Id INTO train=0.5, val=0.25, test=0.25 SEED 7")
    assert(a != b, "re-seeding must re-deal")
    // driver-side replay of the unseeded md5-ppm algebra: bucket =
    // 60-bit md5 prefix % 1e6, cuts at 500000 / 750000
    val md = java.security.MessageDigest.getInstance("MD5")
    def bucket(id: Long): Long = {
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 15)
      java.lang.Long.parseLong(hex, 16) % 1000000L
    }
    for ((id, got) <- a) {
      val want = if (bucket(id) < 500000L) "train"
        else if (bucket(id) < 750000L) "val" else "test"
      assert(got == want, s"id $id: bucket ${bucket(id)} → $got, want $want")
    }

    def bad(verb: String): String = intercept[Exception](Aql.run(spark,
      s"""DATA 'D' ([[1, 1]]) WITH (COLUMNS = 'Id, Sz')
         |TRANSFORM 'S' FROM BLOCK D ($verb) INTO CONSOLE
         |""".stripMargin)).getMessage
    assert(bad("SPLIT ON Id INTO train=0.5, val=0.4")
      .contains("must sum to 1"))
    assert(bad("SPLIT ON Id INTO train=0.5, train=0.5")
      .contains("must be distinct"))
    assert(bad("SPLIT ON Id INTO train=0, test=1.0")
      .contains("out of range"))
    assert(bad("SPLIT ON Sz INTO a=1.0, 5")
      .contains("cannot parse SPLIT slice"))
    val ki = intercept[Exception](Aql.run(spark,
      """DATA 'D' ([["a", 1]]) WITH (COLUMNS = 'Id, Sz')
        |TRANSFORM 'S' FROM BLOCK D (SPLIT ON Id INTO a=1.0) INTO CONSOLE
        |""".stripMargin))
    assert(ki.getMessage.contains("must be integral"), ki.getMessage)
    val cc = intercept[Exception](Aql.run(spark,
      """DATA 'D' ([[1, "x"]]) WITH (COLUMNS = 'Id, Split')
        |TRANSFORM 'S' FROM BLOCK D (SPLIT ON Id INTO a=1.0) INTO CONSOLE
        |""".stripMargin))
    assert(cc.getMessage.contains("already exists"), cc.getMessage)
  }

  test("MIX verb: temperature-scaled source keep rates; options validate") {
    // beyond-parity verb (q100 as a language operator). Two sources with
    // weights 90 and 10 at T=0.5: rate = (w_min/w)^0.5 → the SMALL
    // source keeps 100 % (ppm 1 000 000) and big keeps sqrt(10/90) = 1/3
    // (ppm 333 333) — kept mass 10 vs 30, the 9× gap flattened to 3×.
    def kept(verb: String): Set[Long] = Aql.run(spark,
      s"""DATA 'D' ([[1, "big", 30], [2, "big", 30], [3, "big", 30],
         |  [4, "small", 1], [5, "small", 1], [6, "small", 1],
         |  [7, "small", 1], [8, "small", 1], [9, "small", 1],
         |  [10, "small", 1], [11, "small", 1], [12, "small", 1],
         |  [13, "small", 1]]) WITH (COLUMNS = 'Id, Src, W')
         |TRANSFORM 'M' FROM BLOCK D ($verb) INTO CONSOLE
         |""".stripMargin).outputs("M").collect()
      .map(_.getLong(0)).toSet
    val a = kept("MIX BY Src WEIGHT W KEY Id TEMPERATURE 0.5")
    assert(a == kept("MIX BY Src WEIGHT W KEY Id TEMPERATURE 0.5"),
      "replay must be identical")
    assert((4L to 13L).toSet.subsetOf(a), s"smallest source keeps all: $a")
    // big source: weight 90 vs min 10 → keep_ppm = floor(1e6/3) = 333333;
    // replay the md5 bucket per id
    val md = java.security.MessageDigest.getInstance("MD5")
    def bucket(id: Long): Long = {
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 15)
      java.lang.Long.parseLong(hex, 16) % 1000000L
    }
    val wantBig = (1L to 3L).filter(bucket(_) < 333333L).toSet
    assert(a == (4L to 13L).toSet ++ wantBig, s"$a vs big=${wantBig}")
    // T = 1 is the identity mix: every rate is (w_min/w)^0 = 1
    assert(kept("MIX BY Src WEIGHT W KEY Id TEMPERATURE 1.0") ==
      (1L to 13L).toSet)
    // unweighted: rates from row counts (big=3 rows vs small=10 rows →
    // BIG is now the smallest source and keeps all; small keeps
    // (3/10)^0.5 = ppm 547722)
    val u = kept("MIX BY Src KEY Id TEMPERATURE 0.5")
    assert(Set(1L, 2L, 3L).subsetOf(u),
      s"count-weighted: big IS the smallest source, keeps all: $u")
    assert(u == Set(1L, 2L, 3L) ++
      (4L to 13L).filter(bucket(_) < 547722L).toSet, u.toString)

    def bad(verb: String): String = intercept[Exception](Aql.run(spark,
      s"""DATA 'D' ([[1, "s", 1]]) WITH (COLUMNS = 'Id, Src, W')
         |TRANSFORM 'M' FROM BLOCK D ($verb) INTO CONSOLE
         |""".stripMargin)).getMessage
    assert(bad("MIX BY Src WEIGHT W KEY Id TEMPERATURE 0")
      .contains("out of range"))
    assert(bad("MIX BY Src WEIGHT W KEY Id TEMPERATURE 1.5")
      .contains("out of range"))
    assert(bad("MIX BY Src WEIGHT Src KEY Id TEMPERATURE 0.5")
      .contains("must be numeric"))
    assert(bad("MIX BY Nope KEY Id TEMPERATURE 0.5")
      .contains("unknown column"))
    val ki = intercept[Exception](Aql.run(spark,
      """DATA 'D' ([["a", "s", 1]]) WITH (COLUMNS = 'Id, Src, W')
        |TRANSFORM 'M' FROM BLOCK D (MIX BY Src KEY Id TEMPERATURE 0.5)
        |  INTO CONSOLE
        |""".stripMargin))
    assert(ki.getMessage.contains("must be integral"), ki.getMessage)
  }
}
