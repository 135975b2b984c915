package graft.queries

import graft.{QueryDef, Tables}
import graft.engine.Aql
import org.apache.spark.sql.functions.col

/** Operator-coverage entry driving the full AQL engine end-to-end: script
  * text → lexer → parser → transform compile → Spark execution, with the
  * result hash-checked against the DuckDB oracle like any other query.
  * This pins the whole language stack (not just individual operators) to
  * reference semantics at every verification round.
  */
object AqlQ {

  /** ONE oracle text for the COSINE-AGAINST-at-0.45 family — the
    * two-source verb gate (q142, in-plan corpus buckets) and the
    * stored-artifact gate (q153, probe of the persisted sign-LSH bucket
    * index) both answer it, so the two candidate paths can never
    * desynchronize from each other or from the brute-force batch×corpus
    * cosine truth (the Dedup.againstKeptOracleSql pattern applied to
    * vectors). Batch = even vec_ids, corpus = odd.
    */
  private[queries] val cosineAgainstKeptOracleSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |n AS (SELECT vec_id, v,
      |  sqrt(list_reduce(list_prepend(0.0, [x*x for x in v]), (a,b) -> a+b)) AS nrm
      |  FROM e),
      |b AS (SELECT * FROM n WHERE vec_id % 2 = 0),
      |c AS (SELECT * FROM n WHERE vec_id % 2 = 1),
      |m AS (
      |  SELECT DISTINCT b.vec_id
      |  FROM b JOIN c ON round(list_reduce(list_prepend(0.0,
      |      [b.v[i] * c.v[i] for i in range(1, len(b.v)+1)]), (x,y) -> x+y)
      |    / (b.nrm * c.nrm), 6) >= 0.45)
      |SELECT vec_id FROM embeddings
      |WHERE vec_id % 2 = 0 AND vec_id NOT IN (SELECT vec_id FROM m)"""
      .stripMargin

  /** ONE oracle text for the TYPO-AGAINST family (q154): brute-force
    * levenshtein ≤ 1 of every even-custkey name (keys < 300, the q143
    * slice) against the odd keys BELOW 100 — the corpus cut keeps both
    * verdict classes provably nonempty at every SF: zero-padded names
    * are fixed-length, so only single-digit SUBSTITUTIONS can reach
    * edit distance 1, and parity lives in the last digit — an even key
    * < 100 always matches (flip its last digit to an odd neighbor in
    * the corpus range) while an even key ≥ 100 never does (last-digit
    * flips stay ≥ 100, other flips keep the name even). Kept = batch
    * rows matching nothing; no clustering or canonical pick — the
    * AGAINST semantics are membership only.
    */
  private[queries] val typoAgainstKeptOracleSql: String =
    """WITH c AS (
      |  SELECT c_custkey AS id, c_name AS nm
      |  FROM customer WHERE c_custkey < 300),
      |b AS (SELECT * FROM c WHERE id % 2 = 0),
      |k AS (SELECT * FROM c WHERE id % 2 = 1 AND id < 100),
      |m AS (
      |  SELECT DISTINCT b.id
      |  FROM b JOIN k ON levenshtein(b.nm, k.nm) <= 1)
      |SELECT id AS c_custkey FROM b
      |WHERE id NOT IN (SELECT id FROM m)""".stripMargin

  val entries: Seq[QueryDef] = Seq(

    QueryDef(
      "q43_aql_engine_e2e",
      """SELECT l_returnflag,
        |  CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty,
        |  CAST(COUNT(l_quantity) AS DOUBLE) AS n_rows,
        |  CAST(MIN(l_quantity) AS DOUBLE) AS min_qty,
        |  CAST(MAX(l_quantity) AS DOUBLE) AS max_qty,
        |  CAST(AVG(l_quantity) AS DOUBLE) AS avg_qty
        |FROM lineitem GROUP BY l_returnflag""".stripMargin) { (s, dir) =>
      // l_quantity is integral-valued, so double sums are exact and
      // order-independent — safe for the cross-engine hash compare.
      val script =
        s"""CONNECTION 'LineItems' (
           |  DRIVER = 'file', FILE = '$dir/lineitem.parquet',
           |  FORMAT = 'parquet'
           |)
           |
           |TRANSFORM 'Sums' FROM CONNECTION LineItems (
           |  AGGREGATE l_returnflag,
           |    SUM(l_quantity) AS sum_qty,
           |    COUNT(l_quantity) AS n_rows,
           |    MIN(l_quantity) AS min_qty,
           |    MAX(l_quantity) AS max_qty,
           |    AVG(l_quantity) AS avg_qty
           |  GROUP BY l_returnflag
           |) INTO CONSOLE WITH (OUTPUT_FORMAT = 'JSON')""".stripMargin
      Aql.run(s, script).outputs("SUMS")
    },

    QueryDef(
      "q45_aql_lookup_e2e",
      """SELECT o_orderkey, o_totalprice, c_mktsegment
        |FROM orders JOIN customer ON o_custkey = c_custkey""".stripMargin) {
      (s, dir) =>
      // LOOKUP INNER JOIN through the language stack (reference
      // transforms/lookup.go:109-263): broadcast hash join underneath;
      // customer is unique on c_custkey, so the reference's last-row-wins
      // build-side dedup is a no-op here and SQL join parity is exact.
      // Sink is a parquet file connection — a distributed write, where
      // INTO CONSOLE would collect the full join to the driver.
      val outDir = java.nio.file.Files.createTempDirectory("graft_q45")
      Advanced.registerTmpDir(outDir)
      val out = outDir.resolve("joined").toString
      val script =
        s"""CONNECTION 'Orders' (
           |  DRIVER = 'file', FILE = '$dir/orders.parquet',
           |  FORMAT = 'parquet'
           |)
           |CONNECTION 'Customers' (
           |  DRIVER = 'file', FILE = '$dir/customer.parquet',
           |  FORMAT = 'parquet'
           |)
           |CONNECTION 'Out' (
           |  DRIVER = 'file', FILE = '$out', FORMAT = 'parquet'
           |)
           |
           |TRANSFORM 'Joined' FROM CONNECTION Orders, CONNECTION Customers (
           |  LOOKUP Orders.o_orderkey, Orders.o_totalprice,
           |    Customers.c_mktsegment
           |  FROM Orders INNER JOIN Customers
           |    ON Orders.o_custkey = Customers.c_custkey
           |) INTO CONNECTION Out""".stripMargin
      Aql.run(s, script).outputs("JOINED")
    },

    // FILTER → DEDUP → AGGREGATE chained through the language layer over
    // the documents corpus: the minimal training-data pipeline (quality
    // filter, exact dedup to one representative per (lang, source) group,
    // per-language stats) as one AQL script. Each verb is one narrow
    // Spark stage: pushed filter scan → single window shuffle → partial+
    // final agg.
    QueryDef(
      "q51_aql_pipeline_e2e",
      """SELECT lang,
        |  CAST(COUNT(n_chars) AS DOUBLE) AS n_reps,
        |  CAST(SUM(n_chars) AS DOUBLE) AS total_chars
        |FROM (
        |  SELECT * FROM (
        |    SELECT lang, n_chars,
        |      ROW_NUMBER() OVER (PARTITION BY lang, source ORDER BY doc_id) AS rn
        |    FROM documents WHERE n_chars >= 100) WHERE rn = 1)
        |GROUP BY lang""".stripMargin) { (s, dir) =>
      val script =
        s"""CONNECTION 'Docs' (
           |  DRIVER = 'file', FILE = '$dir/documents.parquet',
           |  FORMAT = 'parquet'
           |)
           |
           |TRANSFORM 'Quality' FROM CONNECTION Docs (
           |  FILTER n_chars >= 100
           |)
           |
           |TRANSFORM 'Reps' FROM BLOCK Quality (
           |  DEDUP ON lang, source KEEP FIRST BY doc_id
           |)
           |
           |TRANSFORM 'Stats' FROM BLOCK Reps (
           |  AGGREGATE lang,
           |    COUNT(n_chars) AS n_reps,
           |    SUM(n_chars) AS total_chars
           |  GROUP BY lang
           |) INTO CONSOLE WITH (OUTPUT_FORMAT = 'JSON')""".stripMargin
      Aql.run(s, script).outputs("STATS")
    },

    // Excel connector e2e (reference engine/excel_source.go / excel_dest.go
    // — the reference's headline non-SQL source/sink): stage the nation
    // table out through an XLSX destination, read it back through an Excel
    // source in the same script (AFTER gives the happens-before), and
    // hash-match the direct-parquet oracle. Keys come back as longs via
    // the reference's int-first cell probe, hence the BIGINT casts in the
    // oracle.
    QueryDef(
      "q60_aql_excel_e2e",
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        |  CAST(n_regionkey AS BIGINT) AS n_regionkey
        |FROM nation""".stripMargin) { (s, dir) =>
      val xlsxDir = java.nio.file.Files.createTempDirectory("graft_q60")
      Advanced.registerTmpDir(xlsxDir)
      val xlsx = xlsxDir.resolve("nation.xlsx").toString
      val script =
        s"""CONNECTION 'NationPq' (
           |  DRIVER = 'file', FILE = '$dir/nation.parquet',
           |  FORMAT = 'parquet'
           |)
           |CONNECTION 'Workbook' (
           |  DRIVER = 'excel', FILE = '$xlsx', SHEET = 'Nations',
           |  RANGE = 'A1:C*',
           |  COLUMNS = 'n_nationkey, n_name, n_regionkey'
           |)
           |
           |TRANSFORM 'Stage' FROM CONNECTION NationPq (
           |  APPLY n_nationkey, n_name, n_regionkey
           |) INTO CONNECTION Workbook
           |
           |TRANSFORM 'FromXlsx' FROM CONNECTION Workbook (
           |  APPLY n_nationkey, n_name, n_regionkey
           |) INTO CONSOLE
           |  WITH (OUTPUT_FORMAT = 'JSON')
           |  AFTER Stage""".stripMargin
      Aql.run(s, script).outputs("FROMXLSX")
    },

    // CDC merge-upsert through the language layer: the MERGE verb
    // (transforms/TransformParser.scala MergeVerb) applied to q86's exact
    // scenario — base = orders, changes = update/tombstone/insert rows
    // derived deterministically in the script's QUERY blocks — so the
    // oracle is q86's SQL verbatim. Underneath: one union + one
    // partial-aggregatable max(struct) reduce, a single key shuffle.
    QueryDef(
      "q105_aql_merge_verb",
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_custkey, o_orderstatus,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS price, 0 AS ver, 'B' AS op
        |  FROM orders),
        |u AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 2 AS DECIMAL(18,2)),
        |    1, 'U'
        |  FROM orders WHERE o_orderkey % 5 = 0),
        |d AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |    CAST(o_totalprice AS DECIMAL(18,2)), 2, 'D'
        |  FROM orders WHERE o_orderkey % 7 = 3),
        |i AS (
        |  SELECT o_orderkey + 100000000, o_custkey, o_orderstatus,
        |    CAST(o_totalprice AS DECIMAL(18,2)), 1, 'I'
        |  FROM orders WHERE o_orderkey % 13 = 1),
        |allr AS (
        |  SELECT * FROM base UNION ALL SELECT * FROM u
        |  UNION ALL SELECT * FROM d UNION ALL SELECT * FROM i),
        |latest AS (
        |  SELECT * FROM allr
        |  QUALIFY row_number() OVER (PARTITION BY k ORDER BY ver DESC) = 1)
        |SELECT k AS o_orderkey, o_custkey, o_orderstatus,
        |  CAST(price AS DOUBLE) AS price
        |FROM latest WHERE op <> 'D'""".stripMargin) { (s, dir) =>
      val outDir = java.nio.file.Files.createTempDirectory("graft_q105")
      Advanced.registerTmpDir(outDir)
      val out = outDir.resolve("merged").toString
      val script =
        s"""CONNECTION 'Orders' (
           |  DRIVER = 'file', FILE = '$dir/orders.parquet',
           |  FORMAT = 'parquet'
           |)
           |CONNECTION 'Out' (
           |  DRIVER = 'file', FILE = '$out', FORMAT = 'parquet'
           |)
           |
           |QUERY 'Base' FROM CONNECTION Orders (
           |  SELECT o_orderkey AS k, o_custkey, o_orderstatus,
           |    CAST(o_totalprice AS DECIMAL(18,2)) AS price,
           |    0 AS ver, 'B' AS op
           |  FROM Orders
           |)
           |
           |QUERY 'Changes' FROM CONNECTION Orders (
           |  SELECT o_orderkey AS k, o_custkey, o_orderstatus,
           |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 2 AS DECIMAL(18,2)) AS price,
           |    1 AS ver, 'U' AS op
           |  FROM Orders WHERE o_orderkey % 5 = 0
           |  UNION ALL
           |  SELECT o_orderkey, o_custkey, o_orderstatus,
           |    CAST(o_totalprice AS DECIMAL(18,2)), 2, 'D'
           |  FROM Orders WHERE o_orderkey % 7 = 3
           |  UNION ALL
           |  SELECT o_orderkey + 100000000, o_custkey, o_orderstatus,
           |    CAST(o_totalprice AS DECIMAL(18,2)), 1, 'I'
           |  FROM Orders WHERE o_orderkey % 13 = 1
           |)
           |
           |TRANSFORM 'Merged' FROM BLOCK Base, BLOCK Changes (
           |  MERGE Base WITH Changes ON k VERSION BY ver DELETE WHEN op = 'D'
           |)
           |
           |QUERY 'Final' FROM BLOCK Merged (
           |  SELECT k AS o_orderkey, o_custkey, o_orderstatus,
           |    CAST(price AS DOUBLE) AS price
           |  FROM Merged
           |) INTO CONNECTION Out""".stripMargin
      Aql.run(s, script).outputs("FINAL")
    },

    // Near-duplicate removal through the language layer: the NEARDEDUP
    // verb (transforms/TransformParser.scala NearDedupVerb — inverted-
    // index Jaccard pairs → connected components → longest-text survivor
    // per cluster, all in transforms/NearDup.scala) applied to the
    // documents corpus, pinned to METHOD EXACT (the verb's DEFAULT is
    // the banded LSH path since round 7b — q124 gates that — so this
    // gate keeps the exact inverted-index path oracle-checked). The
    // oracle recomputes the whole pipeline in DuckDB: shingle sets,
    // exact pair join, recursive-CTE reachability, window-ranked
    // canonical pick — so the gate pins candidate generation,
    // clustering, AND survivor choice cross-engine.
    QueryDef(
      "q120_aql_neardedup_verb",
      """WITH w AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ws
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
        |                   for i in range(1, len(ws) - 1)]) AS sh
        |  FROM w WHERE len(ws) >= 3),
        |p AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM s a JOIN s b ON a.doc_id < b.doc_id
        |  WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) >= 0.5),
        |edges AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM p
        |  UNION ALL SELECT doc_b, doc_a FROM p),
        |reach AS (
        |  WITH RECURSIVE r(id, label) AS (
        |    SELECT src, src FROM edges
        |    UNION
        |    SELECT e.dst, r.label FROM r JOIN edges e ON e.src = r.id)
        |  SELECT * FROM r),
        |cl AS (SELECT id AS doc_id, MIN(label) AS cluster_id
        |  FROM reach GROUP BY id),
        |m AS (SELECT cl.doc_id, cl.cluster_id, length(d.text) AS len
        |  FROM cl JOIN documents d USING (doc_id)),
        |win AS (
        |  SELECT doc_id FROM m
        |  QUALIFY row_number() OVER (PARTITION BY cluster_id
        |    ORDER BY len DESC, doc_id) = 1),
        |losers AS (
        |  SELECT doc_id FROM m
        |  WHERE doc_id NOT IN (SELECT doc_id FROM win))
        |SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM losers)""".stripMargin) {
      (s, dir) =>
      val outDir = java.nio.file.Files.createTempDirectory("graft_q120")
      Advanced.registerTmpDir(outDir)
      val out = outDir.resolve("survivors").toString
      val script =
        s"""CONNECTION 'Docs' (
           |  DRIVER = 'file', FILE = '$dir/documents.parquet',
           |  FORMAT = 'parquet'
           |)
           |CONNECTION 'Out' (
           |  DRIVER = 'file', FILE = '$out', FORMAT = 'parquet'
           |)
           |
           |TRANSFORM 'Survivors' FROM CONNECTION Docs (
           |  NEARDEDUP ON text KEY doc_id THRESHOLD 0.5 METHOD EXACT
           |)
           |
           |QUERY 'Final' FROM BLOCK Survivors (
           |  SELECT doc_id, lang, source, n_chars FROM Survivors
           |) INTO CONNECTION Out""".stripMargin
      Aql.run(s, script).outputs("FINAL")
    },

    // q120 with METHOD LSH: the banded-MinHash candidate path
    // (transforms/NearDup.minhashPairs — the generator SCALING.md
    // measures 13–18× faster than the exact postings join under
    // duplication) driven through the language layer. The oracle is
    // q120's recursive-CTE pipeline VERBATIM — i.e. the gate asserts
    // the LSH survivor set hash-matches the exact path's: banding at
    // threshold 0.5 auto-selects 64 bands × 2 rows (NearDup.autoBands),
    // per-pair miss ≤ 1e-8 at the boundary, and every candidate is
    // exact-verified, so the pair graph — and thus clusters, canonical
    // picks, and survivors — is identical.
    QueryDef(
      "q124_aql_neardedup_lsh",
      """WITH w AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ws
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
        |                   for i in range(1, len(ws) - 1)]) AS sh
        |  FROM w WHERE len(ws) >= 3),
        |p AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM s a JOIN s b ON a.doc_id < b.doc_id
        |  WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) >= 0.5),
        |edges AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM p
        |  UNION ALL SELECT doc_b, doc_a FROM p),
        |reach AS (
        |  WITH RECURSIVE r(id, label) AS (
        |    SELECT src, src FROM edges
        |    UNION
        |    SELECT e.dst, r.label FROM r JOIN edges e ON e.src = r.id)
        |  SELECT * FROM r),
        |cl AS (SELECT id AS doc_id, MIN(label) AS cluster_id
        |  FROM reach GROUP BY id),
        |m AS (SELECT cl.doc_id, cl.cluster_id, length(d.text) AS len
        |  FROM cl JOIN documents d USING (doc_id)),
        |win AS (
        |  SELECT doc_id FROM m
        |  QUALIFY row_number() OVER (PARTITION BY cluster_id
        |    ORDER BY len DESC, doc_id) = 1),
        |losers AS (
        |  SELECT doc_id FROM m
        |  WHERE doc_id NOT IN (SELECT doc_id FROM win))
        |SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM losers)""".stripMargin) {
      (s, dir) =>
      val outDir = java.nio.file.Files.createTempDirectory("graft_q124")
      Advanced.registerTmpDir(outDir)
      val out = outDir.resolve("survivors").toString
      val script =
        s"""CONNECTION 'Docs' (
           |  DRIVER = 'file', FILE = '$dir/documents.parquet',
           |  FORMAT = 'parquet'
           |)
           |CONNECTION 'Out' (
           |  DRIVER = 'file', FILE = '$out', FORMAT = 'parquet'
           |)
           |
           |TRANSFORM 'Survivors' FROM CONNECTION Docs (
           |  NEARDEDUP ON text KEY doc_id THRESHOLD 0.5 METHOD LSH
           |)
           |
           |QUERY 'Final' FROM BLOCK Survivors (
           |  SELECT doc_id, lang, source, n_chars FROM Survivors
           |) INTO CONNECTION Out""".stripMargin
      Aql.run(s, script).outputs("FINAL")
    },

    // Incremental dedup through the language layer: the NEARDEDUP
    // AGAINST form (q85's batch-vs-corpus shape as a verb) — drop every
    // batch doc (even ids) near-matching a corpus doc (odd ids) at
    // threshold 0.5. METHOD LSH exercises the banded cross-index path
    // (corpus band index ⋈ batch bands, exact-verified); the oracle is
    // the brute-force batch×corpus Jaccard join, so the gate proves the
    // banded candidates lose nothing at this threshold (auto-banding
    // 64×2: per-pair miss ≤ 1e-8 at the boundary).
    // (oracle text shared with q144, the stored-band-index gate — ONE
    // SQL for the AGAINST-at-0.5 family, the ivfOracleSql pattern)
    QueryDef(
      "q128_aql_neardedup_against",
      Dedup.againstKeptOracleSql) {
      (s, dir) =>
      val outDir = java.nio.file.Files.createTempDirectory("graft_q128")
      Advanced.registerTmpDir(outDir)
      val out = outDir.resolve("kept").toString
      val script =
        s"""CONNECTION 'Docs' (
           |  DRIVER = 'file', FILE = '$dir/documents.parquet',
           |  FORMAT = 'parquet'
           |)
           |CONNECTION 'Out' (
           |  DRIVER = 'file', FILE = '$out', FORMAT = 'parquet'
           |)
           |
           |QUERY 'Batch' FROM CONNECTION Docs (
           |  SELECT * FROM Docs WHERE doc_id % 2 = 0
           |)
           |QUERY 'Corpus' FROM CONNECTION Docs (
           |  SELECT * FROM Docs WHERE doc_id % 2 = 1
           |)
           |
           |TRANSFORM 'Kept' FROM BLOCK Batch, BLOCK Corpus (
           |  NEARDEDUP Batch AGAINST Corpus ON text KEY doc_id
           |    THRESHOLD 0.5 METHOD LSH
           |)
           |
           |QUERY 'Final' FROM BLOCK Kept (
           |  SELECT doc_id, lang, source, n_chars FROM Kept
           |) INTO CONNECTION Out""".stripMargin
      Aql.run(s, script).outputs("FINAL")
    },

    // Similarity search through the language layer: the KNN verb
    // (transforms/TransformParser.scala KnnVerb → transforms/VecKnn) in
    // its METHOD EXACT baseline, on q34's exact scenario — so the oracle
    // is q34's brute-force cosine SQL verbatim, pinning the verb's
    // prep (cast/norm), query-predicate routing, self-exclusion, cosine
    // math (left-fold dot, 1e-6 round), and (cosine DESC, id) ranking
    // cross-engine. The ANN methods (LSH/IVF) share every stage but
    // candidate generation and carry recall floors in PipelineSpec.
    QueryDef(
      "q125_aql_knn_verb",
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT vec_id, v,
        |  sqrt(list_reduce(list_prepend(0.0, [x*x for x in v]), (a,b) -> a+b)) AS nrm
        |  FROM e),
        |s AS (SELECT q.vec_id AS qid, c.vec_id AS neighbor_id,
        |  round(list_reduce(list_prepend(0.0,
        |      [q.v[i] * c.v[i] for i in range(1, len(q.v)+1)]), (a,b) -> a+b)
        |    / (q.nrm * c.nrm), 6) AS cosine
        |  FROM n q JOIN n c ON q.vec_id <> c.vec_id
        |  WHERE q.vec_id < 100)
        |SELECT qid, neighbor_id, cosine, rank FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY qid ORDER BY cosine DESC, neighbor_id) AS rank FROM s)
        |WHERE rank <= 5""".stripMargin) { (s, dir) =>
      val outDir = java.nio.file.Files.createTempDirectory("graft_q125")
      Advanced.registerTmpDir(outDir)
      val out = outDir.resolve("knn").toString
      val script =
        s"""CONNECTION 'Emb' (
           |  DRIVER = 'file', FILE = '$dir/embeddings.parquet',
           |  FORMAT = 'parquet'
           |)
           |CONNECTION 'Out' (
           |  DRIVER = 'file', FILE = '$out', FORMAT = 'parquet'
           |)
           |
           |TRANSFORM 'Knn' FROM CONNECTION Emb (
           |  KNN ON embedding KEY vec_id TOP 5 METHOD EXACT
           |    QUERIES vec_id < 100
           |) INTO CONNECTION Out""".stripMargin
      Aql.run(s, script).outputs("KNN")
    },

    // Deterministic epoch sharding through the language layer: the SHARD
    // verb (q130's operator) appends a seeded-hash shard id; the oracle
    // replays the md5 60-bit arithmetic per doc, so the gate pins the
    // seed threading, key rendering, and mod arithmetic cross-engine.
    QueryDef(
      "q134_aql_shard_verb",
      """SELECT doc_id,
        |  CAST(CAST(('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 15))
        |    AS BIGINT) % 8 AS INTEGER) AS shard
        |FROM documents""".stripMargin) { (s, dir) =>
      val outDir = java.nio.file.Files.createTempDirectory("graft_q134")
      Advanced.registerTmpDir(outDir)
      val out = outDir.resolve("shards").toString
      val script =
        s"""CONNECTION 'Docs' (
           |  DRIVER = 'file', FILE = '$dir/documents.parquet',
           |  FORMAT = 'parquet'
           |)
           |CONNECTION 'Out' (
           |  DRIVER = 'file', FILE = '$out', FORMAT = 'parquet'
           |)
           |
           |TRANSFORM 'Sharded' FROM CONNECTION Docs (
           |  SHARD ON doc_id INTO 8 SEED 42
           |)
           |
           |QUERY 'Final' FROM BLOCK Sharded (
           |  SELECT doc_id, shard FROM Sharded
           |) INTO CONNECTION Out""".stripMargin
      Aql.run(s, script).outputs("FINAL")
    },

    // Balanced writer packing through the language layer: the PACK verb
    // (q131's operator) appends the serpentine writer id; the oracle
    // replays salt, per-group (size DESC, key) rank, and the serpentine
    // deal — so the gate pins the whole assignment, and PipelineSpec's
    // q131 balance property carries over (identical algebra).
    QueryDef(
      "q135_aql_pack_verb",
      """WITH h AS (
        |  SELECT doc_id, n_chars,
        |    CAST(('0x' || substr(md5('pack:' || CAST(doc_id AS VARCHAR)), 1, 15))
        |      AS BIGINT) % 8 AS g
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, n_chars, g,
        |    row_number() OVER (PARTITION BY g ORDER BY n_chars DESC, doc_id)
        |      - 1 AS r0
        |  FROM h)
        |SELECT doc_id,
        |  CAST(CASE WHEN (r0 // 8) % 2 = 0 THEN r0 % 8
        |            ELSE 7 - (r0 % 8) END AS INTEGER) AS writer
        |FROM r""".stripMargin) { (s, dir) =>
      val outDir = java.nio.file.Files.createTempDirectory("graft_q135")
      Advanced.registerTmpDir(outDir)
      val out = outDir.resolve("packed").toString
      val script =
        s"""CONNECTION 'Docs' (
           |  DRIVER = 'file', FILE = '$dir/documents.parquet',
           |  FORMAT = 'parquet'
           |)
           |CONNECTION 'Out' (
           |  DRIVER = 'file', FILE = '$out', FORMAT = 'parquet'
           |)
           |
           |TRANSFORM 'Packed' FROM CONNECTION Docs (
           |  PACK BY n_chars KEY doc_id INTO 8
           |)
           |
           |QUERY 'Final' FROM BLOCK Packed (
           |  SELECT doc_id, writer FROM Packed
           |) INTO CONNECTION Out""".stripMargin
      Aql.run(s, script).outputs("FINAL")
    },

    // Token chunking through the language layer: the CHUNK verb (q67's
    // operator — the verb family's one row generator) at SIZE 64
    // STRIDE 48 is exactly q67's algebra, so the gate shares q67's
    // oracle: window boundaries, overlap, tail-chunk length, and the
    // zero-token drop are all replayed per-row.
    QueryDef(
      "q140_aql_chunk_verb",
      Curation.chunkOracleSql) { (s, dir) =>
      val outDir = java.nio.file.Files.createTempDirectory("graft_q140")
      Advanced.registerTmpDir(outDir)
      val out = outDir.resolve("chunks").toString
      val script =
        s"""CONNECTION 'Docs' (
           |  DRIVER = 'file', FILE = '$dir/documents.parquet',
           |  FORMAT = 'parquet'
           |)
           |CONNECTION 'Out' (
           |  DRIVER = 'file', FILE = '$out', FORMAT = 'parquet'
           |)
           |
           |TRANSFORM 'Chunked' FROM CONNECTION Docs (
           |  CHUNK ON text KEY doc_id SIZE 64 STRIDE 48
           |)
           |
           |QUERY 'Final' FROM BLOCK Chunked (
           |  SELECT doc_id, chunk_idx, n_chunk_tokens, chunk_text
           |  FROM Chunked
           |) INTO CONNECTION Out""".stripMargin
      Aql.run(s, script).outputs("FINAL")
    },

    // Embedding near-dedup through the language layer: NEARDEDUP METHOD
    // COSINE (q44's blocked threshold join as a verb) at q44's exact
    // corpus/config, so candidate recall is complete (PipelineSpec pins
    // q44's 32×4 recall = 1 on this corpus) and the oracle can afford
    // brute force: all cosine-0.45 pairs → recursive-CTE connected
    // components → the min-key member of each cluster survives (the verb
    // gets that pick free: min-label propagation over key labels makes
    // cluster_id the cluster's min key). Projected to vec_id — the gate
    // pins exactly which rows survive.
    QueryDef(
      "q141_aql_neardedup_cosine",
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT vec_id, v,
        |  sqrt(list_reduce(list_prepend(0.0, [x*x for x in v]), (a,b) -> a+b)) AS nrm
        |  FROM e),
        |p AS (
        |  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
        |  FROM n a JOIN n b ON a.vec_id < b.vec_id
        |  WHERE round(list_reduce(list_prepend(0.0,
        |      [a.v[i] * b.v[i] for i in range(1, len(a.v)+1)]), (x,y) -> x+y)
        |    / (a.nrm * b.nrm), 6) >= 0.45),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM p
        |  UNION ALL SELECT doc_b, doc_a FROM p),
        |reach AS (
        |  WITH RECURSIVE r(id, label) AS (
        |    SELECT src, src FROM edges
        |    UNION
        |    SELECT e2.dst, r.label FROM r JOIN edges e2 ON e2.src = r.id)
        |  SELECT * FROM r),
        |lbl AS (SELECT id, MIN(label) AS cluster_id FROM reach GROUP BY id)
        |SELECT vec_id FROM embeddings
        |WHERE vec_id NOT IN (SELECT id FROM lbl WHERE id <> cluster_id)"""
        .stripMargin) { (s, dir) =>
      val outDir = java.nio.file.Files.createTempDirectory("graft_q141")
      Advanced.registerTmpDir(outDir)
      val out = outDir.resolve("kept").toString
      val script =
        s"""CONNECTION 'Vecs' (
           |  DRIVER = 'file', FILE = '$dir/embeddings.parquet',
           |  FORMAT = 'parquet'
           |)
           |CONNECTION 'Out' (
           |  DRIVER = 'file', FILE = '$out', FORMAT = 'parquet'
           |)
           |
           |TRANSFORM 'Deduped' FROM CONNECTION Vecs (
           |  NEARDEDUP ON embedding KEY vec_id THRESHOLD 0.45 METHOD COSINE
           |)
           |
           |QUERY 'Final' FROM BLOCK Deduped (
           |  SELECT vec_id FROM Deduped
           |) INTO CONNECTION Out""".stripMargin
      Aql.run(s, script).outputs("FINAL")
    },

    // The AGAINST form of the COSINE method through the language layer:
    // embedding-level decontamination (drop batch vectors within the
    // threshold of any corpus vector). Batch = even vec_ids, corpus =
    // odd (q137/q85's split); the oracle brute-forces every batch×corpus
    // cosine, so the gate pins candidate recall (q44's 32×4 blocking is
    // measured complete on this corpus), the exact verify, and the
    // anti-join keep — with no batch-internal collapse (kept batch rows
    // appear verbatim).
    QueryDef(
      "q142_aql_cosine_against",
      cosineAgainstKeptOracleSql) { (s, dir) =>
      val outDir = java.nio.file.Files.createTempDirectory("graft_q142")
      Advanced.registerTmpDir(outDir)
      val out = outDir.resolve("kept").toString
      val emb = Tables.load(s, dir, "embeddings")
      val bPq = outDir.resolve("batch.parquet").toString
      val cPq = outDir.resolve("corpus.parquet").toString
      emb.where(col("vec_id") % 2 === 0).write.parquet(bPq)
      emb.where(col("vec_id") % 2 === 1).write.parquet(cPq)
      val script =
        s"""CONNECTION 'B' (
           |  DRIVER = 'file', FILE = '$bPq', FORMAT = 'parquet'
           |)
           |CONNECTION 'C' (
           |  DRIVER = 'file', FILE = '$cPq', FORMAT = 'parquet'
           |)
           |CONNECTION 'Out' (
           |  DRIVER = 'file', FILE = '$out', FORMAT = 'parquet'
           |)
           |
           |TRANSFORM 'Kept' FROM CONNECTION B, CONNECTION C (
           |  NEARDEDUP B AGAINST C ON embedding KEY vec_id
           |  THRESHOLD 0.45 METHOD COSINE
           |)
           |
           |QUERY 'Final' FROM BLOCK Kept (
           |  SELECT vec_id FROM Kept
           |) INTO CONNECTION Out""".stripMargin
      Aql.run(s, script).outputs("FINAL")
    },

    // Fuzzy string dedup through the language layer: NEARDEDUP METHOD
    // TYPO (q98's SymSpell blocking as a verb) run over the SAME 299
    // customers in two regimes at once — c_name, where the zero-padded
    // numeric field makes keys 1..299 one Hamming-connected edit-
    // distance-1 component (one survivor: longest-then-min-key over a
    // 299-node closure, a real clustering computation), and
    // c_mktsegment, five distinct values shared by ~60 rows each —
    // the exact-first collapse + identical-clique regime (five
    // survivors, min key per value, no cross-value ED-1 pairs). The
    // oracle brute-forces levenshtein over both columns
    // and replays the recursive-CTE closure + canonical rule, so the
    // gate also proves blocking completeness (q98's property) at the
    // verb level.
    QueryDef(
      "q143_aql_typo_verb",
      """WITH c AS (
        |  SELECT c_custkey AS id, c_name AS nm, c_mktsegment AS ad
        |  FROM customer WHERE c_custkey < 300),
        |pn AS (
        |  SELECT a.id AS doc_a, b.id AS doc_b
        |  FROM c a JOIN c b ON a.id < b.id AND levenshtein(a.nm, b.nm) <= 1),
        |pa AS (
        |  SELECT a.id AS doc_a, b.id AS doc_b
        |  FROM c a JOIN c b ON a.id < b.id AND levenshtein(a.ad, b.ad) <= 1),
        |en AS (SELECT doc_a AS src, doc_b AS dst FROM pn
        |  UNION ALL SELECT doc_b, doc_a FROM pn),
        |ea AS (SELECT doc_a AS src, doc_b AS dst FROM pa
        |  UNION ALL SELECT doc_b, doc_a FROM pa),
        |rn AS (
        |  WITH RECURSIVE r(id, label) AS (
        |    SELECT src, src FROM en
        |    UNION
        |    SELECT e2.dst, r.label FROM r JOIN en e2 ON e2.src = r.id)
        |  SELECT id, MIN(label) AS cl FROM r GROUP BY id),
        |ra AS (
        |  WITH RECURSIVE r(id, label) AS (
        |    SELECT src, src FROM ea
        |    UNION
        |    SELECT e2.dst, r.label FROM r JOIN ea e2 ON e2.src = r.id)
        |  SELECT id, MIN(label) AS cl FROM r GROUP BY id),
        |dn AS (
        |  SELECT m.id FROM
        |    (SELECT rn.id, rn.cl, length(c.nm) AS len
        |     FROM rn JOIN c ON c.id = rn.id) m
        |  JOIN (
        |    SELECT cl, min(id) AS w FROM (
        |      SELECT rn.id, rn.cl, length(c.nm) AS len,
        |        max(length(c.nm)) OVER (PARTITION BY rn.cl) AS ml
        |      FROM rn JOIN c ON c.id = rn.id)
        |    WHERE len = ml GROUP BY cl) w ON m.cl = w.cl
        |  WHERE m.id <> w.w),
        |da AS (
        |  SELECT m.id FROM
        |    (SELECT ra.id, ra.cl, length(c.ad) AS len
        |     FROM ra JOIN c ON c.id = ra.id) m
        |  JOIN (
        |    SELECT cl, min(id) AS w FROM (
        |      SELECT ra.id, ra.cl, length(c.ad) AS len,
        |        max(length(c.ad)) OVER (PARTITION BY ra.cl) AS ml
        |      FROM ra JOIN c ON c.id = ra.id)
        |    WHERE len = ml GROUP BY cl) w ON m.cl = w.cl
        |  WHERE m.id <> w.w)
        |SELECT 'name' AS fam, id AS c_custkey FROM c
        |  WHERE id NOT IN (SELECT id FROM dn)
        |UNION ALL
        |SELECT 'seg' AS fam, id AS c_custkey FROM c
        |  WHERE id NOT IN (SELECT id FROM da)""".stripMargin) { (s, dir) =>
      val outDir = java.nio.file.Files.createTempDirectory("graft_q143")
      Advanced.registerTmpDir(outDir)
      val out = outDir.resolve("kept").toString
      val subPq = outDir.resolve("cust.parquet").toString
      Tables.load(s, dir, "customer")
        .where(col("c_custkey") < 300)
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        .write.parquet(subPq)
      val script =
        s"""CONNECTION 'Cust' (
           |  DRIVER = 'file', FILE = '$subPq', FORMAT = 'parquet'
           |)
           |CONNECTION 'OutName' (
           |  DRIVER = 'file', FILE = '$out/name', FORMAT = 'parquet'
           |)
           |CONNECTION 'OutSeg' (
           |  DRIVER = 'file', FILE = '$out/seg', FORMAT = 'parquet'
           |)
           |
           |TRANSFORM 'ByName' FROM CONNECTION Cust (
           |  NEARDEDUP ON c_name KEY c_custkey METHOD TYPO
           |)
           |TRANSFORM 'BySeg' FROM CONNECTION Cust (
           |  NEARDEDUP ON c_mktsegment KEY c_custkey METHOD TYPO
           |)
           |
           |QUERY 'KeptName' FROM BLOCK ByName (
           |  SELECT 'name' AS fam, c_custkey FROM ByName
           |) INTO CONNECTION OutName
           |QUERY 'KeptSeg' FROM BLOCK BySeg (
           |  SELECT 'seg' AS fam, c_custkey FROM BySeg
           |) INTO CONNECTION OutSeg""".stripMargin
      // QUERY takes one source block (reference grammar), so the two
      // kept frames union here purely to package one gate result
      val r = Aql.run(s, script)
      r.outputs("KEPTNAME").unionByName(r.outputs("KEPTSEG"))
    },

    // Deterministic train/val/test assignment through the language
    // layer: the SPLIT verb (q66's operator) at 80/10/10 — the oracle
    // replays the 60-bit md5 bucket, the ppm cut points (cumulative-
    // then-floor), and the last-slice remainder rule per row, so the
    // gate pins key rendering, bucket arithmetic, and slice ordering
    // cross-engine (q134's pattern for SHARD). q66 itself stays the
    // Scala-level gate at 1 % granularity; the verb buckets in ppm so
    // arbitrary fractions (0.825, …) assign exactly.
    QueryDef(
      "q145_aql_split_verb",
      """SELECT doc_id,
        |  CASE
        |    WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |      AS BIGINT) % 1000000 < 800000 THEN 'train'
        |    WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |      AS BIGINT) % 1000000 < 900000 THEN 'val'
        |    ELSE 'test'
        |  END AS split
        |FROM documents""".stripMargin) { (s, dir) =>
      val outDir = java.nio.file.Files.createTempDirectory("graft_q145")
      Advanced.registerTmpDir(outDir)
      val out = outDir.resolve("splits").toString
      val script =
        s"""CONNECTION 'Docs' (
           |  DRIVER = 'file', FILE = '$dir/documents.parquet',
           |  FORMAT = 'parquet'
           |)
           |CONNECTION 'Out' (
           |  DRIVER = 'file', FILE = '$out', FORMAT = 'parquet'
           |)
           |
           |TRANSFORM 'Assigned' FROM CONNECTION Docs (
           |  SPLIT ON doc_id INTO train=0.8, val=0.1, test=0.1
           |)
           |
           |QUERY 'Final' FROM BLOCK Assigned (
           |  SELECT doc_id, split FROM Assigned
           |) INTO CONNECTION Out""".stripMargin
      Aql.run(s, script).outputs("FINAL")
    },

    // Temperature-scaled source mixing through the language layer: the
    // MIX verb (q100's operator) at the standard T = 0.5, weighted by
    // n_chars — the oracle replays the per-source byte rollup, the
    // (w_min/w)^(1−T) ppm rates (correctly-rounded sqrt + division on
    // both engines at T = 0.5, so the thresholds are bit-exact), and
    // the md5-bucket keep decision per row. q100 stays the Scala-level
    // stats gate; THIS gate proves the row-level keep set through the
    // verb.
    QueryDef(
      "q146_aql_mix_verb",
      """WITH stats AS (
        |  SELECT source, CAST(sum(n_chars) AS BIGINT) AS w FROM documents
        |  GROUP BY source),
        |rates AS (
        |  SELECT source,
        |    CAST(floor(1000000.0 * sqrt(CAST(min(w) OVER () AS DOUBLE)) /
        |      sqrt(CAST(w AS DOUBLE))) AS BIGINT) AS keep_ppm
        |  FROM stats WHERE w > 0)
        |SELECT d.doc_id, d.source FROM documents d
        |JOIN rates r USING (source)
        |WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))
        |  AS BIGINT) % 1000000 < r.keep_ppm""".stripMargin) { (s, dir) =>
      val outDir = java.nio.file.Files.createTempDirectory("graft_q146")
      Advanced.registerTmpDir(outDir)
      val out = outDir.resolve("mixed").toString
      val script =
        s"""CONNECTION 'Docs' (
           |  DRIVER = 'file', FILE = '$dir/documents.parquet',
           |  FORMAT = 'parquet'
           |)
           |CONNECTION 'Out' (
           |  DRIVER = 'file', FILE = '$out', FORMAT = 'parquet'
           |)
           |
           |TRANSFORM 'Mixed' FROM CONNECTION Docs (
           |  MIX BY source WEIGHT n_chars KEY doc_id TEMPERATURE 0.5
           |)
           |
           |QUERY 'Final' FROM BLOCK Mixed (
           |  SELECT doc_id, source FROM Mixed
           |) INTO CONNECTION Out""".stripMargin
      Aql.run(s, script).outputs("FINAL")
    },

    // ANN serving from the STORED index through the language layer: the
    // KNN verb's STORED form consumes the SAME persisted IVF artifact
    // as q136 (one memoized build per corpus per JVM) through the SAME
    // probe implementation (Similarity.ivfProbeStored), so the panel
    // answers must be byte-identical — the gate shares q136/q139's
    // oracle text. This closes the loop the AnnScale curve opened: the
    // serving shape measured flat to 2 M vectors is now reachable from
    // AQL, not just Scala.
    QueryDef(
      "q147_aql_knn_stored",
      Similarity.storedIvfOracleSql) { (s, dir) =>
      val base = Similarity.ivfStore(s, dir)
      val outDir = java.nio.file.Files.createTempDirectory("graft_q147")
      Advanced.registerTmpDir(outDir)
      val out = outDir.resolve("knn").toString
      val script =
        s"""CONNECTION 'Emb' (
           |  DRIVER = 'file', FILE = '$dir/embeddings.parquet',
           |  FORMAT = 'parquet'
           |)
           |CONNECTION 'Out' (
           |  DRIVER = 'file', FILE = '$out', FORMAT = 'parquet'
           |)
           |
           |TRANSFORM 'Knn' FROM CONNECTION Emb (
           |  KNN ON embedding KEY vec_id TOP 5 METHOD IVF PROBE 2
           |    STORED '$base' QUERIES vec_id < 8
           |) INTO CONNECTION Out""".stripMargin
      Aql.run(s, script).outputs("KNN")
    },

    // Incremental text dedup from the STORED band index through the
    // language layer: NEARDEDUP's AGAINST STORED form consumes the SAME
    // persisted artifact as q144 (one memoized build per corpus per
    // JVM) through the SAME probe (NearDup.minhashCrossMatchesStored),
    // so the kept set must be byte-identical — the gate shares
    // q128/q144's oracle. Together with q147 this closes the
    // stored-artifact story at the language layer for BOTH index
    // families: a user writes the index once and every later AQL job
    // (batch here, streaming in q149) probes files, never the corpus.
    QueryDef(
      "q148_aql_neardedup_stored_verb",
      Dedup.againstKeptOracleSql) { (s, dir) =>
      val base = Dedup.bandStore(s, dir)
      val outDir = java.nio.file.Files.createTempDirectory("graft_q148")
      Advanced.registerTmpDir(outDir)
      val out = outDir.resolve("kept").toString
      val script =
        s"""CONNECTION 'Docs' (
           |  DRIVER = 'file', FILE = '$dir/documents.parquet',
           |  FORMAT = 'parquet'
           |)
           |CONNECTION 'Out' (
           |  DRIVER = 'file', FILE = '$out', FORMAT = 'parquet'
           |)
           |
           |QUERY 'Batch' FROM CONNECTION Docs (
           |  SELECT * FROM Docs WHERE doc_id % 2 = 0
           |)
           |
           |TRANSFORM 'Kept' FROM BLOCK Batch (
           |  NEARDEDUP Batch AGAINST STORED '$base' ON text KEY doc_id
           |    THRESHOLD 0.5 METHOD LSH
           |)
           |
           |QUERY 'Final' FROM BLOCK Kept (
           |  SELECT doc_id, lang, source, n_chars FROM Kept
           |) INTO CONNECTION Out""".stripMargin
      Aql.run(s, script).outputs("FINAL")
    },

    // The durable index BUILD step through the language layer — the
    // round-8 verdict's top gap closed: before this, AQL could PROBE a
    // stored band index (q148) but only Scala could produce one, and
    // only into a self-deleting temp dir. Here script A builds the
    // artifact with the INDEX verb into a user-chosen directory and a
    // SEPARATE Aql.run (script B — a different engine instance, sharing
    // nothing but the files) probes it with AGAINST STORED; the kept
    // set answers q128/q144/q148's brute-force oracle bit-for-bit, so
    // the verb-built artifact is proven interchangeable with the
    // Scala-built one. The INDEX build collapses the corpus to distinct
    // texts first (membership is all AGAINST asks — the same collapse
    // the two-source form applies), which the shared oracle also pins.
    QueryDef(
      "q151_aql_index_lsh_build_probe",
      Dedup.againstKeptOracleSql) { (s, dir) =>
      val outDir = java.nio.file.Files.createTempDirectory("graft_q151")
      Advanced.registerTmpDir(outDir)
      val idx = outDir.resolve("band_index").toString
      val out = outDir.resolve("kept").toString
      val buildScript =
        s"""CONNECTION 'Docs' (
           |  DRIVER = 'file', FILE = '$dir/documents.parquet',
           |  FORMAT = 'parquet'
           |)
           |
           |QUERY 'Corpus' FROM CONNECTION Docs (
           |  SELECT * FROM Docs WHERE doc_id % 2 = 1
           |)
           |
           |TRANSFORM 'Built' FROM BLOCK Corpus (
           |  INDEX ON text KEY doc_id METHOD LSH THRESHOLD 0.5 CELLS 64
           |    INTO '$idx'
           |)
           |
           |QUERY 'Summary' FROM BLOCK Built (
           |  SELECT * FROM Built
           |) INTO CONSOLE""".stripMargin
      Aql.run(s, buildScript)
      val probeScript =
        s"""CONNECTION 'Docs' (
           |  DRIVER = 'file', FILE = '$dir/documents.parquet',
           |  FORMAT = 'parquet'
           |)
           |CONNECTION 'Out' (
           |  DRIVER = 'file', FILE = '$out', FORMAT = 'parquet'
           |)
           |
           |QUERY 'Batch' FROM CONNECTION Docs (
           |  SELECT * FROM Docs WHERE doc_id % 2 = 0
           |)
           |
           |TRANSFORM 'Kept' FROM BLOCK Batch (
           |  NEARDEDUP Batch AGAINST STORED '$idx' ON text KEY doc_id
           |    THRESHOLD 0.5 METHOD LSH
           |)
           |
           |QUERY 'Final' FROM BLOCK Kept (
           |  SELECT doc_id, lang, source, n_chars FROM Kept
           |) INTO CONNECTION Out""".stripMargin
      Aql.run(s, probeScript).outputs("FINAL")
    },

    // INDEX METHOD IVF → KNN STORED, build and serve both through the
    // language layer in separate engine runs: the verb-built IVF
    // artifact (same ivfStoreTo writer as q136's store, 16 cells) serves
    // the q136/q139/q147 probe panel byte-identically — the gate shares
    // their oracle, closing the vector side of the "write once from
    // AQL, probe forever from AQL" contract.
    QueryDef(
      "q152_aql_index_ivf_knn",
      Similarity.storedIvfOracleSql) { (s, dir) =>
      val outDir = java.nio.file.Files.createTempDirectory("graft_q152")
      Advanced.registerTmpDir(outDir)
      val idx = outDir.resolve("ivf_index").toString
      val out = outDir.resolve("knn").toString
      val buildScript =
        s"""CONNECTION 'Emb' (
           |  DRIVER = 'file', FILE = '$dir/embeddings.parquet',
           |  FORMAT = 'parquet'
           |)
           |
           |TRANSFORM 'Built' FROM CONNECTION Emb (
           |  INDEX ON embedding KEY vec_id METHOD IVF CELLS 16 INTO '$idx'
           |)
           |
           |QUERY 'Summary' FROM BLOCK Built (
           |  SELECT * FROM Built
           |) INTO CONSOLE""".stripMargin
      Aql.run(s, buildScript)
      val probeScript =
        s"""CONNECTION 'Emb' (
           |  DRIVER = 'file', FILE = '$dir/embeddings.parquet',
           |  FORMAT = 'parquet'
           |)
           |CONNECTION 'Out' (
           |  DRIVER = 'file', FILE = '$out', FORMAT = 'parquet'
           |)
           |
           |TRANSFORM 'Knn' FROM CONNECTION Emb (
           |  KNN ON embedding KEY vec_id TOP 5 METHOD IVF PROBE 2
           |    STORED '$idx' QUERIES vec_id < 8
           |) INTO CONNECTION Out""".stripMargin
      Aql.run(s, probeScript).outputs("KNN")
    },

    // INDEX METHOD COSINE → NEARDEDUP COSINE AGAINST STORED: embedding
    // decontamination from a persisted sign-LSH bucket index — q142's
    // shape without recomputing corpus buckets per run (the round-8
    // verdict's item 3). The gate shares q142's brute-force batch×corpus
    // cosine oracle, so the stored path is pinned to the in-plan
    // two-source path through the truth they both must answer.
    // Geometry is PINNED (TABLES 32 BITS 4), not derived: this probe
    // runs at THRESHOLD 0.45 and the test embeddings' matched pairs sit
    // right at 0.45-0.50 (measured), where wider derived buckets could
    // deterministically miss a boundary pair — the derived default
    // targets DEDUP thresholds (IndexGeometry.cosineBits' contract);
    // moderate-threshold users pin BITS exactly like this. The probe
    // script passes NO geometry, exercising the adopt-from-meta path.
    QueryDef(
      "q153_aql_cosine_stored",
      cosineAgainstKeptOracleSql) { (s, dir) =>
      val outDir = java.nio.file.Files.createTempDirectory("graft_q153")
      Advanced.registerTmpDir(outDir)
      val idx = outDir.resolve("cosine_index").toString
      val out = outDir.resolve("kept").toString
      val emb = Tables.load(s, dir, "embeddings")
      val bPq = outDir.resolve("batch.parquet").toString
      val cPq = outDir.resolve("corpus.parquet").toString
      emb.where(col("vec_id") % 2 === 0).write.parquet(bPq)
      emb.where(col("vec_id") % 2 === 1).write.parquet(cPq)
      val buildScript =
        s"""CONNECTION 'C' (
           |  DRIVER = 'file', FILE = '$cPq', FORMAT = 'parquet'
           |)
           |
           |TRANSFORM 'Built' FROM CONNECTION C (
           |  INDEX ON embedding KEY vec_id METHOD COSINE CELLS 64
           |    TABLES 32 BITS 4 INTO '$idx'
           |)
           |
           |QUERY 'Summary' FROM BLOCK Built (
           |  SELECT * FROM Built
           |) INTO CONSOLE""".stripMargin
      Aql.run(s, buildScript)
      val probeScript =
        s"""CONNECTION 'B' (
           |  DRIVER = 'file', FILE = '$bPq', FORMAT = 'parquet'
           |)
           |CONNECTION 'Out' (
           |  DRIVER = 'file', FILE = '$out', FORMAT = 'parquet'
           |)
           |
           |TRANSFORM 'Kept' FROM CONNECTION B (
           |  NEARDEDUP B AGAINST STORED '$idx' ON embedding KEY vec_id
           |    THRESHOLD 0.45 METHOD COSINE
           |)
           |
           |QUERY 'Final' FROM BLOCK Kept (
           |  SELECT vec_id FROM Kept
           |) INTO CONNECTION Out""".stripMargin
      Aql.run(s, probeScript).outputs("FINAL")
    },

    // INDEX METHOD TYPO → NEARDEDUP TYPO AGAINST STORED: the q98
    // "write-once corpus delete index" finally persisted and consumed
    // from files (round-8 verdict item 4). Corpus = odd custkeys < 100,
    // batch = even keys < 300 — see typoAgainstKeptOracleSql for why
    // this cut makes BOTH verdict classes nonempty at every SF (evens
    // < 100 always match a last-digit flip; evens ≥ 100 never match),
    // so the gate exercises the match path and the survivor path of
    // the stored variant probe simultaneously.
    QueryDef(
      "q154_aql_typo_stored",
      typoAgainstKeptOracleSql) { (s, dir) =>
      val outDir = java.nio.file.Files.createTempDirectory("graft_q154")
      Advanced.registerTmpDir(outDir)
      val idx = outDir.resolve("typo_index").toString
      val out = outDir.resolve("kept").toString
      val bPq = outDir.resolve("batch.parquet").toString
      val cPq = outDir.resolve("corpus.parquet").toString
      val cust = Tables.load(s, dir, "customer")
        .where(col("c_custkey") < 300)
        .select(col("c_custkey"), col("c_name"))
      cust.where(col("c_custkey") % 2 === 0).write.parquet(bPq)
      cust.where(col("c_custkey") % 2 === 1 && col("c_custkey") < 100)
        .write.parquet(cPq)
      val buildScript =
        s"""CONNECTION 'C' (
           |  DRIVER = 'file', FILE = '$cPq', FORMAT = 'parquet'
           |)
           |
           |TRANSFORM 'Built' FROM CONNECTION C (
           |  INDEX ON c_name KEY c_custkey METHOD TYPO CELLS 32 INTO '$idx'
           |)
           |
           |QUERY 'Summary' FROM BLOCK Built (
           |  SELECT * FROM Built
           |) INTO CONSOLE""".stripMargin
      Aql.run(s, buildScript)
      val probeScript =
        s"""CONNECTION 'B' (
           |  DRIVER = 'file', FILE = '$bPq', FORMAT = 'parquet'
           |)
           |CONNECTION 'Out' (
           |  DRIVER = 'file', FILE = '$out', FORMAT = 'parquet'
           |)
           |
           |TRANSFORM 'Kept' FROM CONNECTION B (
           |  NEARDEDUP B AGAINST STORED '$idx' ON c_name KEY c_custkey
           |    METHOD TYPO
           |)
           |
           |QUERY 'Final' FROM BLOCK Kept (
           |  SELECT c_custkey FROM Kept
           |) INTO CONNECTION Out""".stripMargin
      Aql.run(s, probeScript).outputs("FINAL")
    },

    // MIX at a GENERAL temperature (T = 0.7), hash-exact cross-engine:
    // the rate (w_min/w)^0.3 rides pow — faithfully rounded but not
    // correctly rounded across engines — so the verb quantizes it to
    // DECIMAL(18,12) before the exact long×DECIMAL ppm floor, and the
    // oracle replays the identical quantization. q146 (T = 0.5) pins
    // the sqrt fast path; THIS pins the general path that previously
    // carried a documented last-ulp caveat with no gate.
    QueryDef(
      "q155_aql_mix_t07",
      """WITH stats AS (
        |  SELECT source, CAST(sum(n_chars) AS BIGINT) AS w FROM documents
        |  GROUP BY source),
        |rates AS (
        |  SELECT source,
        |    CAST(floor(1000000 * CAST(CAST(pow(
        |      CAST(min(w) OVER () AS DOUBLE) / CAST(w AS DOUBLE),
        |      0.3) AS DECIMAL(18,12)) AS DECIMAL(30,12))) AS BIGINT)
        |      AS keep_ppm
        |  FROM stats WHERE w > 0)
        |SELECT d.doc_id, d.source FROM documents d
        |JOIN rates r USING (source)
        |WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))
        |  AS BIGINT) % 1000000 < r.keep_ppm""".stripMargin) { (s, dir) =>
      val outDir = java.nio.file.Files.createTempDirectory("graft_q155")
      Advanced.registerTmpDir(outDir)
      val out = outDir.resolve("mixed").toString
      val script =
        s"""CONNECTION 'Docs' (
           |  DRIVER = 'file', FILE = '$dir/documents.parquet',
           |  FORMAT = 'parquet'
           |)
           |CONNECTION 'Out' (
           |  DRIVER = 'file', FILE = '$out', FORMAT = 'parquet'
           |)
           |
           |TRANSFORM 'Mixed' FROM CONNECTION Docs (
           |  MIX BY source WEIGHT n_chars KEY doc_id TEMPERATURE 0.7
           |)
           |
           |QUERY 'Final' FROM BLOCK Mixed (
           |  SELECT doc_id, source FROM Mixed
           |) INTO CONNECTION Out""".stripMargin
      Aql.run(s, script).outputs("FINAL")
    },

    // INDEX … APPEND: the index-MAINTENANCE form — the corpus half that
    // q151 indexed in one build is here indexed as build-then-append
    // (doc_id % 4 = 1 built, % 4 = 3 appended, union = the odd docs)
    // across SEPARATE engine runs, and a third run probes the grown
    // artifact. Because a doc's band rows are pure functions of its own
    // text, the appended artifact must answer q128/q144/q148/q151's
    // brute-force oracle BIT-FOR-BIT — the gate that makes "ingest
    // today's documents without re-shingling yesterday's corpus" a
    // verified claim rather than a design note.
    QueryDef(
      "q156_aql_index_lsh_append",
      Dedup.againstKeptOracleSql) { (s, dir) =>
      val outDir = java.nio.file.Files.createTempDirectory("graft_q156")
      Advanced.registerTmpDir(outDir)
      val idx = outDir.resolve("band_index").toString
      val out = outDir.resolve("kept").toString
      def corpusScript(slice: Int, appendKw: String) =
        s"""CONNECTION 'Docs' (
           |  DRIVER = 'file', FILE = '$dir/documents.parquet',
           |  FORMAT = 'parquet'
           |)
           |
           |QUERY 'Corpus' FROM CONNECTION Docs (
           |  SELECT * FROM Docs WHERE doc_id % 4 = $slice
           |)
           |
           |TRANSFORM 'Built' FROM BLOCK Corpus (
           |  INDEX ON text KEY doc_id METHOD LSH${
             if (appendKw.isEmpty) " THRESHOLD 0.5 CELLS 64" else ""}
           |    INTO '$idx'$appendKw
           |)
           |
           |QUERY 'Summary' FROM BLOCK Built (
           |  SELECT * FROM Built
           |) INTO CONSOLE""".stripMargin
      Aql.run(s, corpusScript(1, ""))
      Aql.run(s, corpusScript(3, " APPEND"))
      val probeScript =
        s"""CONNECTION 'Docs' (
           |  DRIVER = 'file', FILE = '$dir/documents.parquet',
           |  FORMAT = 'parquet'
           |)
           |CONNECTION 'Out' (
           |  DRIVER = 'file', FILE = '$out', FORMAT = 'parquet'
           |)
           |
           |QUERY 'Batch' FROM CONNECTION Docs (
           |  SELECT * FROM Docs WHERE doc_id % 2 = 0
           |)
           |
           |TRANSFORM 'Kept' FROM BLOCK Batch (
           |  NEARDEDUP Batch AGAINST STORED '$idx' ON text KEY doc_id
           |    THRESHOLD 0.5 METHOD LSH
           |)
           |
           |QUERY 'Final' FROM BLOCK Kept (
           |  SELECT doc_id, lang, source, n_chars FROM Kept
           |) INTO CONNECTION Out""".stripMargin
      Aql.run(s, probeScript).outputs("FINAL")
    },

    // INDEX COMPACT — the maintenance statement that caps APPEND's
    // file growth: q156's exact chain (build %4=1, append %4=3) with a
    // COMPACT run between append and probe. Compaction rewrites each
    // cell to one file and must change NOTHING about answers — the
    // gate shares the same brute-force oracle, so a compact that
    // dropped/duplicated/moved rows (or touched meta) fails
    // hash-exactly. The file-count reduction itself is pinned in
    // AqlSpec (files_after < files_before after a double append).
    QueryDef(
      "q158_aql_index_compact",
      Dedup.againstKeptOracleSql) { (s, dir) =>
      val outDir = java.nio.file.Files.createTempDirectory("graft_q158")
      Advanced.registerTmpDir(outDir)
      val idx = outDir.resolve("band_index").toString
      val out = outDir.resolve("kept").toString
      def corpusScript(slice: Int, appendKw: String) =
        s"""CONNECTION 'Docs' (
           |  DRIVER = 'file', FILE = '$dir/documents.parquet',
           |  FORMAT = 'parquet'
           |)
           |
           |QUERY 'Corpus' FROM CONNECTION Docs (
           |  SELECT * FROM Docs WHERE doc_id % 4 = $slice
           |)
           |
           |TRANSFORM 'Built' FROM BLOCK Corpus (
           |  INDEX ON text KEY doc_id METHOD LSH${
             if (appendKw.isEmpty) " THRESHOLD 0.5 CELLS 64" else ""}
           |    INTO '$idx'$appendKw
           |)
           |
           |QUERY 'Summary' FROM BLOCK Built (
           |  SELECT * FROM Built
           |) INTO CONSOLE""".stripMargin
      Aql.run(s, corpusScript(1, ""))
      Aql.run(s, corpusScript(3, " APPEND"))
      Aql.run(s,
        s"""DATA 'One' ([[1]]) WITH (COLUMNS = 'X')
           |TRANSFORM 'Compacted' FROM BLOCK One (
           |  INDEX COMPACT '$idx'
           |) INTO CONSOLE""".stripMargin)
      val probeScript =
        s"""CONNECTION 'Docs' (
           |  DRIVER = 'file', FILE = '$dir/documents.parquet',
           |  FORMAT = 'parquet'
           |)
           |CONNECTION 'Out' (
           |  DRIVER = 'file', FILE = '$out', FORMAT = 'parquet'
           |)
           |
           |QUERY 'Batch' FROM CONNECTION Docs (
           |  SELECT * FROM Docs WHERE doc_id % 2 = 0
           |)
           |
           |TRANSFORM 'Kept' FROM BLOCK Batch (
           |  NEARDEDUP Batch AGAINST STORED '$idx' ON text KEY doc_id
           |    THRESHOLD 0.5 METHOD LSH
           |)
           |
           |QUERY 'Final' FROM BLOCK Kept (
           |  SELECT doc_id, lang, source, n_chars FROM Kept
           |) INTO CONNECTION Out""".stripMargin
      Aql.run(s, probeScript).outputs("FINAL")
    },

    // INDEX … DELETE — the third maintenance form, gated exactly as its
    // scaladoc specs: build the odd corpus, APPEND the even batch in a
    // second engine run, DELETE it in a third, probe it in a fourth.
    // Deletion is CONTENT-KEYED (entries are one per distinct text), so
    // the artifact after the chain holds the odd texts that are not any
    // even doc's text — deleteKeptOracleSql states the same in SQL
    // (cross-parity shared texts exist at sf0.1, so the restatement is
    // load-bearing, not pedantry). Both failure modes fail hash-exactly:
    // FALSE RETENTION — any surviving appended entry matches its own
    // batch doc back (Jaccard 1.0) and drops it; OVER-DELETION — a lost
    // odd entry un-drops its near-matching batch docs.
    QueryDef(
      "q159_aql_index_delete",
      Dedup.deleteKeptOracleSql) { (s, dir) =>
      val outDir = java.nio.file.Files.createTempDirectory("graft_q159")
      Advanced.registerTmpDir(outDir)
      val idx = outDir.resolve("band_index").toString
      val out = outDir.resolve("kept").toString
      def maintScript(parity: Int, opts: String, maintKw: String) =
        s"""CONNECTION 'Docs' (
           |  DRIVER = 'file', FILE = '$dir/documents.parquet',
           |  FORMAT = 'parquet'
           |)
           |
           |QUERY 'Corpus' FROM CONNECTION Docs (
           |  SELECT * FROM Docs WHERE doc_id % 2 = $parity
           |)
           |
           |TRANSFORM 'Built' FROM BLOCK Corpus (
           |  INDEX ON text KEY doc_id METHOD LSH$opts
           |    INTO '$idx'$maintKw
           |)
           |
           |QUERY 'Summary' FROM BLOCK Built (
           |  SELECT * FROM Built
           |) INTO CONSOLE""".stripMargin
      Aql.run(s, maintScript(1, " THRESHOLD 0.5 CELLS 64", ""))
      Aql.run(s, maintScript(0, "", " APPEND"))
      Aql.run(s, maintScript(0, "", " DELETE"))
      val probeScript =
        s"""CONNECTION 'Docs' (
           |  DRIVER = 'file', FILE = '$dir/documents.parquet',
           |  FORMAT = 'parquet'
           |)
           |CONNECTION 'Out' (
           |  DRIVER = 'file', FILE = '$out', FORMAT = 'parquet'
           |)
           |
           |QUERY 'Batch' FROM CONNECTION Docs (
           |  SELECT * FROM Docs WHERE doc_id % 2 = 0
           |)
           |
           |TRANSFORM 'Kept' FROM BLOCK Batch (
           |  NEARDEDUP Batch AGAINST STORED '$idx' ON text KEY doc_id
           |    THRESHOLD 0.5 METHOD LSH
           |)
           |
           |QUERY 'Final' FROM BLOCK Kept (
           |  SELECT doc_id, lang, source, n_chars FROM Kept
           |) INTO CONNECTION Out""".stripMargin
      Aql.run(s, probeScript).outputs("FINAL")
    },

    // INDEX REBUILD — the re-derive/re-train maintenance statement:
    // q156's exact chain (build %4==1 at CELLS 64, append %4==3) with
    // a REBUILD between append and probe, sharing the same brute-force
    // oracle. The rebuild re-partitions every store and rewrites meta —
    // and must change NOTHING about answers: a rebuild that dropped,
    // duplicated or re-keyed an entry, or whose new meta mis-routed
    // probes, fails hash-exactly. CELLS is pinned here like q156/q158
    // (a derived build at sf0.1 writes 512 cells × 2 stores × 4 engine
    // runs of toy-sized files — pure small-file amplification in the
    // gate's wall-clock); the DERIVED re-derivation legs —
    // cells_before→cells_after, bits re-derive, IVF re-train — are
    // pinned in AqlSpec, where the corpus sizes are controlled.
    QueryDef(
      "q162_aql_index_rebuild",
      Dedup.againstKeptOracleSql) { (s, dir) =>
      val outDir = java.nio.file.Files.createTempDirectory("graft_q162")
      Advanced.registerTmpDir(outDir)
      val idx = outDir.resolve("band_index").toString
      val out = outDir.resolve("kept").toString
      def corpusScript(slice: Int, appendKw: String) =
        s"""CONNECTION 'Docs' (
           |  DRIVER = 'file', FILE = '$dir/documents.parquet',
           |  FORMAT = 'parquet'
           |)
           |QUERY 'Corpus' FROM CONNECTION Docs (
           |  SELECT * FROM Docs WHERE doc_id % 4 = $slice
           |)
           |TRANSFORM 'Built' FROM BLOCK Corpus (
           |  INDEX ON text KEY doc_id METHOD LSH${
             if (appendKw.isEmpty) " THRESHOLD 0.5 CELLS 64" else ""}
           |    INTO '$idx'$appendKw
           |) INTO CONSOLE""".stripMargin
      Aql.run(s, corpusScript(1, ""))
      Aql.run(s, corpusScript(3, " APPEND"))
      Aql.run(s,
        s"""DATA 'One' ([[1]]) WITH (COLUMNS = 'X')
           |TRANSFORM 'Rebuilt' FROM BLOCK One (
           |  INDEX REBUILD '$idx'
           |) INTO CONSOLE""".stripMargin)
      Aql.run(s,
        s"""CONNECTION 'Docs' (
           |  DRIVER = 'file', FILE = '$dir/documents.parquet',
           |  FORMAT = 'parquet'
           |)
           |CONNECTION 'Out' (
           |  DRIVER = 'file', FILE = '$out', FORMAT = 'parquet'
           |)
           |QUERY 'Batch' FROM CONNECTION Docs (
           |  SELECT * FROM Docs WHERE doc_id % 2 = 0
           |)
           |TRANSFORM 'Kept' FROM BLOCK Batch (
           |  NEARDEDUP Batch AGAINST STORED '$idx' ON text KEY doc_id
           |    THRESHOLD 0.5 METHOD LSH
           |)
           |QUERY 'Final' FROM BLOCK Kept (
           |  SELECT doc_id, lang, source, n_chars FROM Kept
           |) INTO CONNECTION Out""".stripMargin).outputs("FINAL")
    },

    // INDEX DESCRIBE — the operability statement: build a TYPO index in
    // one engine run (CELLS pinned so the oracle can restate them),
    // DESCRIBE it in a second, and hash-compare the strings store's
    // summary against the source-derived truth. The TYPO strings store
    // holds exactly one row per distinct non-null text (the verb's
    // exact-first collapse), so `entries` is COUNT(DISTINCT text) in
    // SQL — a real end-to-end pin that the statement reports the
    // artifact's actual size, not a cached or stale figure. The
    // fs-shape columns (files, multi_file_cells, skew) are pinned in
    // AqlSpec where the file layout is controlled.
    QueryDef(
      "q160_aql_index_describe",
      """SELECT 'typo_text' AS kind, 'strings' AS store, 64 AS cells,
        |       COUNT(DISTINCT text) AS entries
        |FROM documents WHERE doc_id % 2 = 1 AND text IS NOT NULL
        |""".stripMargin) { (s, dir) =>
      val outDir = java.nio.file.Files.createTempDirectory("graft_q160")
      Advanced.registerTmpDir(outDir)
      val idx = outDir.resolve("typo_index").toString
      Aql.run(s,
        s"""CONNECTION 'Docs' (
           |  DRIVER = 'file', FILE = '$dir/documents.parquet',
           |  FORMAT = 'parquet'
           |)
           |
           |QUERY 'Corpus' FROM CONNECTION Docs (
           |  SELECT * FROM Docs WHERE doc_id % 2 = 1
           |)
           |
           |TRANSFORM 'Built' FROM BLOCK Corpus (
           |  INDEX ON text KEY doc_id METHOD TYPO CELLS 64 INTO '$idx'
           |)
           |
           |QUERY 'Summary' FROM BLOCK Built (
           |  SELECT * FROM Built
           |) INTO CONSOLE""".stripMargin)
      Aql.run(s,
        s"""DATA 'One' ([[1]]) WITH (COLUMNS = 'X')
           |TRANSFORM 'Described' FROM BLOCK One (
           |  INDEX DESCRIBE '$idx'
           |) INTO CONSOLE""".stripMargin)
        .outputs("DESCRIBED")
        .where(col("store") === "strings")
        .select(col("kind"), col("store"), col("cells"), col("entries"))
    },

    // INDEX … PQ → KNN … STORED ADC: the stored IVF-PQ serving path,
    // build and serve in separate engine runs. Run A builds the q152
    // artifact PLUS per-subspace PQ codebooks and a SMALLINT code array
    // per vector (8 subspaces × 8 dims, 16 codes — pinned: the derived
    // default is 256 clamped to the corpus); run B routes cells exactly
    // like q147/q152, ranks the routed candidates by DECIMAL-exact ADC
    // over the codes store, reads full vectors ONLY for the top-20
    // shortlist, and exact-reranks those to the final top-5. Shortlist
    // 20 sits BELOW the routed-candidate count (≈ 60 at sf0.01), so the
    // gate's answer genuinely depends on the ADC ranking — the oracle
    // replays the whole quantize-encode-LUT-sum chain in SQL, and a
    // wrong codebook pick, encoding, LUT join or ADC sum fails
    // hash-exactly, not just a wrong rerank.
    QueryDef(
      "q163_aql_index_ivf_pq",
      Similarity.storedIvfPqOracleSql) { (s, dir) =>
      val outDir = java.nio.file.Files.createTempDirectory("graft_q163")
      Advanced.registerTmpDir(outDir)
      val idx = outDir.resolve("ivf_pq_index").toString
      val out = outDir.resolve("knn").toString
      val buildScript =
        s"""CONNECTION 'Emb' (
           |  DRIVER = 'file', FILE = '$dir/embeddings.parquet',
           |  FORMAT = 'parquet'
           |)
           |
           |TRANSFORM 'Built' FROM CONNECTION Emb (
           |  INDEX ON embedding KEY vec_id METHOD IVF CELLS 16
           |    PQ 8 PQCODES 16 INTO '$idx'
           |)
           |
           |QUERY 'Summary' FROM BLOCK Built (
           |  SELECT * FROM Built
           |) INTO CONSOLE""".stripMargin
      Aql.run(s, buildScript)
      val probeScript =
        s"""CONNECTION 'Emb' (
           |  DRIVER = 'file', FILE = '$dir/embeddings.parquet',
           |  FORMAT = 'parquet'
           |)
           |CONNECTION 'Out' (
           |  DRIVER = 'file', FILE = '$out', FORMAT = 'parquet'
           |)
           |
           |TRANSFORM 'Knn' FROM CONNECTION Emb (
           |  KNN ON embedding KEY vec_id TOP 5 METHOD IVF PROBE 2
           |    STORED '$idx' ADC SHORTLIST 20 QUERIES vec_id < 8
           |) INTO CONNECTION Out""".stripMargin
      Aql.run(s, probeScript).outputs("KNN")
    },

    // INDEX METHOD COSINE → KNN METHOD LSH STORED: top-k serving from
    // the sign-LSH bucket artifact, closing the one stored-artifact
    // asymmetry (a COSINE artifact served NEARDEDUP AGAINST but not
    // KNN). Build in run A, serve in run B; the gate compares
    // (qid, cosine, rank) — tie-invariant and portable, see
    // storedCosineKnnOracleSql for why neighbor_id (a content hash)
    // stays out of the hash — against the brute-force top-5 over
    // DISTINCT corpus vectors with content self-exclusion. Geometry is
    // PINNED at TABLES 32 BITS 2: recall must be exactly 1.0 for the
    // hash to match (per-pair miss ≤ (1−p²)³² — ~1e-4 for an
    // orthogonal pair, ≤ ~1e-7 for a true neighbor at cosine ≥ 0.4;
    // deterministic on the fixed panel, and verified green at every
    // shipped SF), which is the gate's point — LSH candidates can only
    // be missed, and at this geometry nothing is missed, so the
    // serving path's routing/rerank algebra is pinned end-to-end.
    QueryDef(
      "q164_aql_knn_cosine_stored",
      Similarity.storedCosineKnnOracleSql) { (s, dir) =>
      val outDir = java.nio.file.Files.createTempDirectory("graft_q164")
      Advanced.registerTmpDir(outDir)
      val idx = outDir.resolve("cosine_index").toString
      val out = outDir.resolve("knn").toString
      val buildScript =
        s"""CONNECTION 'Emb' (
           |  DRIVER = 'file', FILE = '$dir/embeddings.parquet',
           |  FORMAT = 'parquet'
           |)
           |
           |TRANSFORM 'Built' FROM CONNECTION Emb (
           |  INDEX ON embedding KEY vec_id METHOD COSINE
           |    CELLS 16 TABLES 32 BITS 2 INTO '$idx'
           |)
           |
           |QUERY 'Summary' FROM BLOCK Built (
           |  SELECT * FROM Built
           |) INTO CONSOLE""".stripMargin
      Aql.run(s, buildScript)
      val probeScript =
        s"""CONNECTION 'Emb' (
           |  DRIVER = 'file', FILE = '$dir/embeddings.parquet',
           |  FORMAT = 'parquet'
           |)
           |CONNECTION 'Out' (
           |  DRIVER = 'file', FILE = '$out', FORMAT = 'parquet'
           |)
           |
           |TRANSFORM 'Knn' FROM CONNECTION Emb (
           |  KNN ON embedding KEY vec_id TOP 5 METHOD LSH
           |    STORED '$idx' QUERIES vec_id < 8
           |)
           |
           |QUERY 'Final' FROM BLOCK Knn (
           |  SELECT qid, cosine, rank FROM Knn
           |) INTO CONNECTION Out""".stripMargin
      Aql.run(s, probeScript).outputs("FINAL")
    },

    // INDEX REBUILD … THRESHOLD — the re-banding rebuild: the artifact
    // is built at THRESHOLD 0.5 (64 bands × 2 rows), re-banded to 0.9
    // (32 × 4) FROM ITS OWN SHINGLE STORE in a second engine run — the
    // source frame is never touched again — and probed at 0.9 in a
    // third. The oracle is the shared brute-force AGAINST statement AT
    // the new threshold, so a re-band that recomputed signatures from
    // re-hashed hashes (banding nonsense), dropped entries, or left the
    // old banding in meta (the probe would then error or miss pairs)
    // fails hash-exactly. Probing the PRE-rebuild artifact at 0.9
    // errors on the banding mismatch — that closed gap is exactly what
    // this statement exists for (AqlSpec pins the error text).
    QueryDef(
      "q165_aql_index_rebuild_threshold",
      Dedup.againstKeptOracleSqlAt(0.9)) { (s, dir) =>
      val outDir = java.nio.file.Files.createTempDirectory("graft_q165")
      Advanced.registerTmpDir(outDir)
      val idx = outDir.resolve("band_index").toString
      val out = outDir.resolve("kept").toString
      Aql.run(s,
        s"""CONNECTION 'Docs' (
           |  DRIVER = 'file', FILE = '$dir/documents.parquet',
           |  FORMAT = 'parquet'
           |)
           |QUERY 'Corpus' FROM CONNECTION Docs (
           |  SELECT * FROM Docs WHERE doc_id % 2 = 1
           |)
           |TRANSFORM 'Built' FROM BLOCK Corpus (
           |  INDEX ON text KEY doc_id METHOD LSH THRESHOLD 0.5 CELLS 64
           |    INTO '$idx'
           |) INTO CONSOLE""".stripMargin)
      Aql.run(s,
        s"""DATA 'One' ([[1]]) WITH (COLUMNS = 'X')
           |TRANSFORM 'Rebanded' FROM BLOCK One (
           |  INDEX REBUILD '$idx' THRESHOLD 0.9
           |) INTO CONSOLE""".stripMargin)
      Aql.run(s,
        s"""CONNECTION 'Docs' (
           |  DRIVER = 'file', FILE = '$dir/documents.parquet',
           |  FORMAT = 'parquet'
           |)
           |CONNECTION 'Out' (
           |  DRIVER = 'file', FILE = '$out', FORMAT = 'parquet'
           |)
           |QUERY 'Batch' FROM CONNECTION Docs (
           |  SELECT * FROM Docs WHERE doc_id % 2 = 0
           |)
           |TRANSFORM 'Kept' FROM BLOCK Batch (
           |  NEARDEDUP Batch AGAINST STORED '$idx' ON text KEY doc_id
           |    THRESHOLD 0.9 METHOD LSH
           |)
           |QUERY 'Final' FROM BLOCK Kept (
           |  SELECT doc_id, lang, source, n_chars FROM Kept
           |) INTO CONNECTION Out""".stripMargin).outputs("FINAL")
    },

    // INDEX REBUILD … TABLES/BITS — the cosine-family re-bucket: the
    // artifact is built with DERIVED bits (a one-line INDEX, the
    // geometry every derived-bits serving warning complains about),
    // re-bucketed to EXPLICIT TABLES 32 BITS 2 from its own vectors
    // store in a second engine run — the source frame is never touched
    // again — and KNN-served in a third. Geometry lands exactly where
    // q164 PINS it at build time, so the same oracle applies with the
    // same recall-1.0-by-construction argument; a rebuild that dropped
    // vectors, re-bucketed at the wrong hyperplanes, or left bits
    // marked derived in meta (the serving warning would then still
    // fire — AqlSpec pins that it does NOT) fails hash-exactly. This
    // is the statement the derived-bits warning's remedy text names —
    // q165's write-once story for the cosine family.
    QueryDef(
      "q167_aql_index_rebuild_geometry",
      Similarity.storedCosineKnnOracleSql) { (s, dir) =>
      val outDir = java.nio.file.Files.createTempDirectory("graft_q167")
      Advanced.registerTmpDir(outDir)
      val idx = outDir.resolve("cosine_index").toString
      val out = outDir.resolve("knn").toString
      Aql.run(s,
        s"""CONNECTION 'Emb' (
           |  DRIVER = 'file', FILE = '$dir/embeddings.parquet',
           |  FORMAT = 'parquet'
           |)
           |TRANSFORM 'Built' FROM CONNECTION Emb (
           |  INDEX ON embedding KEY vec_id METHOD COSINE
           |    CELLS 16 TABLES 32 INTO '$idx'
           |) INTO CONSOLE""".stripMargin)
      Aql.run(s,
        s"""DATA 'One' ([[1]]) WITH (COLUMNS = 'X')
           |TRANSFORM 'Rebucketed' FROM BLOCK One (
           |  INDEX REBUILD '$idx' TABLES 32 BITS 2
           |) INTO CONSOLE""".stripMargin)
      Aql.run(s,
        s"""CONNECTION 'Emb' (
           |  DRIVER = 'file', FILE = '$dir/embeddings.parquet',
           |  FORMAT = 'parquet'
           |)
           |CONNECTION 'Out' (
           |  DRIVER = 'file', FILE = '$out', FORMAT = 'parquet'
           |)
           |TRANSFORM 'Knn' FROM CONNECTION Emb (
           |  KNN ON embedding KEY vec_id TOP 5 METHOD LSH
           |    STORED '$idx' QUERIES vec_id < 8
           |)
           |QUERY 'Final' FROM BLOCK Knn (
           |  SELECT qid, cosine, rank FROM Knn
           |) INTO CONNECTION Out""".stripMargin).outputs("FINAL")
    },

    // KNN METHOD JACCARD STORED — top-k Jaccard retrieval from the
    // lsh_text band artifact: the investigation step of a dedup
    // pipeline ("show me the 10 most-similar stored docs"), where
    // AGAINST only answers membership. Build on the odd docs in run A
    // (the q165 corpus split), serve the even docs in run B: bands
    // route candidates exactly like NEARDEDUP AGAINST STORED (shared
    // code — storedVerifiedPairs), the shingle store reranks by exact
    // Jaccard, and the answer is top-10 at the 0.5 banding grade. The
    // oracle replays the whole exact-Jaccard ranking brute-force in
    // SQL, so a routing miss (a true >= 0.5 pair whose bands never
    // collided), a wrong Jaccard, or an unstable rank all fail
    // hash-exactly. Projection (qid, jaccard, rank) is tie-invariant —
    // q164's pattern.
    QueryDef(
      "q168_aql_knn_jaccard_stored",
      Dedup.jaccardKnnOracleSql) { (s, dir) =>
      val outDir = java.nio.file.Files.createTempDirectory("graft_q168")
      Advanced.registerTmpDir(outDir)
      val idx = outDir.resolve("band_index").toString
      val out = outDir.resolve("knn").toString
      Aql.run(s,
        s"""CONNECTION 'Docs' (
           |  DRIVER = 'file', FILE = '$dir/documents.parquet',
           |  FORMAT = 'parquet'
           |)
           |QUERY 'Corpus' FROM CONNECTION Docs (
           |  SELECT * FROM Docs WHERE doc_id % 2 = 1
           |)
           |TRANSFORM 'Built' FROM BLOCK Corpus (
           |  INDEX ON text KEY doc_id METHOD LSH THRESHOLD 0.5 CELLS 64
           |    INTO '$idx'
           |) INTO CONSOLE""".stripMargin)
      Aql.run(s,
        s"""CONNECTION 'Docs' (
           |  DRIVER = 'file', FILE = '$dir/documents.parquet',
           |  FORMAT = 'parquet'
           |)
           |CONNECTION 'Out' (
           |  DRIVER = 'file', FILE = '$out', FORMAT = 'parquet'
           |)
           |QUERY 'Batch' FROM CONNECTION Docs (
           |  SELECT * FROM Docs WHERE doc_id % 2 = 0
           |)
           |TRANSFORM 'Knn' FROM BLOCK Batch (
           |  KNN ON text KEY doc_id TOP 10 METHOD JACCARD THRESHOLD 0.5
           |    STORED '$idx'
           |)
           |QUERY 'Final' FROM BLOCK Knn (
           |  SELECT qid, jaccard, rank FROM Knn
           |) INTO CONNECTION Out""".stripMargin).outputs("FINAL")
    },

    // KNN METHOD JACCARD, IN-PLAN (round 14) — q168's retrieval
    // without the artifact: the text-retrieval symmetry with cosine
    // KNN's in-plan EXACT/LSH/IVF forms, for the panel-vs-frame case
    // where persisting an index first is pure overhead. One engine
    // run, two sources: banded candidates between the batch's and
    // corpus's own MinHash band keys (no all-pairs join ever forms —
    // the PlanSpec pin), exact-Jaccard rerank over the in-plan shingle
    // frames, top-10 at the 0.5 grade. Shares q168's brute-force
    // oracle verbatim (same corpus split, same tie-invariant
    // projection), so in-plan and stored serving are pinned to the
    // same ranking by the same SQL truth.
    QueryDef(
      "q170_aql_knn_jaccard_inplan",
      Dedup.jaccardKnnOracleSql) { (s, dir) =>
      val outDir = java.nio.file.Files.createTempDirectory("graft_q170")
      Advanced.registerTmpDir(outDir)
      val out = outDir.resolve("knn").toString
      Aql.run(s,
        s"""CONNECTION 'Docs' (
           |  DRIVER = 'file', FILE = '$dir/documents.parquet',
           |  FORMAT = 'parquet'
           |)
           |CONNECTION 'Out' (
           |  DRIVER = 'file', FILE = '$out', FORMAT = 'parquet'
           |)
           |QUERY 'Batch' FROM CONNECTION Docs (
           |  SELECT * FROM Docs WHERE doc_id % 2 = 0
           |)
           |QUERY 'Corpus' FROM CONNECTION Docs (
           |  SELECT * FROM Docs WHERE doc_id % 2 = 1
           |)
           |TRANSFORM 'Knn' FROM BLOCK Batch, BLOCK Corpus (
           |  KNN Batch WITH Corpus ON text KEY doc_id TOP 10
           |    METHOD JACCARD THRESHOLD 0.5
           |)
           |QUERY 'Final' FROM BLOCK Knn (
           |  SELECT qid, jaccard, rank FROM Knn
           |) INTO CONNECTION Out""".stripMargin).outputs("FINAL")
    },

    // INDEX REBUILD … CELLS — the explicit re-cell statement (round
    // 14): q162's exact chain (build %4==1 at CELLS 64, append %4==3,
    // rebuild, probe, same brute-force oracle) with the rebuild
    // re-celling the artifact to an EXPLICIT 32 — the
    // right-size-ahead-of-growth form the cell-cap warning's remedy
    // names. Cell count is pure layout, so a rebuild that dropped or
    // re-keyed an entry while re-partitioning, or whose new meta
    // mis-routed probes at 32 cells, fails hash-exactly; the meta pin
    // (cells leaves `derived`) is asserted in AqlSpec where meta is
    // inspectable.
    QueryDef(
      "q171_aql_index_rebuild_cells",
      Dedup.againstKeptOracleSql) { (s, dir) =>
      val outDir = java.nio.file.Files.createTempDirectory("graft_q171")
      Advanced.registerTmpDir(outDir)
      val idx = outDir.resolve("band_index").toString
      val out = outDir.resolve("kept").toString
      def corpusScript(slice: Int, appendKw: String) =
        s"""CONNECTION 'Docs' (
           |  DRIVER = 'file', FILE = '$dir/documents.parquet',
           |  FORMAT = 'parquet'
           |)
           |QUERY 'Corpus' FROM CONNECTION Docs (
           |  SELECT * FROM Docs WHERE doc_id % 4 = $slice
           |)
           |TRANSFORM 'Built' FROM BLOCK Corpus (
           |  INDEX ON text KEY doc_id METHOD LSH${
             if (appendKw.isEmpty) " THRESHOLD 0.5 CELLS 64" else ""}
           |    INTO '$idx'$appendKw
           |) INTO CONSOLE""".stripMargin
      Aql.run(s, corpusScript(1, ""))
      Aql.run(s, corpusScript(3, " APPEND"))
      Aql.run(s,
        s"""DATA 'One' ([[1]]) WITH (COLUMNS = 'X')
           |TRANSFORM 'Rebuilt' FROM BLOCK One (
           |  INDEX REBUILD '$idx' CELLS 32
           |) INTO CONSOLE""".stripMargin)
      Aql.run(s,
        s"""CONNECTION 'Docs' (
           |  DRIVER = 'file', FILE = '$dir/documents.parquet',
           |  FORMAT = 'parquet'
           |)
           |CONNECTION 'Out' (
           |  DRIVER = 'file', FILE = '$out', FORMAT = 'parquet'
           |)
           |QUERY 'Batch' FROM CONNECTION Docs (
           |  SELECT * FROM Docs WHERE doc_id % 2 = 0
           |)
           |TRANSFORM 'Kept' FROM BLOCK Batch (
           |  NEARDEDUP Batch AGAINST STORED '$idx' ON text KEY doc_id
           |    THRESHOLD 0.5 METHOD LSH
           |)
           |QUERY 'Final' FROM BLOCK Kept (
           |  SELECT doc_id, lang, source, n_chars FROM Kept
           |) INTO CONNECTION Out""".stripMargin).outputs("FINAL")
    },

    // INDEX MANIFEST → writer commit → record-served probe: q156's
    // build→append shape with an INDEX MANIFEST between build and
    // append (a no-op on the build's readable v1), sharing q151's
    // brute-force oracle. The verb APPEND of the other half then
    // commits the layout record's next version ITSELF
    // (IndexManifest.maintained folds the append's file reports into
    // the prior record and carries the untouched cells over), so the
    // final probe run resolves its routed cells from a WRITER-committed
    // record's explicit file list (ONE small read — no per-cell
    // existence RPCs, no footer-discovery listing, no mixed-cells
    // window). A commit that dropped a carried file, missed an appended
    // one, or mis-parsed a cell id changes the candidate set and fails
    // hash-exactly against the live-layout truth. This is the
    // object-store maintenance design's commit primitive working end to
    // end on the rename path (SCALING.md round 15); AqlSpec pins the
    // mechanics (versions, writer commits incl. COMPACT/REBUILD, the
    // malformed-record error, lock exclusion).
    QueryDef(
      "q174_aql_index_manifest_probe",
      Dedup.againstKeptOracleSql) { (s, dir) =>
      val outDir = java.nio.file.Files.createTempDirectory("graft_q174")
      Advanced.registerTmpDir(outDir)
      val idx = outDir.resolve("band_index").toString
      val out = outDir.resolve("kept").toString
      def corpusScript(parity: Int, appendKw: String) =
        s"""CONNECTION 'Docs' (
           |  DRIVER = 'file', FILE = '$dir/documents.parquet',
           |  FORMAT = 'parquet'
           |)
           |QUERY 'Corpus' FROM CONNECTION Docs (
           |  SELECT * FROM Docs WHERE doc_id % 4 = $parity
           |)
           |TRANSFORM 'Built' FROM BLOCK Corpus (
           |  INDEX ON text KEY doc_id METHOD LSH${
             if (appendKw.isEmpty) " THRESHOLD 0.5 CELLS 64" else ""}
           |    INTO '$idx'$appendKw
           |) INTO CONSOLE""".stripMargin
      Aql.run(s, corpusScript(1, "")) // half the odds build the artifact
      Aql.run(s,
        s"""DATA 'One' ([[1]]) WITH (COLUMNS = 'X')
           |TRANSFORM 'Committed' FROM BLOCK One (
           |  INDEX MANIFEST '$idx'
           |) INTO CONSOLE""".stripMargin)
      // the other half arrives as maintenance: the verb APPEND
      // commits the record's next version as its own last step
      Aql.run(s, corpusScript(3, " APPEND"))
      Aql.run(s,
        s"""CONNECTION 'Docs' (
           |  DRIVER = 'file', FILE = '$dir/documents.parquet',
           |  FORMAT = 'parquet'
           |)
           |CONNECTION 'Out' (
           |  DRIVER = 'file', FILE = '$out', FORMAT = 'parquet'
           |)
           |QUERY 'Batch' FROM CONNECTION Docs (
           |  SELECT * FROM Docs WHERE doc_id % 2 = 0
           |)
           |TRANSFORM 'Kept' FROM BLOCK Batch (
           |  NEARDEDUP Batch AGAINST STORED '$idx' ON text KEY doc_id
           |    THRESHOLD 0.5 METHOD LSH
           |)
           |QUERY 'Final' FROM BLOCK Kept (
           |  SELECT doc_id, lang, source, n_chars FROM Kept
           |) INTO CONNECTION Out""".stripMargin).outputs("FINAL")
    },
  )
}
