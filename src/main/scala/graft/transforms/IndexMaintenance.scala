package graft.transforms

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import TransformParser.TransformError
import VerbSupport.{intOption, spreadForCpu, CosineDefaults}

/** Stored-index build + maintenance surface, extracted from
  * [[TransformParser]] in round 13: the INDEX verb family
  * (build/APPEND/DELETE/COMPACT/REBUILD[/THRESHOLD]/DESCRIBE), the
  * single-writer maintenance lock, the atomic-rename storage contract,
  * and the advisory [[Warnings]] channel the stored-artifact probes
  * share. (The round-13 move also changed DESCRIBE's recompute body —
  * see [[Stats.recount]] for the file-count semantics.) The
  * reference has no stored indexes; this whole surface is the
  * 100 TB-scale extension documented in SURVEY.md §8.
  */
private[graft] object IndexMaintenance {
  /** DESCRIBE's file-growth advisory threshold: a cell whose file
    * count reaches this makes probes pay that many parquet footer
    * reads for the same rows, and the advisory names `INDEX COMPACT`
    * as the remedy. 16 ≈ two weeks of daily appends (each append adds
    * ≤ 1 file per touched cell) — well past the point where footer
    * opens dominate small-cell reads, well before a pathological
    * thousand-file cell.
    */
  private[graft] val CompactAdvisoryFiles = 16L

  /** Advisory warnings the verbs emit at build/probe time — cases where
    * the statement is VALID but its configuration is known to degrade
    * at scale (a derived-bits cosine artifact probed below the
    * derivation's threshold contract; a derived cell count clamped at
    * the 65 536 cap). They go to stderr always, to the engine logger at
    * WARNING level when run under Aql (the hook is installed per run),
    * and into a bounded ring so specs can assert a warning fired
    * without scraping logs. Errors stay errors — a warning is only for
    * configurations that are correct today and slow tomorrow.
    */
  private[graft] object Warnings {
    private val ring =
      new java.util.concurrent.ConcurrentLinkedQueue[String]
    @volatile private[graft] var hook: String => Unit = _ => ()
    def emit(msg: String): Unit = {
      ring.add(msg)
      while (ring.size > 64) ring.poll()
      Console.err.println(s"[graft] WARNING: $msg")
      hook(msg)
    }
    def recent: Seq[String] = ring.toArray(Array.empty[String]).toSeq

    /** Best-effort persistence of a STORED-ARTIFACT warning, so "this
      * artifact has been probed below its contract" is discoverable
      * from INDEX DESCRIBE afterwards — the in-memory ring dies with
      * the probing process, which is never the process that runs
      * DESCRIBE. Written to a SIBLING directory of the artifact
      * ([[probeWarningsDir]]), NOT inside it: probes are lock-free BY
      * CONTRACT, and a write inside the artifact would break the
      * maintenance swaps' safety argument — mkdirs on
      * `<dir>/.probe_warnings` auto-creates `<dir>` itself, so a probe
      * racing INDEX REBUILD's two-rename window could resurrect the
      * live path as a junk directory and the swap-in rename would then
      * move the staged artifact INTO it (Hadoop rename-onto-existing-
      * dir semantics), losing the store. The sibling keeps the
      * artifact byte-read-only to probes (a rebuild also preserves the
      * history — "probed below contract last week" stays visible). One
      * tiny uniquely-named file per event (no renames — safe to race
      * on any store), capped at 64 by deleting oldest; every failure
      * is swallowed, because telemetry must never fail a probe. Each
      * distinct (artifact, message) persists ONCE per process: the
      * messages are configuration statements ("this artifact's derived
      * bits don't fit this ask"), so a streaming job serving thousands
      * of batches records the fact once instead of paying mkdirs +
      * create + listStatus + cap-eviction per batch on the serving hot
      * path — the in-memory [[emit]] still fires per occurrence for
      * specs and logs.
      */
    private val persisted =
      java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

    def persist(conf: org.apache.hadoop.conf.Configuration, base: String,
        msg: String): Unit = try {
      if (!persisted.add(base + "\u0000" + msg)) return
      probeWarningsDir(base).foreach { d =>
        val fs = d.getFileSystem(conf)
        fs.mkdirs(d)
        val f = new org.apache.hadoop.fs.Path(d,
          s"w_${System.currentTimeMillis()}_" +
            java.util.UUID.randomUUID().toString.take(8))
        val out = fs.create(f, false)
        try out.write(msg.getBytes("UTF-8")) finally out.close()
        val all = fs.listStatus(d).map(_.getPath).sortBy(_.getName)
        if (all.length > 64) all.take(all.length - 64)
          .foreach(p => try fs.delete(p, false)
            catch { case _: Throwable => () })
      }
    } catch { case _: Throwable => () }

    /** `<parent>/.probe_warnings_<name>` for an artifact at
      * `<parent>/<name>` — None for a filesystem-root artifact (no
      * parent to write a sibling into; telemetry is skipped).
      */
    def probeWarningsDir(base: String)
        : Option[org.apache.hadoop.fs.Path] = {
      val b = new org.apache.hadoop.fs.Path(base)
      Option(b.getParent)
        .map(p => new org.apache.hadoop.fs.Path(p,
          s".probe_warnings_${b.getName}"))
    }
  }

  /** DESCRIBE's per-cell counters: the live layout recounted, and the
    * fold of a layout — the artifact's record ([[IndexManifest]]) or a
    * recount — into per-cell (files, rows). A routine DESCRIBE folds the
    * record on the driver and runs no job; the [[recount]] job runs only
    * for `INDEX DESCRIBE … VERIFY` and when the record is absent
    * (DESCRIBE's fallback, the snapshot `INDEX MANIFEST` or a first
    * mutation takes).
    */
  private[graft] object Stats {

    /** Every data file of each store in `stores`, with its rows, in ONE
      * Spark job: the live layout, never the record — the truth that
      * VERIFY and an absent record need. A store without data files has
      * no entry.
      *
      * The scan reads ONLY the cell column, with that schema given (no
      * schema-inference job): row counts come from parquet row-group
      * metadata, never data pages. The union of the stores' scans is
      * one narrow job whose partitions each emit (store, cell, file,
      * rows) from the scan's own input_file_name; the driver sums a
      * file's runs. This is the round-12 negative result applied once
      * more: the distributed footer pass beat driver-side parallel
      * footer reads (617 vs 280 s at the 32 768-cell point), and it
      * needs no driver-side RECURSIVE LISTING (on a local fs that
      * listing shell-execs a permission probe per file; on an object
      * store it is a round-trip storm). Hidden/staged paths are skipped
      * by the reader. Files are FILES WITH ≥ 1 ROW (input_file_name
      * only surfaces for files that yield rows) — a zero-row data file
      * carries no entries and no probe cost, and is left out.
      */
    def recount(spark: org.apache.spark.sql.SparkSession, dir: String,
        stores: Seq[(String, String)]): IndexManifest.Layout = {
      import org.apache.hadoop.fs.Path
      val fs = new Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val scans = stores.zipWithIndex.flatMap { case ((sub, cellCol), i) =>
        val root = s"$dir/$sub"
        if (!fs.exists(new Path(root))) None
        else Some(spark.read
          .schema(new StructType().add(cellCol, IntegerType))
          .option("basePath", root).parquet(root)
          .select(lit(i).as("s"), col(cellCol).as("c"),
            input_file_name().as("f")))
      }
      val perFile =
        if (scans.isEmpty) Array.empty[(Int, Int, String, Long)]
        else scans.reduce(_ union _).queryExecution.toRdd
          .mapPartitions(fileRuns).collect()
      perFile.toSeq.groupBy(_._1).map { case (i, runs) =>
        val (sub, cellCol) = stores(i)
        sub -> runs.groupBy(_._2).map { case (cell, rs) =>
          cell -> rs.groupBy(_._3).map { case (f, n) =>
            IndexManifest.relPath(sub, cellCol, cell,
              org.apache.spark.paths.SparkPath.fromUrlString(f).toPath) ->
              n.map(_._4).sum }
        }
      }
    }

    /** One recount partition's (store, cell, file, rows): rows of one
      * file arrive as a run, so only a run's first row copies its file
      * name (the scan reuses its row buffers). A file split across
      * partitions yields one run per split.
      */
    private def fileRuns(
        it: Iterator[org.apache.spark.sql.catalyst.InternalRow])
        : Iterator[(Int, Int, String, Long)] = {
      val out = Seq.newBuilder[(Int, Int, String, Long)]
      var s = -1
      var c = 0
      var f: org.apache.spark.unsafe.types.UTF8String = null
      var n = 0L
      it.foreach { r =>
        if (f != null && r.getInt(0) == s && r.getInt(1) == c &&
            r.getUTF8String(2) == f) n += 1
        else {
          if (f != null) out += ((s, c, f.toString, n))
          s = r.getInt(0); c = r.getInt(1)
          f = r.getUTF8String(2).clone(); n = 1L
        }
      }
      if (f != null) out += ((s, c, f.toString, n))
      out.result().iterator
    }

    /** (cell, files, rows) per present cell of each store, in cell
      * order — the record's or a recount's layout, folded.
      */
    def fold(layout: IndexManifest.Layout)
        : Map[String, Seq[(Int, Long, Long)]] =
      layout.map { case (sub, cells) =>
        sub -> cells.toSeq.map { case (c, files) =>
          (c, files.size.toLong, files.values.sum) }.sortBy(_._1)
      }
  }
  // ----------------------------------------------------------------- INDEX

  /** INDEX ON <col> KEY <keycol> METHOD LSH|IVF|COSINE|TYPO
    *       [THRESHOLD <0-1>] [BANDS <b> ROWS <r>] [CELLS <c>]
    *       [TABLES <t>] [BITS <b>] INTO '<dir>' [APPEND|DELETE]
    *
    * The durable index BUILD step — the language-reachable producer for
    * every stored artifact the probe forms consume (`NEARDEDUP …
    * AGAINST STORED` for LSH/COSINE/TYPO, `KNN … STORED` for IVF).
    * Writes the artifact to the USER-CHOSEN directory `<dir>` — not a
    * self-deleting temp path — so "write once, probe forever" holds
    * across jobs and JVMs: one AQL script builds the corpus index, every
    * later script (batch or streaming) probes the files without ever
    * scanning, shingling, bucketing or assigning the corpus again.
    *
    * Method → artifact (each is the exact layout its probe validates
    * against, shared code with the gate machinery so the verb can never
    * diverge):
    *  - LSH — banded MinHash text index ([[NearDup.bandStoreTo]]):
    *    banding from BANDS/ROWS or auto-chosen from THRESHOLD (default
    *    0.5, the [[NearDup.autoBands]] recall bound); the probe's
    *    banding must match (validated via `meta/`). Corpus texts are
    *    EXACT-FIRST collapsed (one entry per distinct text, keyed by
    *    xxhash64(text)) — membership is all the AGAINST probe asks, and
    *    verification sets are stored as hashed shingles (the q31 key).
    *  - IVF — vector cell index ([[graft.queries.Similarity]]'s
    *    ivfStoreTo, the q136/q147 artifact): KEY becomes the served
    *    vec_id; CELLS defaults to [[IndexGeometry.ivfCells]] = ⌈√n⌉
    *    over the corpus rows (the two-level build quantizer takes over
    *    above 64 cells automatically).
    *  - COSINE — sign-LSH bucket index ([[VecKnn.cosineStoreTo]]):
    *    TABLES defaults to 32; BITS defaults to
    *    [[IndexGeometry.cosineBits]] — 2^bits ∝ distinct entries, the
    *    sizing graft.CosineScale measured flat (a constant bit width
    *    grows probe cost ∝ corpus). Exact-duplicate vectors collapse to
    *    one entry (keyed by xxhash64(v)).
    *  - TYPO — delete-1 variant index ([[NearDup.typoStoreTo]]):
    *    distinct strings keyed by xxhash64(string).
    *
    * CELLS is the artifact's partition-cell count for the non-IVF
    * methods; it defaults to [[IndexGeometry.storeCells]] — cells ∝
    * distinct entries (graft.BandScale's sizing), which keeps a fixed
    * probe batch's scanned ROW count corpus-independent. Deriving needs
    * the entry count before the write, so an un-pinned build pays one
    * extra count job over the collapsed reps — on the build, the one
    * corpus-sized statement of the deployment, never on probes. All
    * derived geometry is frozen into `meta/`; probes adopt it from
    * there (passing TABLES/BITS at probe time is only a cross-check).
    *
    * KEY must name an existing column on every method (symmetry with
    * the probe verbs); for LSH/COSINE/TYPO the stored entries are keyed
    * by content hash (ids never surface from an AGAINST probe), while
    * IVF stores the key itself (KNN returns it as neighbor_id).
    *
    * The build is EAGER (the writes run when the block builds) and the
    * block's output is a one-row summary (path, kind, cells,
    * indexed_rows — the artifact's TOTAL entries after this statement)
    * — pipe it to a console/param destination for logging, or ignore
    * it.
    *
    * `INTO '<dir>' APPEND` is the index-MAINTENANCE form: the block's
    * rows are ADDED to an existing artifact instead of rebuilding it —
    * the growing-corpus story at 100 TB, where re-shingling yesterday's
    * exabyte to ingest today's terabyte is not an option. All geometry
    * (banding, cells, tables/bits, IVF centroids) comes from the
    * artifact's `meta/`, so every geometry option is REJECTED with
    * APPEND (the same algebra as KNN STORED rejecting CELLS), and
    * appending METHOD X onto a kind-Y artifact errors. For LSH, COSINE
    * and TYPO an entry's index rows are pure functions of its own
    * content, so build-then-append is EXACTLY a full build of the union
    * (q156 pins this bit-for-bit against the full-build oracle); IVF
    * appends against the FROZEN centroids (how production IVF ingests —
    * see Similarity.ivfStoreAppend for the drift caveat). Appended rows
    * land as new files in existing cell directories; probe routing is
    * unchanged.
    *
    * `INTO '<dir>' DELETE` completes the maintenance triple: the
    * block's rows are REMOVED from the artifact — the contaminated/
    * opted-out/re-ingested-document path a 100 TB deployment cannot
    * run without (re-shingling the exabyte to forget a terabyte is
    * not an option). Routing reuses each family's own content math
    * (band keys / bucket keys / variant hashes / frozen-centroid
    * assignment — geometry from `meta/`, same option algebra as
    * APPEND), so ONLY the batch's routed cells are rewritten
    * ([[CellStore.delete]]: survivors written beside the cells' files,
    * one layout-record commit; untouched cells are never listed or
    * read) and the cost is
    * governed by the batch, never the index. LSH/COSINE/TYPO deletes
    * are CONTENT-KEYED like their stores — deleting a text/vector
    * removes its membership however many rows or appends carried it
    * (q159 pins the semantics against an oracle that says the same in
    * SQL); IVF deletes by the user's vec_id within the routed cells
    * (FAISS remove_ids semantics — supply the stored vector so the
    * frozen assignment routes to its cell). Centroids, supers and
    * `meta/` are untouched on every family.
    */
  private[transforms] object IndexParser {
    private val Re =
      raw"(?is)^INDEX\s+ON\s+([A-Za-z_]\w*)\s+KEY\s+([A-Za-z_]\w*)\s+METHOD\s+([A-Za-z]+)(?:\s+THRESHOLD\s+([0-9]*\.?[0-9]+))?(?:\s+BANDS\s+(\d+)\s+ROWS\s+(\d+))?(?:\s+CELLS\s+(\d+))?(?:\s+TABLES\s+(\d+))?(?:\s+BITS\s+(\d+))?(?:\s+PQ\s+(\d+))?(?:\s+PQCODES\s+(\d+))?\s+INTO\s+'([^']+)'(?:\s+(APPEND|DELETE))?\s*$$".r
    private val CompactRe =
      raw"(?is)^INDEX\s+COMPACT\s+'([^']+)'\s*$$".r
    private val DescribeRe =
      raw"(?is)^INDEX\s+DESCRIBE\s+'([^']+)'(?:\s+(VERIFY))?\s*$$".r
    private val ManifestRe =
      raw"(?is)^INDEX\s+MANIFEST\s+'([^']+)'\s*$$".r
    private val RebuildRe =
      raw"(?is)^INDEX\s+REBUILD\s+'([^']+)'(?:\s+THRESHOLD\s+([0-9]*\.?[0-9]+))?(?:\s+CELLS\s+(\d+))?(?:\s+TABLES\s+(\d+))?(?:\s+BITS\s+(\d+))?\s*$$".r

    def parse(t: String): Verb = t.trim match {
      case CompactRe(dir) => IndexCompactVerb(dir)
      case DescribeRe(dir, v) => IndexDescribeVerb(dir, v != null)
      case ManifestRe(dir) => IndexManifestVerb(dir)
      case RebuildRe(dir, th, ce, tb, bi) =>
        val t = Option(th).map(_.toDouble)
        t.foreach(v => if (v <= 0 || v > 1) throw TransformError(
          s"INDEX REBUILD THRESHOLD $v out of range (0, 1]"))
        val cells = Option(ce).map(intOption("INDEX REBUILD", "CELLS", _))
        cells.foreach(v => if (v < 1) throw TransformError(
          s"INDEX REBUILD CELLS $v must be >= 1"))
        val tables = Option(tb).map(intOption("INDEX REBUILD", "TABLES", _))
        val bits = Option(bi).map(intOption("INDEX REBUILD", "BITS", _))
        tables.foreach(v => if (v < 1) throw TransformError(
          s"INDEX REBUILD TABLES $v must be >= 1"))
        bits.foreach(v => if (v < 1 || v > 30) throw TransformError(
          s"INDEX REBUILD BITS $v out of range [1, 30]"))
        // one statement, one family: THRESHOLD re-bands lsh_text,
        // TABLES/BITS re-buckets cosine_vec — a statement carrying both
        // could not mean anything against either artifact kind. CELLS
        // is kind-INDEPENDENT (every store is cell-partitioned) and
        // composes with either form.
        if (t.isDefined && (tables.isDefined || bits.isDefined))
          throw TransformError(
            "INDEX REBUILD THRESHOLD (lsh_text re-banding) and " +
              "TABLES/BITS (cosine_vec re-bucketing) are mutually " +
              "exclusive — pick the form matching the artifact kind")
        IndexRebuildVerb(dir, t, tables, bits, cells)
      case Re(on, key, method, th, bands, rows, cells, tables, bits, pq,
          pqCodes, dir, app) =>
        val m = method.toUpperCase
        if (!Set("LSH", "IVF", "COSINE", "TYPO").contains(m))
          throw TransformError(
            s"INDEX METHOD $m unknown (expected LSH, IVF, COSINE or TYPO)")
        val maint = Option(app).map(_.toUpperCase) // APPEND | DELETE
        val append = maint.contains("APPEND")
        val delete = maint.contains("DELETE")
        if (append || delete) // the artifact fixes ALL geometry — the
          // same option algebra as KNN STORED rejecting CELLS: accepting
          // a knob the store overrides would silently lie about what was
          // built (and a DELETE that accepted different geometry would
          // route to the wrong cells and silently delete nothing)
          for ((v, what) <- Seq((th, "THRESHOLD"), (bands, "BANDS/ROWS"),
              (cells, "CELLS"), (tables, "TABLES"), (bits, "BITS"),
              (pq, "PQ"), (pqCodes, "PQCODES")))
            if (v != null) throw TransformError(
              s"INDEX … ${maint.get}: $what comes from the stored " +
                "artifact's meta and cannot be overridden (drop the option)")
        def rejectUnless(meth: String, what: String, v: String): Unit =
          if (v != null && m != meth) throw TransformError(
            s"INDEX $what only applies to METHOD $meth")
        rejectUnless("LSH", "THRESHOLD", th)
        rejectUnless("LSH", "BANDS/ROWS", bands)
        rejectUnless("COSINE", "TABLES", tables)
        rejectUnless("COSINE", "BITS", bits)
        rejectUnless("IVF", "PQ", pq)
        if (pqCodes != null && pq == null) throw TransformError(
          "INDEX PQCODES requires PQ <m> (the codebook width without " +
            "subspaces sizes nothing)")
        val threshold = Option(th).map(_.toDouble).getOrElse(0.5)
        if (threshold <= 0 || threshold > 1) throw TransformError(
          s"INDEX THRESHOLD $threshold out of range (0, 1]")
        val br = (Option(bands), Option(rows)) match {
          case (Some(b), Some(r)) => Some((intOption("INDEX", "BANDS", b),
            intOption("INDEX", "ROWS", r)))
          case _ => None // regex captures BANDS+ROWS together or not at all
        }
        br.foreach { case (b, r) =>
          if (b < 1 || r < 1 || b * r > 128) throw TransformError(
            s"INDEX BANDS $b ROWS $r invalid (need BANDS ≥ 1, ROWS ≥ 1, " +
              "BANDS × ROWS ≤ 128 signature permutations)")
        }
        if (m == "LSH" && br.isEmpty && maint.isEmpty)
          try NearDup.autoBands(threshold)
          catch { // surface the no-config case at parse time, not mid-job
            case e: IllegalArgumentException => throw TransformError(
              s"INDEX METHOD LSH: ${e.getMessage}")
          }
        val ce = Option(cells).map(intOption("INDEX", "CELLS", _))
        ce.foreach(c => if (c < 1) throw TransformError(
          s"INDEX CELLS $c must be >= 1"))
        val tb = Option(tables).map(intOption("INDEX", "TABLES", _))
          .getOrElse(CosineDefaults._1)
        // BITS stays optional through to the build: absent means DERIVE
        // from the corpus's distinct-entry count (IndexGeometry), so the
        // one-line INDEX scales instead of freezing a toy bucket width
        val bi = Option(bits).map(intOption("INDEX", "BITS", _))
        if (tb < 1 || bi.exists(b => b < 1 || b > 30)) throw TransformError(
          s"INDEX TABLES $tb BITS ${bi.getOrElse("")} invalid (need " +
            "TABLES ≥ 1, 1 ≤ BITS ≤ 30)")
        val pqM = Option(pq).map(intOption("INDEX", "PQ", _))
        pqM.foreach(p => if (p < 1 || p > 512) throw TransformError(
          s"INDEX PQ $p must be in [1, 512] subspaces"))
        // PQCODES stays optional through to the build: absent means
        // DERIVE (IndexGeometry.pqCodes — 256 clamped to the corpus)
        // 32 768, not 65 536: code ids are persisted as SMALLINT (one
        // narrow column per candidate is the whole point of PQ), so ids
        // ≥ 32 768 would wrap negative and the probe-time LUT equi-join
        // would silently skip those subspaces — partial ADC sums, wrong
        // shortlists, no error
        val pqK = Option(pqCodes).map(intOption("INDEX", "PQCODES", _))
        pqK.foreach(k => if (k < 2 || k > 32768) throw TransformError(
          s"INDEX PQCODES $k must be in [2, 32768] (code ids are " +
            "stored as SMALLINT)"))
        IndexVerb(on, key, m, dir, threshold, br, ce, tb, bi, append,
          delete, pqM, pqK)
      case _ => throw TransformError(
        "cannot parse INDEX (expected INDEX ON <col> KEY <keycol> " +
          "METHOD LSH|IVF|COSINE|TYPO [THRESHOLD <0-1>] " +
          "[BANDS <n> ROWS <n>] [CELLS <n>] [TABLES <n>] [BITS <n>] " +
          "[PQ <m>] [PQCODES <n>] " +
          "INTO '<dir>' [APPEND|DELETE], INDEX COMPACT '<dir>', " +
          "INDEX DESCRIBE '<dir>' [VERIFY], INDEX MANIFEST '<dir>', " +
          "or INDEX REBUILD '<dir>' " +
          "[THRESHOLD <0-1> | TABLES <n> BITS <n>] [CELLS <n>])")
    }
  }

  /** Shared artifact-layout resolution for the maintenance statements
    * (COMPACT, DESCRIBE): meta row, artifact kind, and the kind's store
    * sub-directories with their cell columns. Mirrors requireKind's
    * back-compat — a pre-kind artifact (meta without the column) is
    * inferred from its store layout instead of throwing an opaque
    * field-not-found error. Centroids/supers/meta are single small
    * files and never append, so they are not listed as stores.
    */
  private def storedIndexLayout(spark: org.apache.spark.sql.SparkSession,
      dir: String, what: String)
      : (org.apache.spark.sql.Row, String, Seq[(String, String)]) = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(s"$dir/meta"))) throw TransformError(
      s"$what: no stored index at $dir")
    val metaRow = MetaParquet.readRow(spark, s"$dir/meta")
    val kind =
      if (metaRow.schema.fieldNames.contains("kind"))
        metaRow.getAs[String]("kind")
      else if (fs.exists(new Path(s"$dir/bands"))) "lsh_text"
      else if (fs.exists(new Path(s"$dir/buckets"))) "cosine_vec"
      else if (fs.exists(new Path(s"$dir/variants"))) "typo_text"
      else if (fs.exists(new Path(s"$dir/index"))) "ivf_vec"
      else throw TransformError(
        s"$what: artifact at $dir predates kind metadata and " +
          "has no recognizable store layout — rebuild it with INDEX … INTO")
    (metaRow, kind, CellStore.storesFor(kind, s"$what: at $dir"))
  }

  /** INDEX DESCRIBE '<dir>' — the operability statement of the
    * maintenance story: an operator running APPEND/DELETE/COMPACT on a
    * shared artifact needs a language-level way to inspect it. One row
    * per store sub-directory answering the operational questions:
    * "what is this?" (kind, geometry — with `derived` naming which
    * fields IndexGeometry sized from the corpus vs. builder pins),
    * "how big?" (entries = store rows; cells_present of cells), "do I
    * need COMPACT?" (multi_file_cells, max_files_per_cell — each
    * APPEND adds one file per touched cell, and a cell reaching
    * [[CompactAdvisoryFiles]] files WARNS naming `INDEX COMPACT` as
    * the remedy), "are my cells skewed?"
    * (rows_min/rows_max/rows_avg per present cell, plus max_cell_skew
    * = rows_max/rows_avg — the factor by which the hottest cell
    * exceeds the balanced share; for ivf_vec index stores a skew ≥ 8
    * additionally WARNS naming `INDEX REBUILD` as the remedy, the
    * DriftScale-measured drift signature made operational), "did this
    * answer come cheap?" (stats_served — true when the row was folded
    * from the artifact's layout record, false when this DESCRIBE paid
    * the ∝-cells full recount; an absent record additionally WARNS
    * naming `INDEX MANIFEST` as the statement that restores it),
    * "are probes record-served?" (manifest_version — the version of the
    * [[IndexManifest]] record probes resolve cells from, 0 when none),
    * "is maintenance
    * running?" (lock_holder — the `.maint_lock` holder line, "" when
    * free; a crashed job's leftover lock shows up here before the
    * operator removes it) and "has anything probed this artifact
    * below its contract?" (probe_warnings count + last_warning — the
    * [[Warnings.persist]] events, e.g. a below-derived-bits cosine
    * probe; the ring a spec asserts dies with the probing process, so
    * the artifact carries its own telemetry). Cost: a routine DESCRIBE
    * reads `meta/` and the layout record on the driver and folds the
    * record's per-file rows into per-cell counters ([[Stats.fold]]) —
    * two small file reads regardless of cell count, and no Spark job.
    * When the record is absent, or under `INDEX DESCRIBE '<dir>'
    * VERIFY`, the full recount runs: ONE footer-only Spark job over
    * every store ([[Stats.recount]]), measured ∝ cells in SCALING.md
    * round 12 (≈ 5 min at half the cell cap on local[32] — the cost the
    * record replaces with a fold of the mutations' own writer reports).
    * The per-cell collect is bounded by the 65 536-cell cap. Read-only —
    * no maintenance lock taken: a record it reads is a whole committed
    * version, and a racing VERIFY sees a mutation's new files beside the
    * ones it supersedes until their delete.
    */
  final case class IndexDescribeVerb(dir: String,
      verify: Boolean = false) extends Verb {
    def build(sources: Map[String, DataFrame], primary: DataFrame)
        : DataFrame = {
      import org.apache.hadoop.fs.Path
      val spark = primary.sparkSession
      val fs = new Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val (metaRow, kind, stores) = storedIndexLayout(spark, dir,
        "INDEX DESCRIBE")
      // the "is maintenance running?" answer: the lock file's holder
      // line, or "" when free (a crashed job's leftover lock is exactly
      // what an operator needs DESCRIBE to show before removing it) —
      // the SIBLING lock since round 14, with the legacy in-artifact
      // location still read so a pre-upgrade crash stays visible
      val lockHolder = maintLockHolder(
        spark.sparkContext.hadoopConfiguration, dir)
      // the layout record: its version is "are probes record-served?"
      // (0 when absent — probes resolve cells from the live layout),
      // and its fold is the per-cell counters below
      val record = IndexManifest.read(spark, dir)
      val manifestVersion = record.map(_.version).getOrElse(0L)
      // "has anything probed this artifact below its contract?" — the
      // persisted Warnings.persist events (count + most recent), read
      // from the artifact's SIBLING warnings dir (probes never write
      // inside the artifact — see Warnings.persist), so a
      // below-derived-bits probe run last week is operationally
      // visible today, and survives a REBUILD
      val (probeWarnings, lastWarning) = {
        val wdOpt = Warnings.probeWarningsDir(dir)
        val wd = wdOpt.orNull
        if (wd == null || !fs.exists(wd)) (0L, "")
        else {
          val files = fs.listStatus(wd).toSeq.map(_.getPath)
            .sortBy(_.getName)
          val last = files.lastOption.map { p =>
            try {
              val in = fs.open(p)
              // explicit UTF-8: persist writes UTF-8 and the platform
              // default here may be ASCII (MalformedInputException)
              try scala.io.Source.fromInputStream(in)(
                scala.io.Codec.UTF8).mkString.trim
              finally in.close()
            } catch { case _: Throwable => "" }
          }.getOrElse("")
          (files.size.toLong, last)
        }
      }
      val cells =
        if (metaRow.schema.fieldNames.contains("cells"))
          metaRow.getAs[Int]("cells")
        else -1
      val derived =
        if (metaRow.schema.fieldNames.contains("derived"))
          metaRow.getAs[String]("derived")
        else "" // pre-derived-flag artifact: geometry was pinned
      // every meta field that isn't identity/bookkeeping, rendered as
      // one "k=v …" string so the schema stays kind-independent
      val geometry = metaRow.schema.fieldNames.toSeq
        .filterNot(Set("kind", "cells", "derived"))
        .map(f => s"$f=${metaRow.getAs[Any](f)}")
        .mkString(" ")
      // Round-12 DESCRIBE cost lesson (SCALING.md): the footer-only
      // recount is measured ∝ cells (exponent 0.93–0.96), so it runs
      // here only as the FALLBACK/VERIFY path; the default folds the
      // record every mutating statement commits — absent means recount,
      // never lie. An absent record WARNs naming the statement that
      // restores it: the artifact predates the record, a build crashed
      // before its commit, or the record was removed. Under VERIFY
      // stats_served is false and no warning fires — the recount was the
      // explicit ask.
      val served = if (verify) None else record
      if (!verify && record.isEmpty)
        Warnings.emit(
          s"INDEX DESCRIBE '$dir': the layout record is absent — this " +
            "DESCRIBE paid the full footer recount (one job over every " +
            "store, ∝ cells) and probes resolve cells from the live " +
            s"layout; run INDEX MANIFEST '$dir' to restore it")
      val statsServed = served.isDefined
      val perStore = Stats.fold(served.map(_.layout)
        .getOrElse(Stats.recount(spark, dir, stores)))
      val rows = stores.flatMap { case (sub, _) =>
        val live = new Path(s"$dir/$sub")
        if (!fs.exists(live)) None
        else {
          val per = perStore.getOrElse(sub, Seq.empty)
          val filesPerCell = per.map(_._2)
          val rowCounts = per.map(_._3)
          val entries = rowCounts.sum
          val rowsAvg =
            if (rowCounts.isEmpty) 0.0
            else entries.toDouble / rowCounts.size
          val rowsMax = if (rowCounts.isEmpty) 0L else rowCounts.max
          // the drift monitor (round 14): the hottest cell's share of
          // the store vs the balanced expectation 1/cells_present —
          // i.e. rows_max/rows_avg, the factor by which a probe routed
          // to that cell scans MORE than the flat-curve promise.
          // Bounded above by cells_present, so a high value always
          // means real concentration, never small-store noise.
          val skew =
            if (rowsAvg <= 0) 0.0
            else math.round(rowsMax / rowsAvg * 100) / 100.0
          Some((dir, kind, sub, cells, per.size.toLong, entries,
            filesPerCell.sum, filesPerCell.count(_ > 1).toLong,
            if (filesPerCell.isEmpty) 0L else filesPerCell.max,
            if (rowCounts.isEmpty) 0L else rowCounts.min,
            rowsMax, rowsAvg, skew, statsServed, manifestVersion,
            geometry, derived, lockHolder, probeWarnings, lastWarning))
        }
      }
      // the drift ADVISORY (round 14, the DriftScale-measured failure
      // mode made operational): drifted IVF appends concentrate into
      // the few frozen cells nearest them, and the cost is probe SCAN
      // MASS ∝ the accumulated drifted fraction until centroids
      // re-train. When the index store's hottest cell crosses 8× the
      // balanced share (DriftScale: a 10% drifted append already
      // reads ≈9×; the isotropic no-drift baseline sits well below),
      // WARN naming the remedy statement — the same
      // warning-names-a-real-statement discipline as the derived-bits
      // serving warning. IVF-only: the hash-partitioned text/cosine
      // stores are balanced by construction, so a warning there would
      // be noise.
      if (kind == "ivf_vec")
        for (r <- rows if r._3 == "index" && r._13 >= 8.0)
          Warnings.emit(
            s"INDEX DESCRIBE '$dir': the hottest index cell holds " +
              s"${r._13}x the balanced per-cell share (rows_max=${r._11} " +
              s"over ${r._5} present cells) — drifted appends are " +
              "concentrating probe scan mass into frozen cells; run " +
              s"INDEX REBUILD '$dir' to re-train centroids and re-balance")
      // the file-growth ADVISORY (same discipline, any kind): every
      // APPEND adds one file per touched cell and a probe pays a
      // parquet footer read PER FILE of each routed cell — the same
      // rows cost max_files_per_cell× the opens until compacted. At
      // 16 (≈ two weeks of daily appends, or 16 streamed microbatches
      // landing in one hot cell) the footer overhead is an order of
      // magnitude over the compacted baseline, so name the remedy.
      for (r <- rows if r._9 >= CompactAdvisoryFiles)
        Warnings.emit(
          s"INDEX DESCRIBE '$dir': store '${r._3}' has a cell with " +
            s"${r._9} files (${r._8} cells hold more than one) — " +
            "probes pay a footer read per file for the same rows; run " +
            s"INDEX COMPACT '$dir' to rewrite multi-file cells")
      import spark.implicits._
      rows.toDF("path", "kind", "store", "cells", "cells_present",
        "entries", "files", "multi_file_cells", "max_files_per_cell",
        "rows_min", "rows_max", "rows_avg", "max_cell_skew",
        "stats_served", "manifest_version", "geometry", "derived",
        "lock_holder", "probe_warnings", "last_warning")
    }
  }

  /** INDEX MANIFEST '<dir>' — the recovery statement of the layout
    * record ([[IndexManifest]]). Every writer commits the record itself
    * (a build `v1`, each mutation the next version), so on a readable
    * record this statement returns it unchanged: no listing, no job, no
    * new version. When the record is absent — the artifact predates it,
    * a build crashed before its commit, or it was removed — or
    * malformed, it snapshots the live layout (one recount job,
    * [[Stats.recount]]) as the next version, after which probes resolve
    * cells from it again and DESCRIBE is served. Runs under the
    * single-writer maintenance lock so the snapshot cannot interleave
    * with a writer's files. Output: (path, kind, version, files).
    */
  final case class IndexManifestVerb(dir: String) extends Verb {
    def build(sources: Map[String, DataFrame], primary: DataFrame)
        : DataFrame = {
      val spark = primary.sparkSession
      val (_, kind, stores) = storedIndexLayout(spark, dir,
        "INDEX MANIFEST")
      val record = withMaintLock(spark, dir, "MANIFEST") {
        val current =
          try IndexManifest.read(spark, dir)
          catch { case _: IndexManifest.Malformed => None }
        current.getOrElse(IndexManifest.snapshot(spark, dir, stores))
      }
      import spark.implicits._
      Seq((dir, kind, record.version, record.files))
        .toDF("path", "kind", "version", "files")
    }
  }

  /** INDEX REBUILD '<dir>' — re-derive the artifact's geometry for its
    * CURRENT size and rebuild it from its own stores, the remedy the
    * two measured maintenance limits call for (SCALING.md round 11):
    * appends outgrow a derived cell count (per-cell rows — probe cost —
    * grow until re-cell'd; `INDEX DESCRIBE`'s rows_avg is the monitor),
    * and drifted IVF appends concentrate into frozen cells (scan mass
    * ∝ drifted fraction until centroids re-train). Per family:
    *  - lsh_text / typo_text: re-CELL — entries are re-partitioned into
    *    a freshly derived cell count (banding / variant algebra is
    *    threshold-shaped, corpus-independent, and for LSH the original
    *    strings are hashed away by design, so band keys are never
    *    recomputed — rows move, content doesn't);
    *  - cosine_vec: full re-bucket from the vectors store (raw vectors
    *    are stored), re-deriving bits AND cells;
    *  - ivf_vec: full re-TRAIN from the index store's vectors — fresh
    *    centroids over the union, the drift remedy itself.
    * Only fields the artifact's `meta/` marks as DERIVED are re-derived
    * (a builder's pinned CELLS/BITS stay pinned — rebuilding still
    * rebalances files and, for IVF, re-trains centroids). Rebuild is
    * CONTENT-PRESERVING: probe answers before == after (the q162 gate
    * pins it against the shared brute-force oracle across the
    * build → append → rebuild → probe chain).
    *
    * `INDEX REBUILD '<dir>' THRESHOLD <t>` (lsh_text only) additionally
    * RE-BANDS the artifact for the new threshold — the one
    * content-CHANGING rebuild form, and the escape hatch the write-once
    * corpus story needs: banding is threshold-shaped, so without this a
    * threshold change forces a rebuild FROM SOURCE, which may no longer
    * exist as a frame. It works because the shingle store persists each
    * entry's full (hashed) shingle set, from which MinHash signatures
    * and band keys are pure recomputations ([[NearDup.bandKeysFromStored]]
    * — applying the signature directly to the stored hashes; re-hashing
    * hashes would band nonsense). New banding = NearDup.autoBands(t)
    * over the artifact's own num_perm; `meta/` records it (probes at
    * the NEW threshold adopt it, probes at the old one now error on the
    * banding mismatch instead of silently missing pairs — q165 pins the
    * re-thresholded artifact against the brute-force oracle AT the new
    * threshold). Non-LSH kinds reject THRESHOLD: their stores are not
    * threshold-shaped.
    *
    * `INDEX REBUILD '<dir>' [TABLES <t>] [BITS <b>]` (cosine_vec only)
    * re-buckets the artifact at EXPLICIT sign-LSH geometry — the
    * cosine analogue of the THRESHOLD re-band, and the statement the
    * derived-bits serving warning points at: a one-line
    * `INDEX … METHOD COSINE` derives bits for dedup-grade similarity
    * (~8 entries/bucket), which a later KNN top-k serve warns about on
    * every probe because moderate-similarity neighbors can be missed.
    * The `vectors/` store persists raw (id, v, nrm), so buckets at ANY
    * geometry are pure recomputations from the artifact alone — no
    * source corpus needed (the write-once story, q165's shape). Fields
    * given are PINNED in `meta/` (they leave the `derived` list, so
    * the serving warning stops firing); fields omitted keep their
    * current value and derivation status. Old-geometry probes keep
    * working because probes always adopt geometry from meta.
    * THRESHOLD and TABLES/BITS are mutually exclusive (one statement,
    * one artifact family); non-cosine kinds reject TABLES/BITS.
    *
    * `INDEX REBUILD '<dir>' … CELLS <n>` (any kind, round 14 —
    * completing the geometry-pinning symmetry) re-cells the artifact
    * at an EXPLICIT cell count and PINS it: the
    * right-size-ahead-of-growth statement the 65 536-cell-cap build
    * warning's remedy names, for the operator who knows tomorrow's
    * corpus today. `cells` leaves the `derived` list (so later
    * derived-geometry rebuilds keep the pin), every store re-partitions
    * at the new count, and answers are pinned unchanged (cell count is
    * pure layout — q171 rides q162's chain + oracle with the explicit
    * count). Composes with THRESHOLD (lsh re-band at a pinned count)
    * and TABLES/BITS (cosine re-bucket likewise); kind-independent
    * because every store is cell-partitioned.
    *
    * Swap: the new artifact is staged COMPLETE as a sibling
    * (`.rebuild_stage_<name>`), then swapped in with two directory
    * renames (live → `.rebuild_old_<name>`, stage → live). Geometry
    * spans every store plus meta, which the layout record that commits
    * APPEND/DELETE/COMPACT does not hold — so the artifact is
    * ABSENT between the two renames and a racing probe fails loudly
    * ("no stored index") rather than silently mis-routing against
    * half-swapped geometry. A crash between the renames self-heals: the
    * next REBUILD restores `.rebuild_old_` before starting — UNDER the
    * lock (round 15), so the self-heal cannot race a live statement's swap
    * and "restore" the doomed old artifact mid-rename; a contender
    * errors naming the holder without touching `.rebuild_old_` (and any
    * maintenance statement in the window reports the artifact missing,
    * pointing at the leftover directories). Runs under the single-writer
    * maintenance lock like every maintenance form — the lock is a
    * SIBLING of the artifact ([[maintLockPath]]), so it survives both
    * renames: the swapped-in artifact stays locked for the statement's
    * tail (a racing streaming append fails fast instead of writing
    * into the doomed `.rebuild_old_`), and a crash between the renames
    * cannot resurrect a stale lock through self-heal. Every store is
    * read from the files the layout record lists (snapshotted first
    * when the artifact has none), so files a failed statement left are
    * not rebuilt into the artifact.
    */
  final case class IndexRebuildVerb(dir: String,
      reThreshold: Option[Double] = None,
      reTables: Option[Int] = None,
      reBits: Option[Int] = None,
      reCells: Option[Int] = None) extends Verb {
    def build(sources: Map[String, DataFrame], primary: DataFrame)
        : DataFrame = {
      import org.apache.hadoop.fs.Path
      requireAtomicRenameFs(dir, "INDEX REBUILD")
      val spark = primary.sparkSession
      val dirPath = new Path(dir)
      val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val parent = dirPath.getParent
      val stage = new Path(parent, s".rebuild_stage_${dirPath.getName}")
      val oldP = new Path(parent, s".rebuild_old_${dirPath.getName}")
      // The WHOLE statement — crash self-heal included — runs under
      // the single-writer lock (round 15): a second REBUILD healing
      // while the first held the lock mid-swap would see
      // live-absent/old-present, "restore" the doomed old artifact
      // between the first's two renames, and make its stage→live
      // rename fail spuriously. A contender errors naming the holder
      // WITHOUT having touched `.rebuild_old_` (AqlSpec pins this).
      withMaintLock(spark, dir, "REBUILD") {
        // self-heal a crashed swap: live absent + old present ⇒ the crash
        // hit between the two renames — restore the prior artifact first;
        // live present + old present ⇒ crash after swap-in, reap the old
        if (!fs.exists(dirPath) && fs.exists(oldP)) {
          if (!fs.rename(oldP, dirPath)) throw new IllegalStateException(
            s"INDEX REBUILD: cannot restore crashed-rebuild artifact " +
              s"$oldP to $dir — restore it manually, then re-run")
        } else if (fs.exists(oldP)) fs.delete(oldP, true)
        if (fs.exists(stage)) fs.delete(stage, true)
        val (metaRow, kind, stores) = storedIndexLayout(spark, dir,
          "INDEX REBUILD")
        if (!metaRow.schema.fieldNames.contains("cells")) throw TransformError(
          s"INDEX REBUILD: artifact at $dir predates cells metadata — " +
            "rebuild it from source with INDEX … INTO")
        if (reThreshold.isDefined && kind != "lsh_text") throw TransformError(
          s"INDEX REBUILD THRESHOLD only applies to lsh_text artifacts " +
            s"(banding is threshold-shaped; the '$kind' store at $dir is " +
            "not) — drop THRESHOLD to rebuild geometry only")
        if ((reTables.isDefined || reBits.isDefined) && kind != "cosine_vec")
          throw TransformError(
            s"INDEX REBUILD TABLES/BITS only applies to cosine_vec " +
              s"artifacts (sign-LSH bucket geometry; the '$kind' store " +
              s"at $dir has none) — drop TABLES/BITS to rebuild geometry " +
              "only")
        val cellsBefore = metaRow.getAs[Int]("cells")
        val derivedSeq =
          if (metaRow.schema.fieldNames.contains("derived"))
            metaRow.getAs[String]("derived").split(",")
              .filter(_.nonEmpty).toSeq
          else Seq.empty
        def reDerive(field: String, old: Int, rule: Long => Int, n: Long)
            : Int = if (derivedSeq.contains(field)) rule(n) else old
        // CELLS given ⇒ re-cell at the EXPLICIT count and PIN it (the
        // field leaves the derived list, exactly as TABLES/BITS pin the
        // cosine geometry) — the right-size-ahead-of-growth statement
        // the 65 536-cell-cap warning's remedy names, kind-independent
        // because every store is cell-partitioned; omitted ⇒ a DERIVED
        // cell count re-derives for the current size, a pinned one stays
        def resolveCells(rule: Long => Int, n: Long): Int =
          reCells.getOrElse(reDerive("cells", cellsBefore, rule, n))
        val derivedMinusCells =
          if (reCells.isDefined) derivedSeq.filterNot(_ == "cells")
          else derivedSeq
        // every store is read from the record's files: files no version
        // lists are a failed statement's, and stay out
        val record = IndexManifest.current(spark, dir, stores)
        def stored(sub: String): DataFrame = {
          val cellCol = stores.toMap.apply(sub)
          val files = record.paths(dir, sub,
            record.layout.getOrElse(sub, Map.empty).keys.toSeq.sorted)
          if (files.isEmpty) throw TransformError(
            s"INDEX REBUILD: artifact at $dir has no entries ($sub is " +
              "empty) — APPEND entries first, or rebuild from source " +
              "with INDEX … INTO")
          MetaParquet.readCells(spark, s"$dir/$sub", cellCol, files)
        }
        val (cellsAfter, entries) = {
          val res: (Int, Long) = kind match {
            case "lsh_text" =>
              val sh = stored("shingles")
                .select(col("id"), col("shs")).localCheckpoint(false)
              val n = sh.count()
              val c = resolveCells(IndexGeometry.storeCells, n)
              // the shingle sets are stored hashed and move as they are;
              // band keys are re-banded from them, or re-celled as stored
              val (bandKeys, meta) = reThreshold match {
                case Some(t) =>
                  // RE-BAND: signatures + band keys are pure functions
                  // of the persisted shingle sets, so a new threshold's
                  // banding recomputes from the artifact alone — the
                  // bands store is REPLACED, not moved
                  val numPerm = metaRow.getAs[Int]("num_perm")
                  val (b, r) =
                    try NearDup.autoBands(t, numPerm)
                    catch { case e: IllegalArgumentException =>
                      throw TransformError(
                        s"INDEX REBUILD THRESHOLD: ${e.getMessage}")
                    }
                  val scheme =
                    if (metaRow.schema.fieldNames
                        .contains("shingle_scheme"))
                      metaRow.getAs[String]("shingle_scheme")
                    else "raw"
                  // banding is auto-chosen from the given threshold —
                  // exactly a fresh `INDEX … THRESHOLD t` build's
                  // derivation, so meta marks bands_rows derived
                  val derivedAfter = (derivedMinusCells :+ "bands_rows")
                    .distinct.mkString(",")
                  (NearDup.bandKeysFromStored(_: DataFrame, scheme, numPerm,
                    b, r),
                    MetaParquet.updated(metaRow, "cells" -> c,
                      "num_bands" -> b, "rows_per_band" -> r,
                      "derived" -> derivedAfter))
                case None =>
                  val bands = stored("bands")
                    .select(col("id"), col("band"), col("bh"))
                  val metaBase = MetaParquet.updated(metaRow, "cells" -> c)
                  // a pinned CELLS leaves the derived list; legacy
                  // pre-derived-flag metas are left schema-unchanged
                  // unless the pin demands the column
                  ((_: DataFrame) => bands,
                    if (reCells.isDefined)
                      MetaParquet.updated(metaBase,
                        "derived" -> derivedMinusCells.mkString(","))
                    else metaBase)
              }
              CellStore.write(stage.toString,
                CellStore.lsh(c, bandKeys, hashShingles = false), sh, c)
              MetaParquet.write(spark, s"$stage/meta", meta)
              (c, n)
            case "typo_text" =>
              val strs = stored("strings")
                .select(col("id"), col("txt")).localCheckpoint(false)
              val n = strs.count()
              val c = resolveCells(IndexGeometry.storeCells, n)
              NearDup.typoStoreTo(stage.toString, strs, c,
                derived = derivedMinusCells)
              (c, n)
            case "cosine_vec" =>
              val vecs = stored("vectors")
                .select(col("id"), col("v"), col("nrm"))
                .localCheckpoint(false)
              val n = vecs.count()
              val c = resolveCells(IndexGeometry.storeCells, n)
              // TABLES/BITS given ⇒ re-bucket at EXPLICIT geometry and
              // PIN it in meta (the field leaves the derived list, so
              // the derived-bits serving warning stops firing — this is
              // the statement that warning's remedy text names). The
              // vectors store holds raw (id, v, nrm), so any geometry
              // is a pure recomputation from the artifact alone —
              // q165's re-band story for the cosine family.
              val bi = reBits.getOrElse(
                reDerive("bits", metaRow.getAs[Int]("bits"),
                  IndexGeometry.cosineBits, n))
              val tb = reTables.getOrElse(metaRow.getAs[Int]("tables"))
              val derivedAfter = derivedMinusCells.filterNot(f =>
                (reBits.isDefined && f == "bits") ||
                  (reTables.isDefined && f == "tables"))
              VecKnn.cosineStoreTo(stage.toString, vecs,
                tb, bi, c, derived = derivedAfter)
              (c, n)
            case "ivf_vec" =>
              val e = stored("index")
                .select(col("vec_id"), col("v"), col("nrm"))
                .localCheckpoint(false)
              val n = e.count()
              val c = resolveCells(IndexGeometry.ivfCells, n)
              // PQ rides the rebuild: codebooks are re-PICKED from the
              // current corpus exactly as centroids re-train (the
              // frozen-codebook drift remedy), with pq_codes re-derived
              // only if the build derived it
              val pqOpt =
                if (metaRow.schema.fieldNames.contains("pq_m"))
                  Some((metaRow.getAs[Int]("pq_m"),
                    reDerive("pq_codes", metaRow.getAs[Int]("pq_codes"),
                      IndexGeometry.pqCodes, n)))
                else None
              graft.queries.Similarity.ivfStoreTo(stage.toString, e, c,
                derived = derivedMinusCells, pq = pqOpt)
              (c, n)
            case other => throw TransformError(
              s"INDEX REBUILD: unknown artifact kind '$other' at $dir")
          }
          // the staged artifact swaps in COMPLETE, its layout record
          // `v1` committed from the stage writes' reports — a crash
          // before the swap leaves the live artifact (and its record)
          // untouched
          // two renames; between them the artifact is absent and a
          // racing probe fails loudly instead of mis-routing
          if (!fs.rename(dirPath, oldP)) throw new IllegalStateException(
            s"INDEX REBUILD: cannot stage out $dir — the rebuild was " +
              s"NOT applied (the staged artifact remains at $stage)")
          // defensive: nothing internal writes into the live path
          // between the two renames (probe warnings go to a SIBLING
          // for exactly this reason — Warnings.persist), so a
          // resurrected live dir means external interference; renaming
          // onto an existing directory would move the staged artifact
          // INTO it (Hadoop semantics) and silently lose the store —
          // fail loudly instead, with both recovery paths named
          if (fs.exists(dirPath)) throw new IllegalStateException(
            s"INDEX REBUILD: $dir reappeared between the swap renames " +
              s"(external writer?) — the prior artifact is at $oldP " +
              s"and the rebuilt one at $stage; remove the junk $dir " +
              "and restore one of them manually")
          if (!fs.rename(stage, dirPath)) {
            val restored = fs.rename(oldP, dirPath)
            throw new IllegalStateException(
              s"INDEX REBUILD: cannot swap the rebuilt artifact into " +
                s"$dir — " + (if (restored)
                  "the prior artifact was restored unchanged"
                else s"and restoring failed: the prior artifact is at " +
                  s"$oldP; restore it manually") +
                s" (the rebuilt artifact remains at $stage)")
          }
          fs.delete(oldP, true)
          res
        }
        import spark.implicits._
        Seq((dir, kind, cellsBefore, cellsAfter, entries))
          .toDF("path", "kind", "cells_before", "cells_after",
            "indexed_rows")
      }
    }
  }

  /** One store's COMPACT listing: one `listStatus` of the store and one
    * per cell dir ([[CellStore.listCells]]; metadata ops ∝ cells, no data
    * read), deleting every file in a cell that `listed` (the store's
    * cells in the layout record) does not name — a crashed statement's
    * files, a losing speculative attempt's, or the superseded files a
    * crash after a commit left. COMPACT holds the lock, so no writer is
    * live, and no version lists them, so no reader reads them.
    */
  private def reclaim(fs: org.apache.hadoop.fs.FileSystem, dir: String,
      sub: String, cellCol: String,
      listed: Map[Int, Map[String, Long]]): Unit =
    for ((c, entries) <- CellStore.listCells(fs,
          new org.apache.hadoop.fs.Path(s"$dir/$sub"), cellCol);
        st <- entries if st.isFile && !listed.getOrElse(c, Map.empty)
          .contains(s"$sub/$cellCol=$c/${st.getPath.getName}"))
      fs.delete(st.getPath, false)

  /** INDEX COMPACT '<dir>' — rewrite MULTI-FILE cells of a stored
    * artifact back to one file per cell. Every `INDEX … APPEND`
    * statement adds one file per touched cell directory (the
    * repartition-then-partitionBy write), so N appends leave N files
    * per cell and probe tasks pay N footer reads where one would do;
    * COMPACT is the maintenance statement that caps that growth — run
    * it on whatever cadence appends accumulate (the small-file
    * compaction every warehouse format schedules, as an explicit
    * language operator). Dirty cells (two or more files) and the file
    * counts come from the layout record, snapshotted first when the
    * artifact has none. Cells already holding ≤ 1 data file are NEVER
    * read or rewritten — so compaction cost is ∝ the cells appends
    * actually dirtied since the last COMPACT, not the artifact size (at
    * 100 TB a full-artifact rewrite per invocation would be a
    * corpus-sized job; the AqlSpec case pins the skip by running
    * COMPACT twice — the second pass rewrites nothing, commits no
    * version, and every file path survives byte-identical). Rows,
    * cells and `meta/` are untouched — probe answers are IDENTICAL
    * before and after (q158 pins this bit-for-bit on the oracle of the
    * build→append→probe chain; the AqlSpec case additionally pins
    * files_after < files_before after a double append). Dirty cells
    * are rewritten through [[CellStore.compact]] (DELETE's rewrite with
    * an identity transform) inside [[IndexManifest.maintained]]: every
    * store's cells written concurrently beside their files, one commit
    * of the next record version, then the superseded files deleted.
    * Before that, COMPACT lists every cell directory once and reclaims
    * the files no version lists ([[reclaim]]). The block's input frame
    * is ignored (the artifact is the operand); output is a one-row
    * summary (path, kind, files_before, files_after), the record's file
    * counts.
    */
  final case class IndexCompactVerb(dir: String) extends Verb {
    def build(sources: Map[String, DataFrame], primary: DataFrame)
        : DataFrame = {
      import org.apache.hadoop.fs.Path
      requireAtomicRenameFs(dir, "INDEX COMPACT")
      val spark = primary.sparkSession
      val fs = new Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val (_, kind, stores) = storedIndexLayout(spark, dir, "INDEX COMPACT")
      val (before, after) = withMaintLock(spark, dir, "COMPACT") {
        // serial: reclaim, then decide from the record whether anything
        // is rewritten at all — an idempotent re-COMPACT must stay a
        // byte-stable no-op, layout record included
        val prior = IndexManifest.current(spark, dir, stores)
        val dirty = stores.map { case (sub, cellCol) =>
          val cells = prior.layout.getOrElse(sub, Map.empty)
          reclaim(fs, dir, sub, cellCol, cells)
          (sub, cellCol,
            cells.collect { case (c, files) if files.size > 1 => c }
              .toSeq.sorted)
        }.filter(_._3.nonEmpty)
        if (dirty.isEmpty) (prior.files, prior.files)
        else {
          val landed = IndexManifest.maintained(spark, dir, stores)(
            CellStore.compact(spark, dir, _, dirty))
          val dropped = for ((sub, l) <- landed.toSeq; c <- l.rewritten)
            yield prior.layout(sub)(c).size.toLong
          (prior.files, prior.files - dropped.sum +
            landed.values.map(_.files.size.toLong).sum)
        }
      }
      import spark.implicits._
      Seq((dir, kind, before, after))
        .toDF("path", "kind", "files_before", "files_after")
    }
  }

  /** Schemes with no atomic rename / create-exclusive contract. The
    * maintenance statements' correctness rests on BOTH: the
    * single-writer `.maint_lock` is an atomic create (or hard link),
    * and each commit — a layout-record version, or REBUILD's artifact
    * swap — is a rename that a racing probe sees entirely or not at
    * all. On S3-style stores neither holds — "rename" is copy+delete
    * and create is last-writer-wins — so two concurrent writers could
    * silently interleave and a probe could read a half-copied record.
    * Refusing with a clear contract statement
    * beats undefined behavior a user only discovers as corruption.
    * Probes and DESCRIBE stay scheme-agnostic: they are read-only.
    */
  private val nonAtomicRenameSchemes = Set(
    "s3", "s3a", "s3n", "gs", "abfs", "abfss", "wasb", "wasbs", "oss",
    "cos", "swift")

  private[graft] def requireAtomicRenameFs(dir: String, what: String)
      : Unit = {
    val scheme = scala.util.Try(
      Option(new java.net.URI(dir).getScheme)).toOption.flatten
      .map(_.toLowerCase).getOrElse("file")
    if (nonAtomicRenameSchemes(scheme)) throw TransformError(
      s"$what: stored-index MAINTENANCE requires atomic-rename storage " +
        s"(HDFS/posix) and $dir is on '$scheme', where rename is " +
        "copy+delete and create is last-writer-wins — the single-writer " +
        "lock and the layout record's commit rename cannot hold. Keep " +
        "maintained artifacts on HDFS-like storage, or rebuild from " +
        "source with " +
        "INDEX … INTO (a plain overwrite) in a scheduled maintenance " +
        "window and copy the finished artifact out")
  }

  /** The artifact's maintenance-lock path: `<parent>/.maint_lock_<name>`
    * for an artifact at `<parent>/<name>` — a SIBLING of the artifact,
    * not a file inside it (round 14, mirroring
    * [[Warnings.probeWarningsDir]]): the lock must survive INDEX
    * REBUILD's two-rename swap. A lock INSIDE the directory rides the
    * live → `.rebuild_old_` rename, leaving the swapped-in artifact
    * unlocked for the statement's tail, and a crash between the
    * renames would have self-heal restore a STALE lock that then
    * blocks the healing rebuild. A filesystem-root artifact has no
    * parent to hold a sibling; the lock degrades to
    * `<dir>/.maint_lock` there (such an artifact cannot be REBUILT
    * anyway — the swap needs the parent for its stage/old siblings).
    */
  private[graft] def maintLockPath(dir: String)
      : org.apache.hadoop.fs.Path = {
    val b = new org.apache.hadoop.fs.Path(dir)
    Option(b.getParent)
      .map(p => new org.apache.hadoop.fs.Path(p,
        s".maint_lock_${b.getName}"))
      .getOrElse(new org.apache.hadoop.fs.Path(b, ".maint_lock"))
  }

  /** The current lock holder's line, or "" when the artifact is
    * unlocked — DESCRIBE's "is maintenance running?" answer, shared
    * with [[withMaintLock]]'s contention error so the two can never
    * report different holders. Checks the sibling lock first, then the
    * legacy in-artifact `<dir>/.maint_lock` (pre-round-14 layout — a
    * crashed old-version job's leftover lock must stay visible, and
    * held, until the operator removes it).
    */
  private[graft] def maintLockHolder(
      conf: org.apache.hadoop.conf.Configuration, dir: String): String = {
    def holderOf(p: org.apache.hadoop.fs.Path): Option[String] = {
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) None
      else Some(
        try {
          val in = fs.open(p)
          try scala.io.Source.fromInputStream(in)(
            scala.io.Codec.UTF8).mkString.trim
          finally in.close()
        } catch { case _: Throwable => "unknown holder" })
    }
    holderOf(maintLockPath(dir))
      .orElse(holderOf(new org.apache.hadoop.fs.Path(s"$dir/.maint_lock")))
      .getOrElse("")
  }

  /** Lock paths held by the CURRENT thread — [[withMaintLock]]'s
    * re-entrancy record, so a verb statement's inner API writer call
    * re-enters instead of self-deadlocking on the statement's own
    * lock. Thread-confined by construction: every maintenance
    * statement runs its writers on the thread that acquired (Spark
    * actions inside fan out to executors, but the DRIVER-side writer
    * sequence is one thread).
    */
  private val heldLocks = new ThreadLocal[Set[String]] {
    override def initialValue(): Set[String] = Set.empty
  }

  /** Single-writer mutual exclusion for stored-index MAINTENANCE —
    * every mutation of an existing artifact, whether issued as a verb
    * statement (APPEND / DELETE / COMPACT / REBUILD) or through the
    * Scala-API writers the streaming ingest path calls per microbatch
    * (every kind's append and delete commit through [[CellStore]],
    * which acquires this lock itself since round 14, so the README's
    * single-writer contract is MECHANICALLY held rather than left to
    * operator discipline; before that, a streaming appender racing
    * REBUILD's two-rename swap could land a microbatch in the doomed
    * `.rebuild_old_` directory and silently lose it). Two concurrent
    * writers interleaving their file writes and record commits on one
    * artifact is undefined, so each acquires the artifact's lock
    * first — an atomic create-if-absent (create-exclusive on HDFS-like
    * schemes; on local filesystems a pre-populated hard link, since
    * Hadoop's LocalFileSystem create is exists-then-create and not
    * atomic; object-store schemes with NEITHER primitive are refused
    * before any work — [[requireAtomicRenameFs]]), held for the
    * statement and released on every exit path. Acquisition is
    * RE-ENTRANT per thread (the verb statement holds the lock when its
    * inner API writer re-acquires — one file create per statement, or
    * per microbatch on the streaming path). Contention is a clear
    * error naming the holder, not a corrupted artifact. The lock
    * guards WRITERS against each other only: probes stay lock-free —
    * a probe reads one committed version of the layout record, so it
    * sees every cell before or after a mutation, never a mix; a
    * mutation that commits while the probe runs may delete a file the
    * probe named, and the probe then fails rather than answer from two
    * versions. A crashed maintenance job leaves the lock
    * behind by design — the error tells the operator to verify no job
    * is running and remove it (a TTL that silently self-expired
    * mid-job would be worse than the ask).
    */
  private[graft] def withMaintLock[A](
      spark: org.apache.spark.sql.SparkSession,
      dir: String, what: String)(f: => A): A = {
    requireAtomicRenameFs(dir, s"INDEX … $what")
    import org.apache.hadoop.fs.Path
    val lock = maintLockPath(dir)
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val reentryKey = fs.makeQualified(lock).toString
    if (heldLocks.get.contains(reentryKey)) return f
    val holderLine = s"$what @ ${java.time.Instant.now()}\n"
    def contended(at: Path): Nothing = {
      val holder = {
        val h = maintLockHolder(
          spark.sparkContext.hadoopConfiguration, dir)
        if (h.isEmpty) "unknown holder" else h
      }
      throw TransformError(
        s"INDEX … $what: stored-index maintenance is single-writer " +
          s"and $at is held ($holder) — wait for the running " +
          "APPEND/DELETE/COMPACT/REBUILD (or streaming ingest batch) " +
          "to finish, or if it crashed, verify no job is running and " +
          "remove the lock file")
    }
    def contendedHere(): Nothing = contended(lock)
    // legacy in-artifact lock (pre-round-14 layout): never written by
    // this version, but a crashed old-version job's leftover lock must
    // still exclude new writers until the operator removes it
    val legacy = new Path(s"$dir/.maint_lock")
    if (fs.exists(legacy)) contended(legacy)
    def withHeld(body: => A): A = {
      heldLocks.set(heldLocks.get + reentryKey)
      try body finally heldLocks.set(heldLocks.get - reentryKey)
    }
    val qlock = fs.makeQualified(lock)
    if (qlock.toUri.getScheme == "file") {
      // Hadoop's LocalFileSystem create(…, overwrite=false) is an
      // exists-check-then-create — NOT atomic — so on local
      // filesystems acquire via link(2) instead: pre-populate a unique
      // temp file with the holder line, then hard-link it to
      // .maint_lock. link fails with EEXIST when held (atomic in the
      // kernel), and a won lock appears atomically WITH its holder
      // content, so a contender can never observe an empty lock.
      import java.nio.file.{Files, Paths, FileAlreadyExistsException}
      val lockNio = Paths.get(qlock.toUri.getPath)
      Files.createDirectories(lockNio.getParent)
      val tmp = lockNio.resolveSibling(
        s".maint_lock_tmp_${java.util.UUID.randomUUID()}")
      Files.write(tmp, holderLine.getBytes("UTF-8"))
      try {
        try Files.createLink(lockNio, tmp)
        catch { case _: FileAlreadyExistsException => contendedHere() }
      } finally Files.deleteIfExists(tmp)
      withHeld(try f finally Files.deleteIfExists(lockNio))
    } else {
      // HDFS-like schemes: create(…, overwrite=false) IS atomic. The
      // holder line follows on the same stream (closed on every path);
      // a contender racing the create-to-write window reads
      // "unknown holder", which is honest.
      val out =
        try fs.create(lock, false)
        catch { case _: java.io.IOException => contendedHere() }
      try out.write(holderLine.getBytes("UTF-8"))
      finally out.close()
      withHeld(try f finally fs.delete(lock, false))
    }
  }

  final case class IndexVerb(onCol: String, key: String, method: String,
      dir: String, threshold: Double, bandsRows: Option[(Int, Int)],
      cells: Option[Int], tables: Int, bits: Option[Int],
      append: Boolean = false, delete: Boolean = false,
      pqM: Option[Int] = None, pqCodes: Option[Int] = None) extends Verb {

    def build(sources: Map[String, DataFrame], primary: DataFrame): DataFrame = {
      def named(n: String): StructField =
        primary.schema.find(_.name.equalsIgnoreCase(n)).getOrElse(
          throw TransformError(s"INDEX: unknown column $n"))
      named(key) // must exist on every method (see scaladoc)
      val onField = named(onCol)
      val spark = primary.sparkSession
      val par = spark.sparkContext.defaultParallelism
      val maintWord = if (append) "APPEND" else "DELETE"
      // APPEND/DELETE pre-flight: a clear error beats Spark's "path does
      // not exist" mid-job — and the artifact's meta supplies the cell
      // count for the summary row (the maintenance writers re-read it
      // for their own geometry + kind validation)
      val appendMeta: Option[org.apache.spark.sql.Row] =
        if (!append && !delete) None
        else {
          // scheme check FIRST: on an object store the meta read below
          // might work fine and the statement would only fall over (or
          // worse, silently interleave) at the lock/swap
          requireAtomicRenameFs(dir, s"INDEX … $maintWord")
          val mp = new org.apache.hadoop.fs.Path(s"$dir/meta")
          val fs = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
          if (!fs.exists(mp)) throw TransformError(
            s"INDEX … $maintWord: no stored index at $dir (build one " +
              "first with INDEX … INTO)")
          Some(MetaParquet.readRow(spark, s"$dir/meta"))
        }
      // cells: meta for maintenance, the user's pin for a fresh build,
      // else DERIVED from the corpus's distinct-entry count (the
      // IndexGeometry rules the scale harnesses measured flat) — a
      // constant default would hand big corpora a probe cost growing
      // ∝ corpus. Deriving needs the entry count BEFORE the store
      // write, so the auto path checkpoints the collapsed reps and
      // counts them (one extra narrow job on the one corpus-sized
      // statement of the deployment — the build — never on probes).
      val metaCells = appendMeta.map(_.getAs[Int]("cells"))
      // a derivation that HITS the cell cap has left cells ∝ corpus
      // territory: per-cell rows resume growing with the corpus, so the
      // probe cost the flat curves promise no longer holds — tell the
      // user at build time, not after probes degrade
      def capWarn(n: Long, c: Int): Int = {
        if (c == IndexGeometry.maxCells) Warnings.emit(
          s"INDEX INTO '$dir': derived cell count hit the " +
            s"${IndexGeometry.maxCells} cap at $n entries — past the " +
            "cap per-cell rows grow with the corpus and probe cost " +
            "with them; pin CELLS explicitly and shard the artifact " +
            "across multiple INDEX statements at this scale")
        c
      }
      def resolveCells(reps: DataFrame, derive: Long => Int)
          : (DataFrame, Int) =
        metaCells.orElse(cells) match {
          case Some(c) => (reps, c)
          case None =>
            val r = reps.localCheckpoint(false)
            val n = r.count()
            (r, capWarn(n, derive(n)))
        }
      // meta's derived-vs-pinned record (ask: an operator reading an
      // artifact must be able to tell whether its geometry was sized
      // by IndexGeometry or pinned by the builder)
      def derivedFields(moreDerived: (String, Boolean)*): Seq[String] =
        (Seq("cells" -> cells.isEmpty) ++ moreDerived)
          .collect { case (f, true) => f }
      // Returns (kind, entries store path, cell count, touched cells):
      // APPEND/DELETE writers hand back their own routing — and have
      // already folded their reports into the layout record
      // (IndexManifest.maintained, under this statement's re-entrant
      // lock); builds return empty, their stores having committed the
      // record's v1 from the write reports
      def writeStores(): (String, String, Int, Map[String, Seq[Int]]) =
        method match {
        case "LSH" =>
          if (onField.dataType != StringType) throw TransformError(
            s"INDEX METHOD LSH ON ${onField.name} must be string, got " +
              onField.dataType.simpleString)
          // EXACT-FIRST: one entry per distinct text (membership is all
          // an AGAINST probe asks), keyed by the text hash — the same
          // collapse the two-source AGAINST applies to its corpus side
          // distinct on (th, txt) — a pure HashAggregate (th determines
          // txt), not the SortAggregate a first(txt) buffer would force
          // on every index build
          val reps = spreadForCpu(primary,
              primary.select(xxhash64(col(onField.name)).as("th"),
                col(onField.name).as("txt")))
            .distinct()
            .repartition(par)
          val sh0 = NearDup.shingled(reps, "th", "txt")
          val (cc, tch) =
            if (delete) (metaCells.get, NearDup.bandStoreDelete(dir, sh0))
            else if (append) (metaCells.get, NearDup.bandStoreAppend(dir, sh0))
            else {
              // count the SHINGLED entries (short texts never store)
              val (sh, c) = resolveCells(sh0, IndexGeometry.storeCells)
              val (b, r) = bandsRows.getOrElse(NearDup.autoBands(threshold))
              NearDup.bandStoreTo(dir, sh, numPerm = b * r, numBands = b,
                rowsPerBand = r, cells = c,
                derived = derivedFields(
                  "bands_rows" -> bandsRows.isEmpty))
              (c, Map.empty[String, Seq[Int]])
            }
          ("lsh_text", s"$dir/shingles", cc, tch)
        case "IVF" =>
          // mirrors the q136 store's frame prep (Similarity.ivfStore) so
          // an INDEX-built artifact serves byte-identical answers
          val e = spreadForCpu(primary,
              primary.select(col(named(key).name).as("vec_id"),
                col(onField.name).cast("array<double>").as("v")))
            .withColumn("nrm", graft.functions.Vectors.l2norm(col("v")))
            .localCheckpoint(false)
          val (ivfCc, ivfTch) =
            if (delete)
              (metaCells.get, graft.queries.Similarity.ivfStoreDelete(dir, e))
            else if (append)
              (metaCells.get, graft.queries.Similarity.ivfStoreAppend(dir, e))
            else {
              // e is already checkpointed, so the derive-count is cheap
              val needN = cells.isEmpty ||
                (pqM.isDefined && pqCodes.isEmpty)
              val n = if (needN) e.count() else 0L
              val c = cells.getOrElse(capWarn(n, IndexGeometry.ivfCells(n)))
              // PQ pre-flight: a clear parse-adjacent error beats the
              // engine's require() mid-write. The subspace count must
              // divide the corpus's vector dimension.
              val pqOpt = pqM.map { pm =>
                val dim = e.select(size(col("v")).as("d")).limit(1)
                  .collect().headOption.map(_.getInt(0)).getOrElse(
                    throw TransformError(
                      "INDEX … PQ: cannot derive the subspace width " +
                        "from an empty corpus"))
                if (dim % pm != 0) throw TransformError(
                  s"INDEX PQ $pm must divide the vector dimension $dim " +
                    s"(got remainder ${dim % pm})")
                (pm, pqCodes.getOrElse(IndexGeometry.pqCodes(n)))
              }
              graft.queries.Similarity.ivfStoreTo(dir, e, c,
                derived = derivedFields(
                  "pq_codes" -> (pqM.isDefined && pqCodes.isEmpty)),
                pq = pqOpt)
              (c, Map.empty[String, Seq[Int]])
            }
          ("ivf_vec", s"$dir/index", ivfCc, ivfTch)
        case "COSINE" =>
          onField.dataType match {
            case ArrayType(FloatType | DoubleType, _) => ()
            case other => throw TransformError(
              s"INDEX METHOD COSINE ON ${onField.name} must be " +
                s"array<float|double>, got ${other.simpleString}")
          }
          // degenerate vectors (null/empty/zero/NaN/Inf norm) leave the
          // index exactly as they leave every cosine probe side — they
          // can never verify, so storing them would only add dead bytes
          val vf = spreadForCpu(primary,
              primary.select(col(onField.name).cast("array<double>").as("v")))
            .where(col("v").isNotNull && size(col("v")) > 0)
            .withColumn("nrm", graft.functions.Vectors.l2norm(col("v")))
            .where(col("nrm") > 0 && !isnan(col("nrm")) &&
              col("nrm") < lit(Double.PositiveInfinity))
          val reps = vf.withColumn("vh", xxhash64(col("v")))
            .select(col("vh"), col("v"), col("nrm")).distinct()
            .select(col("vh").as("id"), col("v"), col("nrm"))
            .repartition(par)
          val (cosCc, cosTch) =
            if (delete) (metaCells.get, VecKnn.cosineStoreDelete(dir, reps))
            else if (append)
              (metaCells.get, VecKnn.cosineStoreAppend(dir, reps))
            else {
              // BITS derives with cells when absent: 2^bits ∝ entries is
              // what CosineScale measured flat (fixed bits grew +0.36)
              val needN = bits.isEmpty || cells.isEmpty
              val (r2, n) =
                if (needN) {
                  val r = reps.localCheckpoint(false); (r, r.count())
                } else (reps, 0L)
              val c = cells.getOrElse(capWarn(n, IndexGeometry.storeCells(n)))
              val bi = bits.getOrElse(IndexGeometry.cosineBits(n))
              VecKnn.cosineStoreTo(dir, r2, tables, bi, c,
                derived = derivedFields("bits" -> bits.isEmpty))
              (c, Map.empty[String, Seq[Int]])
            }
          ("cosine_vec", s"$dir/vectors", cosCc, cosTch)
        case "TYPO" =>
          if (onField.dataType != StringType) throw TransformError(
            s"INDEX METHOD TYPO ON ${onField.name} must be string, got " +
              onField.dataType.simpleString)
          val reps = spreadForCpu(primary,
              primary.select(col(onField.name).as("txt")))
            .where(col("txt").isNotNull).distinct()
            .select(xxhash64(col("txt")).as("id"), col("txt"))
            .repartition(par)
          val (typoCc, typoTch) =
            if (delete) (metaCells.get, NearDup.typoStoreDelete(dir, reps))
            else if (append)
              (metaCells.get, NearDup.typoStoreAppend(dir, reps))
            else {
              val (r2, c) = resolveCells(reps, IndexGeometry.storeCells)
              NearDup.typoStoreTo(dir, r2, c, derived = derivedFields())
              (c, Map.empty[String, Seq[Int]])
            }
          ("typo_text", s"$dir/strings", typoCc, typoTch)
        case other => throw new IllegalStateException(
          s"INDEX METHOD $other unreachable (parser validates)")
      }
      // maintenance serializes on the artifact's lock; fresh builds
      // don't lock (overwrite is the statement's whole point, and two
      // concurrent builds into one dir is the same user error as two
      // concurrent non-index writes to one path)
      // the summary row's entry count is folded from the layout record
      // every writer commits from its own file reports (a build's v1,
      // a mutation's next version) — a driver-side read, no Spark job.
      // Only a batch with nothing indexable against an artifact without
      // a record leaves none: the record is snapshotted then, under the
      // same lock.
      def writeAndCount(): (String, Int, Long) = {
        val (kind, entriesPath, cellCount, _) = writeStores()
        val record = IndexManifest.current(spark, dir,
          CellStore.storesFor(kind, s"INDEX INTO '$dir'"))
        val entriesSub =
          new org.apache.hadoop.fs.Path(entriesPath).getName
        val n = record.layout.getOrElse(entriesSub, Map.empty)
          .valuesIterator.flatMap(_.valuesIterator).sum
        (kind, cellCount, n)
      }
      val (kind, cellCount, entryCount) =
        if (append || delete) withMaintLock(spark, dir, maintWord)(
          writeAndCount())
        else writeAndCount()
      import spark.implicits._
      Seq((dir, kind, cellCount, entryCount))
        .toDF("path", "kind", "cells", "indexed_rows")
    }
  }

}
