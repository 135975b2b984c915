package graft.transforms

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Versioned file manifest for stored-index artifacts — the
  * metadata-pointer commit pattern (Delta/Iceberg's log, reduced to this
  * engine's needs) that takes probe-side cell resolution off directory
  * listing, and the round-15 foundation of the object-store maintenance
  * path SCALING.md §"Round 15" designs.
  *
  * Layout: `<dir>/manifest/v<0-padded version>.txt`, one UTF-8 text
  * object per committed version. Line 1 is the format header
  * (`graft-index-manifest 1`); every further line is one live data
  * file's path RELATIVE to the artifact root, e.g.
  * `bands/pc=3/part-00007-….parquet`. The cell id is recoverable from
  * the second path segment (`<pcol>=<cell>`), so one flat file list
  * serves every store of the artifact. Readers resolve the CURRENT
  * manifest by listing `<dir>/manifest/` and taking the
  * lexicographically-last `v*` name (zero-padded ⇒ lexical = numeric) —
  * one small-object read regardless of cell count.
  *
  * Consistency contract (round 15):
  *  - A manifest PRESENT is exact: every mutation invalidates it before
  *    touching rows ([[IndexMaintenance.Stats.invalidate]] drops stats
  *    AND manifest at one choke point every writer already runs), the
  *    same absent-never-stale discipline stats follow. A crashed writer
  *    leaves the manifest absent, and probes fall back to the live
  *    directory layout — the honest path, never a stale file list.
  *  - MAINTAINED when present (the stats discipline again): a mutation
  *    whose artifact carried a committed manifest re-publishes it as
  *    its last step under the same lock — incrementally for the
  *    batch-shaped writers ([[republishTouched]]: touched cells
  *    re-listed, the rest carried over; API append/delete via
  *    [[IndexMaintenance.Stats.mergeForWriter]], COMPACT with its
  *    dirty set) and as a fresh full snapshot after REBUILD's swap. So
  *    probes stay manifest-served across maintenance — including
  *    streaming ingest — and the absent window spans one statement,
  *    not operator reaction time. An artifact never published stays
  *    manifest-free (writers maintain, they don't opt the operator
  *    in).
  *  - Publication (`INDEX MANIFEST '<dir>'`, [[IndexManifest.publish]])
  *    runs under the single-writer maintenance lock, snapshots the live
  *    layout, stages the version file COMPLETE, and commits it with one
  *    rename — a racing reader sees the previous version or the new
  *    one, never a truncated list (a half-read manifest would silently
  *    drop candidate files, which is worse than failing).
  *  - REBUILD needs no special case: the manifest lives INSIDE the
  *    artifact, so the two-rename swap carries it into the reaped
  *    `.rebuild_old_` and the rebuilt artifact starts manifest-absent.
  *
  * Why this matters at 100 TB: probes on a manifest-committed artifact
  * read ONE small object and then open exactly the listed parquet files
  * — no per-cell existence RPCs, no directory listing (the BandScale-
  * measured metadata pass that grew with the index), and no mixed-cells
  * window during maintenance (a manifest version is a consistent
  * snapshot by construction, where the lock-free probe contract on the
  * live layout only promises per-cell atomicity). On object stores the
  * same shape is the WHOLE plan: S3-style stores have no atomic rename
  * for data directories, but a one-object manifest commits with a
  * conditional put — the writers already maintain the manifest on
  * rename-capable filesystems (see the contract below); round 16 swaps
  * [[republishTouched]]'s rename commit for a conditional put and
  * relaxes the object-store maintenance refusal. The read side is
  * already scheme-agnostic.
  */
object IndexManifest {

  private val Header = "graft-index-manifest 1"

  /** Parsed-manifest cache, keyed by the version file's (qualified
    * path, modification time, length) — the identity the directory
    * listing already paid for. Version files are immutable once
    * committed (staged complete, renamed in, never rewritten — a
    * re-publication is a NEW version), but the version NUMBER alone is
    * not an identity: REBUILD's swap and an out-of-band manifest
    * removal restart the numbering at v1, so two incarnations of an
    * artifact can both carry a v1 with different contents — the
    * modtime+length in the key makes the restarted file a cache miss
    * (and an in-place tamper of a committed file, which changes both,
    * re-parse and fail loudly rather than serve the stale parse).
    * Invalidation needs no hooks: an invalidated artifact has no
    * current version to look up. This is what keeps the probe-side
    * manifest read ∝ ONE listing per probe instead of ∝ manifest
    * bytes — the serving hot path re-parses only when the current
    * version file actually changed. Bounded LRU of 8 (a JVM serves a
    * handful of artifacts, and one entry can reach
    * manifest-at-the-cell-cap size, so the bound stays small),
    * synchronized — touched once per probe, not per row.
    */
  private val parseCache =
    new java.util.LinkedHashMap[(String, Long, Long),
        Map[String, Map[Int, Seq[String]]]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long, Long),
            Map[String, Map[Int, Seq[String]]]]): Boolean = size() > 8
    }

  private[graft] def manifestDir(base: String): Path =
    new Path(base, "manifest")

  /** Drop every committed version — called (via
    * [[IndexMaintenance.Stats.invalidate]]) as the first step of every
    * row-writing mutation, so a manifest can be absent but never stale.
    * Version files are deleted NEWEST-first, so a lock-free reader
    * racing the sweep can only land on an older committed version
    * (still a consistent snapshot of a pre-mutation layout), never a
    * half-deleted newest one. The `.committed` marker SURVIVES: it
    * records that an operator opted this artifact into the manifest
    * contract, which is what lets DESCRIBE tell a crashed writer's
    * absent-manifest degradation (marker present, no versions — WARN
    * naming `INDEX MANIFEST` as the restore) apart from an artifact
    * never published or deliberately opted out by removing the whole
    * `manifest/` dir (no marker — silent, the opt-in discipline).
    */
  def invalidate(conf: org.apache.hadoop.conf.Configuration,
      base: String): Unit = {
    val d = manifestDir(base)
    val fs = d.getFileSystem(conf)
    if (fs.exists(d))
      fs.listStatus(d).toSeq
        .filter(st => st.getPath.getName.startsWith("v") &&
          st.getPath.getName.endsWith(".txt"))
        .sortBy(_.getPath.getName).reverse
        .foreach(st => fs.delete(st.getPath, false))
    ()
  }

  /** Has this artifact ever committed a manifest (and not deliberately
    * opted out by removing `manifest/` wholesale)? DESCRIBE's
    * degradation signal: true + no current version = a writer crashed
    * between invalidate and re-publication.
    */
  def wasCommitted(spark: SparkSession, base: String): Boolean = {
    val p = new Path(manifestDir(base), ".committed")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The current (highest-version) manifest file's status, or None —
    * the listing's FileStatus carries the modtime+length the parse
    * cache keys on, so cache identity costs no extra RPC.
    */
  private def currentVersion(
      fs: org.apache.hadoop.fs.FileSystem, base: String)
      : Option[(Long, org.apache.hadoop.fs.FileStatus)] = {
    val d = manifestDir(base)
    if (!fs.exists(d)) None
    else fs.listStatus(d).toSeq
      .filter(st => st.getPath.getName.startsWith("v") &&
        st.getPath.getName.endsWith(".txt"))
      .flatMap { st =>
        scala.util.Try(
          st.getPath.getName.stripPrefix("v").stripSuffix(".txt").toLong)
          .toOption.map(_ -> st)
      }
      .sortBy(_._1).lastOption
  }

  /** The committed manifest version serving probes right now, or None —
    * DESCRIBE's "are probes manifest-served?" answer.
    */
  def version(spark: SparkSession, base: String): Option[Long] = {
    val fs = new Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    currentVersion(fs, base).map(_._1)
  }

  /** Read the current manifest: store → cell → relative file paths.
    * None when no manifest is committed (probes fall back to the live
    * directory layout). A malformed manifest is an ERROR, not a silent
    * fallback — it means external interference with a committed
    * snapshot, and probing the live layout could silently disagree
    * with what the operator believes is pinned.
    */
  def read(spark: SparkSession, base: String)
      : Option[Map[String, Map[Int, Seq[String]]]] =
    readVersioned(spark, base).map(_._2)

  /** [[read]] plus the committed version it came from — the writers'
    * entry point ([[republishTouched]] commits version + 1).
    *
    * A read racing an invalidation (the version file vanishing between
    * the listing and the open) resolves to None — the mutation won and
    * probes take the live-layout fallback, exactly as a lock-free
    * DESCRIBE racing a stats refresh does. Only a manifest that is
    * PRESENT and well-formed serves; a present-but-malformed one still
    * errors loudly (external tampering, [[read]]'s contract).
    */
  def readVersioned(spark: SparkSession, base: String)
      : Option[(Long, Map[String, Map[Int, Seq[String]]])] = try {
    val fs = new Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    currentVersion(fs, base).map { case (v, st) =>
      val key = (fs.makeQualified(st.getPath).toString,
        st.getModificationTime, st.getLen)
      val cached = parseCache.synchronized {
        Option(parseCache.get(key))
      }
      v -> cached.getOrElse {
        val parsed = parseVersionFile(fs, base, v, st.getPath)
        parseCache.synchronized {
          parseCache.put(key, parsed)
        }
        parsed
      }
    }
  } catch { case _: java.io.FileNotFoundException => None }

  private def parseVersionFile(fs: org.apache.hadoop.fs.FileSystem,
      base: String, v: Long, p: Path)
      : Map[String, Map[Int, Seq[String]]] = {
      val lines = {
        val in = fs.open(p)
        try scala.io.Source.fromInputStream(in)(scala.io.Codec.UTF8)
          .getLines().toVector
        finally in.close()
      }
      if (lines.isEmpty || lines.head != Header)
        throw new IllegalStateException(
          s"stored-index manifest $p (version $v) is malformed " +
            s"(bad header '${lines.headOption.getOrElse("")}') — " +
            "remove <dir>/manifest to fall back to the live layout, " +
            s"or re-publish with INDEX MANIFEST '$base'")
      lines.tail.filter(_.nonEmpty).groupBy(rel => rel.split('/').head)
        .map { case (store, rels) =>
          store -> rels.groupBy { rel =>
            val seg = rel.split('/')(1)
            val eq = seg.indexOf('=')
            if (eq < 0) throw new IllegalStateException(
              s"stored-index manifest $p: line '$rel' has no " +
                "<pcol>=<cell> segment — the manifest was edited or " +
                s"corrupted; re-publish with INDEX MANIFEST '$base'")
            seg.substring(eq + 1).toInt
          }.map { case (c, rs) => c -> rs.toSeq.sorted }
        }
  }

  /** Probe-side resolution: the wanted cells of `<base>/<store>` as
    * explicit live-data-file paths from the current manifest, or None
    * when no manifest is committed. Cells absent from the manifest had
    * no rows at publish time and are skipped (same contract as a
    * missing cell directory). This is what replaces the per-cell
    * existence RPCs AND the parquet footer discovery listing on a
    * manifest-committed artifact.
    */
  def cellFiles(spark: SparkSession, storeRoot: Path,
      wanted: Seq[Int]): Option[Seq[String]] = {
    val base = Option(storeRoot.getParent).map(_.toString)
      .getOrElse(return None)
    val store = storeRoot.getName
    read(spark, base).map { m =>
      val cells = m.getOrElse(store, Map.empty)
      wanted.flatMap(c => cells.getOrElse(c, Seq.empty))
        .map(rel => new Path(base, rel).toString)
    }
  }

  /** Snapshot the artifact's CURRENT live layout as the next manifest
    * version. Caller holds the maintenance lock (the verb acquires it),
    * so the listing cannot interleave with a writer's cell swap. Stage
    * + one rename keeps racing readers on whole versions. Returns
    * (version, files listed).
    */
  def publish(spark: SparkSession, base: String,
      stores: Seq[(String, String)]): (Long, Long) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val basePath = new Path(base)
    val fs = basePath.getFileSystem(conf)
    val relFiles = Seq.newBuilder[String]
    for ((store, pcol) <- stores) {
      val root = new Path(basePath, store)
      if (fs.exists(root))
        for (cellSt <- fs.listStatus(root)
            if cellSt.isDirectory &&
              cellSt.getPath.getName.startsWith(s"$pcol=");
            f <- fs.listStatus(cellSt.getPath)
            if f.isFile && !f.getPath.getName.startsWith("_") &&
              !f.getPath.getName.startsWith("."))
          relFiles += s"$store/${cellSt.getPath.getName}/${f.getPath.getName}"
    }
    val files = relFiles.result().sorted
    val version = currentVersion(fs, base).map(_._1 + 1).getOrElse(1L)
    commitVersion(fs, base, version, files)
    (version, files.size.toLong)
  }

  /** Incremental re-publication — the writer-side half of the manifest
    * story (round 15): a mutation whose artifact carried a COMMITTED
    * manifest re-publishes it as its last step, so probes stay
    * manifest-served across maintenance instead of falling back to the
    * live layout until an operator re-runs `INDEX MANIFEST`. The same
    * cost discipline as the incremental stats merge
    * ([[IndexMaintenance.Stats.merge]]): only the mutation's
    * own TOUCHED cells are re-listed from the live layout (∝ the
    * batch's routed cells); every untouched cell's file list carries
    * over from the prior manifest with no IO. The new version file
    * itself is ∝ total files — bounded metadata, the same class as the
    * stats-file rewrite, and the honest fixed per-statement cost noted
    * on [[IndexMaintenance.Stats.mergeForWriter]]. Caller holds the
    * artifact's maintenance lock and passes the prior read BEFORE the
    * mutation invalidated it.
    */
  def republishTouched(spark: SparkSession, base: String,
      stores: Seq[(String, String)], priorVersion: Long,
      prior: Map[String, Map[Int, Seq[String]]],
      touched: Map[String, Seq[Int]]): Long = {
    val basePath = new Path(base)
    val fs = basePath
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val relFiles = Seq.newBuilder[String]
    for ((store, pcol) <- stores) {
      val touchedCells = touched.getOrElse(store, Seq.empty).toSet
      for ((cell, rels) <- prior.getOrElse(store, Map.empty)
          if !touchedCells(cell))
        relFiles ++= rels
      for (cell <- touchedCells.toSeq.sorted) {
        val cellDir = new Path(basePath, s"$store/$pcol=$cell")
        if (fs.exists(cellDir))
          for (f <- fs.listStatus(cellDir)
              if f.isFile && !f.getPath.getName.startsWith("_") &&
                !f.getPath.getName.startsWith("."))
            relFiles += s"$store/$pcol=$cell/${f.getPath.getName}"
      }
    }
    val version = priorVersion + 1
    commitVersion(fs, base, version, relFiles.result().sorted)
    version
  }

  /** Stage the version file COMPLETE, commit with one rename — racing
    * readers see whole versions only (see [[publish]]'s contract).
    */
  private def commitVersion(fs: org.apache.hadoop.fs.FileSystem,
      base: String, version: Long, files: Seq[String]): Unit = {
    val d = manifestDir(base)
    fs.mkdirs(d)
    // the opt-in record [[wasCommitted]] reads; survives invalidation
    val marker = new Path(d, ".committed")
    if (!fs.exists(marker)) fs.create(marker, true).close()
    val tmp = new Path(d, s".tmp_${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(
      (Header +: files).mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
    val target = new Path(d, f"v$version%016d.txt")
    if (!fs.rename(tmp, target)) {
      fs.delete(tmp, false)
      throw new IllegalStateException(
        s"INDEX MANIFEST: cannot commit version $version at $target — " +
          "the artifact keeps its previous manifest (or none); re-run " +
          "the statement")
    }
  }
}
