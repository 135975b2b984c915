package graft.transforms

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession

import scala.util.control.NonFatal

import CellStore.Landed

/** The layout record of a stored index: which data files each cell of
  * each store holds, with each file's row count. It is the artifact's
  * one derived copy of its own layout. Probes resolve their routed cells
  * from it, one read per statement ([[CellStore.snapshot]]), DESCRIBE
  * folds its per-cell (files, rows) from it
  * ([[IndexMaintenance.Stats.fold]]), and every writer commits it from
  * the cell-store writer's file reports ([[CellStore.Landed]]), so no
  * job re-reads a store to learn what it holds.
  *
  * Layout: `<dir>/manifest/v<0-padded version>.txt`, one UTF-8 text
  * object per committed version. Line 1 is the format header
  * (`graft-index-manifest 2`); every further line is one live data
  * file's path RELATIVE to the artifact root, a tab, and its row count,
  * e.g. `bands/pc=3/part-00007-….parquet\t412`. The cell id is the
  * second path segment (`<pcol>=<cell>`), so one flat list serves every
  * store. Readers take the highest `v*` name (zero-padded ⇒ lexical =
  * numeric): one listing and one small read regardless of cell count.
  * A file headed `graft-index-manifest 1` (paths without rows) reads as
  * absent; any other header is an error.
  *
  * Consistency contract:
  *  - ABSENT, NEVER STALE. Every mutation drops the record
  *    ([[invalidate]]) before it touches a row. A writer that dies
  *    mid-statement leaves it absent; probes then resolve cells from the
  *    live directory layout and DESCRIBE recounts, both honest.
  *  - MAINTAINED. A build and a REBUILD stage commit `v1` from their
  *    reports. APPEND, DELETE and COMPACT read the prior record under
  *    the artifact's single-writer lock, drop it, mutate, and commit the
  *    prior folded with their reports as the next version ([[merge]]):
  *    rewritten cells take their new files, published files join their
  *    cells, untouched cells carry over. Only cells a sweep restored
  *    after a crash are recounted ([[IndexMaintenance.Stats.recount]]),
  *    as no report holds their rows. A mutation that found no record
  *    leaves none.
  *  - RECOVERED by `INDEX MANIFEST '<dir>'`: on an absent or malformed
  *    record it snapshots the live layout (one recount job) as the next
  *    version; on a readable record it is a no-op.
  *  - WHOLE. A version is written complete to a temporary name and
  *    committed with one rename, so a racing reader sees the previous
  *    version or the new one, never a truncated list (a half-read
  *    record would silently drop candidate files).
  *  - REBUILD needs no special case: the record lives inside the
  *    artifact, so the swap carries the stage's `v1` in.
  *
  * On object stores the record is the whole plan: S3-style stores have
  * no atomic rename for data directories, but a one-object record
  * commits with a conditional put. The read side is already
  * scheme-agnostic; the write side still commits by rename.
  */
object IndexManifest {

  private val Header = "graft-index-manifest 2"
  /** The format before lines carried rows: read as absent. */
  private val RowlessHeader = "graft-index-manifest 1"

  /** store → cell → (file path relative to the artifact → rows). */
  type Layout = Map[String, Map[Int, Map[String, Long]]]

  /** A committed version of the layout record. */
  final case class Record(version: Long, layout: Layout) {
    def files: Long =
      layout.valuesIterator.flatMap(_.valuesIterator).map(_.size.toLong).sum
  }

  /** A present record that does not parse: external interference with a
    * committed snapshot. Probing the live layout instead could silently
    * disagree with what the operator believes is pinned, so readers
    * fail; `INDEX MANIFEST` replaces it.
    */
  final class Malformed(msg: String) extends IllegalStateException(msg)

  /** Parsed-record cache, keyed by the version file's (qualified path,
    * modification time, length) — the identity the directory listing
    * already paid for. Version files are immutable once committed (a
    * new layout is a NEW version), but the version NUMBER alone is not
    * an identity: a build, REBUILD's swap and a snapshot after an
    * invalidation restart the numbering at v1, so two incarnations can
    * both carry a v1 — the modtime+length make the restarted file a
    * miss (and an in-place tamper re-parses and fails loudly). The
    * serving hot path re-parses only when the current version changed.
    * Bounded LRU of 8 (a JVM serves a handful of artifacts, and one
    * entry can reach record-at-the-cell-cap size), synchronized —
    * touched once per probe, not per row. A rowless file caches as None.
    */
  private val parseCache =
    new java.util.LinkedHashMap[(String, Long, Long), Option[Layout]](
        16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long, Long), Option[Layout]])
          : Boolean = size() > 8
    }

  private[graft] def manifestDir(base: String): Path =
    new Path(base, "manifest")

  private def fsOf(spark: SparkSession, base: String): FileSystem =
    new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Drop every committed version — the first step of every
    * row-writing mutation, so the record can be absent but never stale.
    * Versions are deleted NEWEST-first, so a lock-free reader racing the
    * sweep can only land on an older committed version (still a
    * consistent snapshot of a pre-mutation layout). Deliberately not
    * swallowed: mutating after a failed invalidation would leave a
    * stale record, which is worse than failing the mutation.
    */
  def invalidate(conf: Configuration, base: String): Unit = {
    val d = manifestDir(base)
    val fs = d.getFileSystem(conf)
    versions(fs, base).reverse.foreach(v => fs.delete(v._2.getPath, false))
  }

  /** The committed version files, lowest first. */
  private def versions(fs: FileSystem, base: String)
      : Seq[(Long, FileStatus)] = {
    val d = manifestDir(base)
    if (!fs.exists(d)) Nil
    else fs.listStatus(d).toSeq
      .filter(st => st.getPath.getName.startsWith("v") &&
        st.getPath.getName.endsWith(".txt"))
      .flatMap { st =>
        scala.util.Try(
          st.getPath.getName.stripPrefix("v").stripSuffix(".txt").toLong)
          .toOption.map(_ -> st)
      }
      .sortBy(_._1)
  }

  /** The current record, or None when none is committed (or the current
    * version is rowless) — probes then fall back to the live layout.
    * A read racing an invalidation (the version file vanishing between
    * the listing and the open) resolves to None: the mutation won. A
    * present but malformed record throws [[Malformed]].
    */
  def read(spark: SparkSession, base: String): Option[Record] = try {
    val fs = fsOf(spark, base)
    versions(fs, base).lastOption.flatMap { case (v, st) =>
      val key = (fs.makeQualified(st.getPath).toString,
        st.getModificationTime, st.getLen)
      val cached = parseCache.synchronized(Option(parseCache.get(key)))
      cached.getOrElse {
        val parsed = parse(fs, base, v, st.getPath)
        parseCache.synchronized(parseCache.put(key, parsed))
        parsed
      }.map(Record(v, _))
    }
  } catch { case _: java.io.FileNotFoundException => None }

  private def parse(fs: FileSystem, base: String, v: Long, p: Path)
      : Option[Layout] = {
    val lines = {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in)(scala.io.Codec.UTF8)
        .getLines().toVector
      finally in.close()
    }
    def malformed(why: String): Nothing = throw new Malformed(
      s"stored-index manifest $p (version $v) is malformed ($why) — run " +
        s"INDEX MANIFEST '$base' to snapshot the live layout as a new " +
        "version")
    lines.headOption match {
      case Some(RowlessHeader) => None
      case Some(Header) =>
        Some(lines.tail.filter(_.nonEmpty).map { line =>
          val tab = line.lastIndexOf('\t')
          val rel = if (tab < 0) "" else line.substring(0, tab)
          val segs = rel.split('/')
          val eq = if (segs.length < 3) -1 else segs(1).indexOf('=')
          val cell = scala.util.Try(segs(1).substring(eq + 1).toInt)
          val rows = scala.util.Try(line.substring(tab + 1).toLong)
          if (eq < 0 || cell.isFailure || rows.isFailure)
            malformed(s"line '$line' is not <store>/<pcol>=<cell>/<file>" +
              "<tab><rows>")
          (segs(0), cell.get, rel, rows.get)
        }.groupBy(_._1).map { case (store, ls) =>
          store -> ls.groupBy(_._2).map { case (c, fs) =>
            c -> fs.map(f => f._3 -> f._4).toMap }
        })
      case other => malformed(s"bad header '${other.getOrElse("")}'")
    }
  }

  /** The `wanted` cells of the store at `root` as explicit paths, from
    * one probe statement's record ([[CellStore.snapshot]]): the cells'
    * data FILES, with no per-cell existence check and no footer-discovery
    * listing. Without a record, the live layout ([[liveCellPaths]]).
    * Cells with no files are skipped.
    */
  private[transforms] def cellPaths(spark: SparkSession,
      record: Option[Record], root: String, pcol: String,
      wanted: Seq[Int]): Seq[String] = record match {
    case Some(r) =>
      val rootPath = new Path(root)
      val cells = r.layout.getOrElse(rootPath.getName, Map.empty)
      wanted.flatMap(c => cells.getOrElse(c, Map.empty).keys.toSeq.sorted)
        .map(rel => new Path(rootPath.getParent, rel).toString)
    case None => liveCellPaths(spark, root, pcol, wanted)
  }

  /** The `wanted` cell directories of the store at `root` that exist,
    * one existence probe each, through the path's OWN Hadoop
    * FileSystem — java.io.File would report every hdfs://… or s3a://…
    * cell absent, and a probe would match nothing on exactly the
    * distributed deployments the artifacts exist for.
    */
  private[transforms] def liveCellPaths(spark: SparkSession, root: String,
      pcol: String, wanted: Seq[Int]): Seq[String] = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    wanted.map(c => new Path(rootPath, s"$pcol=$c"))
      .filter(fs.exists).map(_.toString)
  }

  /** A data file's key in a record line: its path relative to the
    * artifact.
    */
  private[transforms] def relPath(store: String, pcol: String, cell: Int,
      file: Path): String =
    s"$store/$pcol=$cell/${file.getName}"

  /** `prior` with one statement's reports folded in, per (store, cell
    * column) of `stores`: a rewritten cell's prior files are gone, each
    * published file joins its cell, untouched cells carry over because
    * the statement never opened their files. Cells a sweep restored and
    * the statement did not rewrite are recounted from the live layout:
    * no report holds their rows. A build folds into an empty prior.
    */
  def merge(spark: SparkSession, base: String, stores: Seq[(String, String)],
      prior: Layout, landed: Map[String, Landed]): Layout = {
    val restored = landed.map { case (sub, l) =>
      sub -> l.restored.filterNot(l.rewritten.contains) }.filter(_._2.nonEmpty)
    val recounted =
      if (restored.isEmpty) Map.empty[String, Map[Int, Map[String, Long]]]
      else IndexMaintenance.Stats.recount(spark, base, stores, Some(restored))
    stores.map { case (sub, pcol) =>
      val l = landed.getOrElse(sub, Landed())
      val kept = prior.getOrElse(sub, Map.empty) -- l.rewritten
      val added = l.files.groupBy(_._1).map { case (c, fs) =>
        c -> (kept.getOrElse(c, Map.empty) ++ fs.map { case (_, f, n) =>
          relPath(sub, pcol, c, new Path(f)) -> n })
      }
      sub -> ((kept ++ added) -- restored.getOrElse(sub, Nil) ++
        recounted.getOrElse(sub, Map.empty))
    }.filter(_._2.nonEmpty).toMap
  }

  /** A mutation wrapped in the record's maintenance: read the prior
    * record, drop it, run `mutate`, and — when a prior existed — commit
    * the prior folded with the mutation's reports as the next version.
    * Callers hold the artifact's maintenance lock, so the prior is exact
    * and the read → mutate → commit sequence cannot interleave with
    * another writer. A malformed prior stops the writer before it
    * touches a row. A mutation that fails before it published a file
    * ([[CellStore.Unpublished]]) left the stores as the prior describes
    * them: the prior is recommitted as the next version and the cause
    * rethrown (a failed recommit is suppressed on it, and the record
    * stays absent). Returns the mutation's reports.
    */
  def maintained(spark: SparkSession, base: String,
      stores: Seq[(String, String)])(
      mutate: => Map[String, Landed]): Map[String, Landed] = {
    val prior = read(spark, base)
    invalidate(spark.sparkContext.hadoopConfiguration, base)
    val landed = try mutate catch {
      case u: CellStore.Unpublished =>
        val cause = u.getCause
        prior.foreach { p =>
          try commit(spark, base, p.version + 1, p.layout)
          catch { case NonFatal(e) => cause.addSuppressed(e) }
        }
        throw cause
    }
    prior.foreach(p =>
      commit(spark, base, p.version + 1,
        merge(spark, base, stores, p.layout, landed)))
    landed
  }

  /** Snapshot the live layout of `stores` ([[IndexMaintenance.Stats.recount]],
    * one job) as the next version: `INDEX MANIFEST`'s recovery of an
    * absent or malformed record, and a verb APPEND's or DELETE's when it
    * found none. Caller holds the maintenance lock.
    */
  def snapshot(spark: SparkSession, base: String,
      stores: Seq[(String, String)]): Record = {
    val next = versions(fsOf(spark, base), base).lastOption
      .map(_._1 + 1).getOrElse(1L)
    commit(spark, base, next,
      IndexMaintenance.Stats.recount(spark, base, stores))
  }

  /** Write `layout` COMPLETE under a temporary name, then commit it as
    * `version` with one rename.
    */
  private[graft] def commit(spark: SparkSession, base: String,
      version: Long, layout: Layout): Record = {
    val fs = fsOf(spark, base)
    val d = manifestDir(base)
    fs.mkdirs(d)
    val lines = (for ((_, cells) <- layout.iterator; (_, files) <- cells;
        (rel, rows) <- files) yield s"$rel\t$rows").toSeq.sorted
    val tmp = new Path(d, s".tmp_${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(
      (Header +: lines).mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
    val target = new Path(d, f"v$version%016d.txt")
    if (!fs.rename(tmp, target)) {
      fs.delete(tmp, false)
      throw new IllegalStateException(
        s"INDEX MANIFEST: cannot commit version $version at $target — " +
          "the artifact keeps its previous record (or none); re-run " +
          "the statement")
    }
    Record(version, layout)
  }
}
