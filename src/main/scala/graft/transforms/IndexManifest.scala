package graft.transforms

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession

import scala.util.control.NonFatal

import CellStore.Landed

/** The layout record of a stored index: which data files each cell of
  * each store holds, with each file's row count. It is the artifact's
  * commit: a data file is part of the index exactly when the current
  * version lists it. Probes resolve their routed cells from it, one read
  * per statement ([[CellStore.snapshot]]), DESCRIBE folds its per-cell
  * (files, rows) from it ([[IndexMaintenance.Stats.fold]]), and every
  * writer commits it from the cell-store writer's file reports
  * ([[CellStore.Landed]]), so no job re-reads a store to learn what it
  * holds.
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
  * Consistency contract — the record is the commit:
  *  - A build and a REBUILD stage commit `v1` from their reports after
  *    dropping every older version ([[invalidate]]).
  *  - APPEND, DELETE and COMPACT run inside [[maintained]], under the
  *    artifact's single-writer lock: the prior record is never dropped,
  *    the statement adds files beside the listed ones, and the prior
  *    folded with its reports ([[merge]]) is committed as the next
  *    version. Only then are the prior version and the files of the
  *    cells it rewrote deleted. A statement that fails before its
  *    commit leaves the prior version current, and its files, listed by
  *    no version, are ignored by every reader (COMPACT reclaims any a
  *    crash left).
  *  - An artifact without a record gets one before its first mutation
  *    ([[snapshot]] of the live layout, one recount job); until then its
  *    probes read the live layout. `INDEX MANIFEST '<dir>'` takes the same
  *    snapshot on an absent or malformed record, and is a no-op on a
  *    readable one.
  *  - WHOLE. A version is written complete to a temporary name and
  *    committed with one rename, so a racing reader sees the previous
  *    version or the new one, never a truncated list (a half-read
  *    record would silently drop candidate files).
  *  - REBUILD needs no special case: the record lives inside the
  *    artifact, so its whole-artifact swap carries the stage's `v1` in.
  *
  * On object stores the record is the whole plan: S3-style stores have
  * no atomic rename, but a one-object record commits with a conditional
  * put. The read side is already scheme-agnostic; the write side still
  * commits by rename.
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

    /** The data files of the `wanted` cells of `store`, as paths under
      * the artifact at `base`; cells without a file are skipped.
      */
    def paths(base: String, store: String, wanted: Iterable[Int])
        : Seq[String] = {
      val cells = layout.getOrElse(store, Map.empty)
      wanted.toSeq
        .flatMap(c => cells.getOrElse(c, Map.empty).keys.toSeq.sorted)
        .map(rel => new Path(base, rel).toString)
    }
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

  /** Drop every committed version — the first step of a build, which
    * overwrites every store. Versions are deleted NEWEST-first, so a
    * lock-free reader racing the drop can only land on an older
    * committed version. Deliberately not swallowed: overwriting the
    * stores under a surviving record would leave it stale.
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

  private def versionPath(base: String, version: Long): Path =
    new Path(manifestDir(base), f"v$version%016d.txt")

  /** The current record, or None when no version is committed (or the
    * current one is rowless) — probes then fall back to the live layout.
    * A version file that vanishes between the listing and the open was
    * superseded by a newer commit, which deleted it: the directory is
    * listed again. A present but malformed record throws [[Malformed]].
    */
  @scala.annotation.tailrec
  def read(spark: SparkSession, base: String): Option[Record] = {
    val fs = fsOf(spark, base)
    val current = try Right(versions(fs, base).lastOption.flatMap {
        case (v, st) =>
          val key = (fs.makeQualified(st.getPath).toString,
            st.getModificationTime, st.getLen)
          val cached = parseCache.synchronized(Option(parseCache.get(key)))
          cached.getOrElse {
            val parsed = parse(fs, base, v, st.getPath)
            parseCache.synchronized(parseCache.put(key, parsed))
            parsed
          }.map(Record(v, _))
      }) catch { case e: java.io.FileNotFoundException => Left(e) }
    current match {
      case Right(record) => record
      case Left(_) => read(spark, base)
    }
  }

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

  /** A data file's key in a record line: its path relative to the
    * artifact.
    */
  private[transforms] def relPath(store: String, pcol: String, cell: Int,
      file: Path): String =
    s"$store/$pcol=$cell/${file.getName}"

  /** `prior` with one statement's reports folded in, per (store, cell
    * column) of `stores`: a rewritten cell's prior files are gone, each
    * written file joins its cell, untouched cells carry over because
    * the statement never opened their files. A build folds into an
    * empty prior.
    */
  def merge(stores: Seq[(String, String)], prior: Layout,
      landed: Map[String, Landed]): Layout =
    stores.map { case (sub, pcol) =>
      val l = landed.getOrElse(sub, Landed())
      val kept = prior.getOrElse(sub, Map.empty) -- l.rewritten
      val added = l.files.groupBy(_._1).map { case (c, fs) =>
        c -> (kept.getOrElse(c, Map.empty) ++ fs.map { case (_, f, n) =>
          relPath(sub, pcol, c, new Path(f)) -> n })
      }
      sub -> (kept ++ added)
    }.filter(_._2.nonEmpty).toMap

  /** The current record of the artifact at `base`, snapshotted from the
    * live layout of `stores` first when it has none. Caller holds the
    * maintenance lock.
    */
  def current(spark: SparkSession, base: String,
      stores: Seq[(String, String)]): Record =
    read(spark, base).getOrElse(snapshot(spark, base, stores))

  /** A mutation committed through the record: `mutate` gets the prior
    * ([[current]]) and writes its files beside the ones it lists; the
    * prior folded with its reports is committed as the next version;
    * then the prior version and the prior files of the cells it
    * rewrote are deleted (a rewritten cell left without a file is
    * deleted whole), found from the two records with no listing.
    * Callers hold the artifact's maintenance lock, so the prior is
    * exact and the read → mutate → commit sequence cannot interleave
    * with another writer. A malformed prior stops the writer before it
    * touches a row. A failed mutation or commit leaves the prior
    * current: a failed commit deletes the statement's reported files
    * (best effort) and rethrows. Returns the mutation's reports.
    */
  def maintained(spark: SparkSession, base: String,
      stores: Seq[(String, String)])(
      mutate: Record => Map[String, Landed]): Map[String, Landed] = {
    val prior = current(spark, base, stores)
    val landed = mutate(prior)
    val fs = fsOf(spark, base)
    try commit(spark, base, prior.version + 1,
      merge(stores, prior.layout, landed))
    catch { case NonFatal(e) =>
      for (l <- landed.values; (_, f, _) <- l.files)
        try fs.delete(new Path(f), false)
        catch { case NonFatal(d) => e.addSuppressed(d) }
      throw e
    }
    fs.delete(versionPath(base, prior.version), false)
    for ((sub, pcol) <- stores; l <- landed.get(sub).toSeq;
        c <- l.rewritten) {
      val gone = prior.layout.getOrElse(sub, Map.empty)
        .getOrElse(c, Map.empty).keys
      if (l.files.exists(_._1 == c))
        gone.foreach(rel => fs.delete(new Path(base, rel), false))
      else fs.delete(new Path(base, s"$sub/$pcol=$c"), true)
    }
    landed
  }

  /** Snapshot the live layout of `stores` ([[IndexMaintenance.Stats.recount]],
    * one job) as the next version: `INDEX MANIFEST`'s recovery of an
    * absent or malformed record, and the prior of a mutation that found
    * none ([[current]]). Caller holds the maintenance lock. Refused
    * while a store holds a `.old_<col>_<cell>` directory, which a cell
    * swap of an earlier version of this writer left when it crashed:
    * such a directory may be the only copy of its cell's rows, and the
    * live layout leaves it out.
    */
  def snapshot(spark: SparkSession, base: String,
      stores: Seq[(String, String)]): Record = {
    val fs = fsOf(spark, base)
    val moved = for ((sub, pcol) <- stores;
        root = new Path(base, sub) if fs.exists(root);
        st <- fs.listStatus(root)
          if st.getPath.getName.startsWith(s".old_${pcol}_"))
      yield st.getPath
    if (moved.nonEmpty) throw new IllegalStateException(
      s"stored index at $base holds cells a crashed cell swap moved " +
        s"aside: ${moved.mkString(", ")} — for each `.old_<col>_<c>`, " +
        "rename it back to `<col>=<c>` when that cell directory is " +
        "absent (it holds the cell's only copy), else delete it (its " +
        "swap finished), then re-run the statement")
    val next = versions(fs, base).lastOption.map(_._1 + 1).getOrElse(1L)
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
    val target = versionPath(base, version)
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
