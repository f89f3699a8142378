package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

/** Manifest-pinned commits for STORED-INDEX directories (all seven
  * [[StoredIndex]] families: LSH, IVF, BM25, curation state, budget gate,
  * stored LM, aggregate view) — the [[LogStore]] `commitManifest`/`readPinned`
  * discipline generalized to a multi-table index root, so a maintenance
  * append publishes ALL its table changes in one atomic rename and a
  * crash at any earlier point leaves the previous index version intact.
  *
  * Model:
  *  - `_manifests/manifest-N` under the index ROOT lists every live data
  *    file (root-relative). The LATEST committed manifest IS the index:
  *    readers resolve it and scan exactly its file list, so files that a
  *    crashed append moved in but never committed are invisible, and
  *    files a committed append retired (but a crash left undeleted) are
  *    equally invisible.
  *  - Writers run an [[IndexTxn]] through [[StoredIndex.mutate]]: stage
  *    new files under dot-prefixed stage dirs, MOVE them into the live
  *    table dirs (fresh UUID part names — never a collision with live
  *    files), record adds/retires, then one temp+rename manifest publish
  *    and the physical delete of retired files + leftover stage dirs.
  *    Nothing is deleted before the commit point, so every crash window
  *    degrades to "extra invisible files", never loss.
  *  - [[vacuum]] is the single-writer GC for crash leftovers: any data
  *    file absent from the latest manifest is garbage by definition (no
  *    concurrent writers by the maintenance contract) — every mutation
  *    runs it first so a re-run after a crash converges to the same state
  *    a never-crashed one produces.
  *
  * A nested index (the curation state's `lsh/` subtree) shares its
  * PARENT's manifest: [[pinnedUnder]] resolves the governing manifest by
  * walking up from the table path, so `hashes` and the whole `lsh/` tree
  * flip in the same commit — the cross-table atomicity a decide+learn
  * loop needs (a crash between the two would otherwise leave the hash
  * table ahead of the LSH index with no way to re-run safely).
  *
  * Index dirs are local paths by the existing maintenance contract
  * (stage-and-move promotion); at cluster scale the same protocol runs
  * over any FileSystem with atomic rename (HDFS) — object stores swap the
  * rename for a conditional put of the manifest object. Manifest size is
  * one line per data file — at 100 TB / 128 MB files that is ~10^6 lines
  * (tens of MB), read on every pinned read; past that,
  * the standard evolution is the Delta-log shape (parquet checkpoint +
  * JSON deltas), which changes the manifest ENCODING, not this protocol.
  */
object IndexCommit {

  /** Crash-injection hook for the maintenance specs: called at named
    * points inside mutations (a family's "<prefix>-staged",
    * "moved:<table>", ... and the kernel's "<prefix>-before-commit").
    * Throwing simulates a crash at that point.
    */
  @volatile private[graft] var failpoint: String => Unit = _ => ()
  private[graft] def hit(point: String): Unit = failpoint(point)

  private val ManifestDirName = "_manifests"

  private def manifestDir(root: String): Path = Paths.get(root, ManifestDirName)

  private def versions(root: String): Seq[(Int, Path)] = {
    val md = manifestDir(root)
    if (!Files.exists(md)) Seq.empty
    else Files.list(md).iterator().asScala
      .filter(_.getFileName.toString.matches("manifest-\\d+"))
      .map(p => p.getFileName.toString.stripPrefix("manifest-").toInt -> p)
      .toSeq.sortBy(_._1)
  }

  def latestVersion(root: String): Option[Int] =
    versions(root).lastOption.map(_._1)

  /** Committed manifest versions still on disk (oldest first) — the
    * TIME-TRAVEL surface: each version is readable while its file set
    * survives (see [[pinnedFilesAt]]).
    */
  def versionsOf(root: String): Seq[Int] = versions(root).map(_._1)

  private def readManifest(p: Path): Seq[String] =
    new String(Files.readAllBytes(p), "UTF-8")
      .split("\n").filter(_.nonEmpty).toSeq

  /** Root-relative file list of the latest committed manifest. */
  def pinnedFiles(root: String): Option[Seq[String]] =
    versions(root).lastOption.map { case (_, p) => readManifest(p) }

  /** Root-relative file list recorded by committed `version`, without
    * checking that its files survive; None once the version is not (or
    * no longer) in the history.
    */
  def manifestAt(root: String, version: Int): Option[Seq[String]] =
    versions(root).find(_._1 == version).map { case (_, p) => readManifest(p) }

  /** Root-relative file list of a SPECIFIC committed version — snapshot
    * reads / time travel over the manifest history. A version resolves
    * while (a) its manifest survives retention ([[vacuum]] keeps the
    * newest `keepManifests`) and (b) its files survive — guaranteed
    * along pure-append chains (appends and deletes retire nothing), and
    * broken by the first compaction that rewrites a file the version
    * pinned (the Delta-lake vacuum semantics). Fails FAST with a clear
    * error when files are gone, instead of a mystifying scan failure.
    */
  def pinnedFilesAt(root: String, version: Int): Option[Seq[String]] =
    manifestAt(root, version).map { files =>
      val missing = files.filterNot(f => Files.exists(Paths.get(root, f)))
      require(missing.isEmpty,
        s"index version $version of $root is no longer fully resolvable " +
          s"(${missing.size} of ${files.size} files compacted/vacuumed " +
          s"away, e.g. ${missing.head})")
      files
    }

  /** Every data file physically under `root` (root-relative `.parquet`
    * paths, excluding dot-prefixed stage dirs and `_`-prefixed metadata).
    * The LEGACY view for never-committed dirs, and the bootstrap commit's
    * file list — transactions use explicit add/retire bookkeeping instead
    * (a blind walk at commit time would resurrect crash orphans).
    */
  def walkDataFiles(root: String): Seq[String] = {
    val r = Paths.get(root)
    if (!Files.exists(r)) return Seq.empty
    val s = Files.walk(r)
    try s.iterator().asScala
      .filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet"))
      .map(p => r.relativize(p).toString)
      .filterNot(_.split('/').exists(seg =>
        seg.startsWith(".") || seg.startsWith("_")))
      .toSeq.sorted
    finally s.close()
  }

  /** Publish `files` (root-relative) as the next manifest version.
    * Write-temp-then-atomic-rename: readers resolve either the previous
    * version or this one, never a partial list.
    */
  def commitFiles(root: String, files: Seq[String]): Int = {
    val md = manifestDir(root)
    Files.createDirectories(md)
    val version = latestVersion(root).map(_ + 1).getOrElse(0)
    val tmp = md.resolve(s".tmp-manifest-$version")
    Files.write(tmp, files.distinct.sorted.mkString("\n").getBytes("UTF-8"))
    Files.move(tmp, md.resolve(f"manifest-$version%09d"),
      StandardCopyOption.ATOMIC_MOVE)
    version
  }

  /** The manifest root governing `path`: `path` itself or an ancestor (at
    * most `maxUp` levels — partition dir -> table dir -> index root ->
    * enclosing composite root) holding `_manifests`. None for legacy
    * uncommitted dirs.
    */
  def resolveRoot(path: String, maxUp: Int = 3): Option[(String, Int)] = {
    var root = Paths.get(path).toAbsolutePath.normalize()
    var up = 0
    while (root != null && up <= maxUp) {
      if (Files.exists(root.resolve(ManifestDirName)))
        return latestVersion(root.toString).map(v => (root.toString, v))
      root = root.getParent; up += 1
    }
    None
  }

  /** Pinned ABSOLUTE file paths under `path` per its governing manifest;
    * None when no manifest governs the path (legacy directory reads).
    * `asOf` pins a specific committed version instead of the latest
    * ([[pinnedFilesAt]] semantics).
    */
  def pinnedUnder(path: String, asOf: Option[Int] = None): Option[Seq[String]] =
    resolveRoot(path).flatMap { case (root, _) =>
      val rootP = Paths.get(root).toAbsolutePath.normalize()
      val p = Paths.get(path).toAbsolutePath.normalize()
      val rel = rootP.relativize(p).toString
      val prefix = if (rel.isEmpty) "" else rel + "/"
      val pinned = asOf match {
        case Some(v) => pinnedFilesAt(root, v)
        case None => pinnedFiles(root)
      }
      pinned.map(_.filter(f => prefix.isEmpty || f.startsWith(prefix))
        .map(f => rootP.resolve(f).toString))
    }

  private[graft] def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      val all = try s.iterator().asScala.toSeq finally s.close()
      all.reverseIterator.foreach(Files.deleteIfExists(_))
    }

  /** Single-writer GC: delete every data file under `root` absent from
    * the latest manifest (crash orphans from an uncommitted append, or
    * retired files a crash left undeleted), plus leftover stage dirs,
    * prune emptied directories, and expire manifest HISTORY beyond the
    * newest `keepManifests` versions (history grows one tiny file per
    * append; old versions stop resolving anyway once cleanup deletes
    * their retired files, so deep history buys nothing). No-op on
    * never-committed dirs. Returns the dropped relative paths.
    */
  def vacuum(root: String, keepManifests: Int = 10): Seq[String] =
    pinnedFiles(root) match {
      case None => Seq.empty
      case Some(keepRel) =>
        val keep = keepRel.toSet
        val dropped = walkDataFiles(root).filterNot(keep)
        dropped.foreach { rel =>
          val p = Paths.get(root, rel)
          Files.deleteIfExists(p)
          // Hadoop local-FS checksum sibling, when present
          Files.deleteIfExists(p.resolveSibling("." + p.getFileName + ".crc"))
        }
        val r = Paths.get(root)
        val s = Files.walk(r)
        val stages = try s.iterator().asScala.toSeq
            .filter(p => Files.isDirectory(p) &&
              p.getFileName.toString.startsWith("."))
          finally s.close()
        stages.foreach(deleteTree)
        pruneEmptyDirs(r)
        versions(root).dropRight(math.max(1, keepManifests))
          .foreach { case (_, p) => Files.deleteIfExists(p) }
        dropped
    }

  /** Remove data-free directories below `root` (bottom-up; `_manifests`
    * and the root itself stay). "Data-free" means holding no `.parquet`
    * anywhere beneath — a compacted-away LSM segment keeps its `_SUCCESS`
    * and `.crc` markers after its data files retire, and those must not
    * anchor the dead segment dir forever.
    */
  private[graft] def pruneEmptyDirs(root: Path): Unit = {
    val s = Files.walk(root)
    val dirs = try s.iterator().asScala.toSeq finally s.close()
    dirs.sortBy(-_.getNameCount).foreach { p =>
      if (p != root && Files.exists(p) && Files.isDirectory(p) &&
          !p.getFileName.toString.startsWith("_")) {
        val w = Files.walk(p)
        val hasData = try w.iterator().asScala
            .exists(_.toString.endsWith(".parquet"))
          finally w.close()
        if (!hasData) deleteTree(p)
      }
    }
  }
}

/** One index-maintenance transaction: explicit add/retire bookkeeping
  * over the pinned base file set, one atomic manifest publish, physical
  * cleanup strictly after. Single writer per index root by contract.
  * Opened, committed and cleaned up only by [[StoredIndex.mutate]].
  *
  * `dir` is the index the transaction mutates: the manifest `root` itself,
  * or a nested index under it (the curation state's `lsh/`), which shares
  * its parent's bookkeeping so both publish in one commit. Table paths
  * passed to this class are relative to `dir`; file lists it returns are
  * root-relative.
  */
final class IndexTxn private (root: String, val dir: String,
                              parent: Option[IndexTxn]) {
  def this(root: String) = this(root, root, None)

  private val rootP = Paths.get(root).toAbsolutePath.normalize()
  private val prefix = {
    val r = rootP.relativize(Paths.get(dir).toAbsolutePath.normalize()).toString
    if (r.isEmpty) "" else r + "/"
  }
  /** The pre-transaction file set: pinned when a manifest exists, the
    * physical walk for legacy (never-committed) dirs.
    */
  private val base: Seq[String] = parent.map(_.base).getOrElse(
    IndexCommit.pinnedFiles(root).getOrElse(IndexCommit.walkDataFiles(root)))
  private val retired: scala.collection.mutable.LinkedHashSet[String] =
    parent.fold(scala.collection.mutable.LinkedHashSet.empty[String])(_.retired)
  private val added: scala.collection.mutable.LinkedHashSet[String] =
    parent.fold(scala.collection.mutable.LinkedHashSet.empty[String])(_.added)

  /** The same transaction scoped to the nested index at `sub`. */
  private[sources] def nested(sub: String): IndexTxn =
    new IndexTxn(root, sub, Some(this))

  private def baseUnder(table: String): Seq[String] =
    base.filter(_.startsWith(prefix + table + "/"))
  /** Base files under `table` NOT retired so far in this transaction —
    * what a later step inside the same transaction may still read (a
    * retired file's rows were rewritten by an earlier step; re-reading it
    * would resurrect them).
    */
  def liveUnder(table: String): Seq[String] =
    baseUnder(table).filterNot(retired)
  def retireUnder(table: String): Unit = baseUnder(table).foreach(retired += _)

  /** [[liveUnder]] grouped by the first dir below `table` (a `key=value`
    * partition or an LSM segment; "" for files directly in the table dir).
    */
  def liveParts(table: String): Map[String, Seq[String]] =
    liveUnder(table).groupBy { f =>
      val rest = f.stripPrefix(prefix + table + "/").split('/')
      if (rest.length > 1) rest.head else ""
    }

  /** Whether the transaction added or retired any file. */
  private[sources] def changed: Boolean = added.nonEmpty || retired.nonEmpty

  /** Absolute path of the stage dir `name` under the index: writers stage
    * there, then [[moveIn]] publishes the files into a live table.
    */
  def stage(name: String): String = s"$dir/.$name-stage"

  /** Move every staged `.parquet` under stage `name` into `to` (a table,
    * partition or segment dir) under its fresh part name, recording each
    * add — recursing into `key=value` partition dirs.
    */
  def moveIn(name: String, to: String): Unit =
    moveTree(Paths.get(stage(name)), Paths.get(dir, to))

  /** [[moveIn]] to the next segment of the LSM `table` in its own naming
    * (`seg=N`, `seg-NNNNN`, `gen-NNNNN` by `segPrefix`).
    */
  def moveToNextSeg(name: String, table: String, segPrefix: String): Unit =
    moveIn(name, s"$table/${StoredIndex.segName(segPrefix,
      StoredIndex.nextSeg(dir, table, segPrefix))}")

  /** Retire everything under `to`, then [[moveIn]] the stage there. */
  def replace(name: String, to: String): Unit = {
    retireUnder(to)
    moveIn(name, to)
  }

  private def moveTree(from: Path, to: Path): Unit =
    if (Files.exists(from)) {
      Files.createDirectories(to)
      val s = Files.list(from)
      val entries = try s.iterator().asScala.toSeq finally s.close()
      entries.foreach { p =>
        val name = p.getFileName.toString
        if (Files.isDirectory(p) && name.contains("="))
          moveTree(p, to.resolve(name))
        else if (name.endsWith(".parquet")) {
          val dst = to.resolve(name)
          Files.move(p, dst)
          added += rootP.relativize(dst.toAbsolutePath.normalize()).toString
        }
      }
    }

  /** Atomic publish: base − retired + added becomes the next version. */
  private[sources] def commit(): Int =
    IndexCommit.commitFiles(root, base.filterNot(retired) ++ added.toSeq)

  /** Physical deletion of retired files + leftover stage dirs + emptied
    * dirs. Runs ONLY after [[commit]] (or on a transaction that changed
    * nothing) — a crash before here leaves the new version fully readable
    * with harmless invisible extras.
    */
  private[sources] def cleanup(): Unit = {
    retired.foreach { relP =>
      val p = Paths.get(root, relP)
      Files.deleteIfExists(p)
      Files.deleteIfExists(p.resolveSibling("." + p.getFileName + ".crc"))
    }
    dropStages()
  }

  /** Deletion of leftover stage dirs + emptied dirs: all a FAILED
    * transaction cleans up — its retired files are still served, and the
    * files it moved in are unpinned extras the next vacuum removes.
    */
  private[sources] def dropStages(): Unit = {
    val s = Files.walk(rootP)
    val stages = try s.iterator().asScala.toSeq
        .filter(p => Files.isDirectory(p) &&
          p.getFileName.toString.startsWith("."))
      finally s.close()
    stages.foreach(IndexCommit.deleteTree)
    IndexCommit.pruneEmptyDirs(rootP)
  }
}
