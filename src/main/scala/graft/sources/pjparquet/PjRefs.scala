package graft.sources.pjparquet

import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileSystem, Path}

import graft.core.PJException

/** Lightweight named refs on one table — Iceberg-style tags and
  * write-audit-publish branches, stored under `_pj_log/_refs/` (the
  * commit-log listing only admits digit-named files, so refs are
  * invisible to version resolution):
  *
  *  - **tag** (`tag-<name>.json` = `{v}`): a PINNED snapshot version.
  *    `option("tag", name)` reads are bit-exact time travel to that
  *    version, and version expiry ([[PjVacuum]]) keeps every tagged
  *    version — its commit file stays replayable and its data files stay
  *    referenced — no matter the retention policy. Delta names this
  *    pattern "cheap clone for audit"; Iceberg calls it a tag.
  *
  *  - **branch** (`branch-<name>.json` = `{base, entries}`): ONE staged
  *    append, forked from head — the write-audit-publish pattern. A
  *    batch append with `option("branch", name)` stages its committed
  *    file entries in the ref INSTEAD of the live log (the data files
  *    land in the table directory, invisible to main readers, protected
  *    from vacuum by the ref). `option("branch", name)` reads overlay
  *    the staged entries on the CURRENT head (audit sees main + staged).
  *    `CALL pj.system.fast_forward(table, branch)` publishes the staged
  *    entries as a normal head commit — full conflict validation — and
  *    drops the ref; `CALL pj.system.drop_ref` discards the staged
  *    files instead. One staged batch per branch: a second branch write
  *    refuses until the first publishes or drops (the WAP unit is one
  *    audited batch; longer-lived forks are [[PjClone]]'s job).
  */
object PjRefs {

  val DirName = "_refs"

  final case class BranchRef(base: Long, entries: Seq[PjCommitLog.FileEntry])

  def refsDir(root: Path): Path = new Path(PjCommitLog.logDir(root), DirName)
  private def tagFile(root: Path, name: String): Path =
    new Path(refsDir(root), s"tag-${checkName(name)}.json")
  private[pjparquet] def branchFile(root: Path, name: String): Path =
    new Path(refsDir(root), s"branch-${checkName(name)}.json")

  private def checkName(name: String): String = {
    if (name == null || name.isEmpty ||
      !name.forall(c => c.isLetterOrDigit || c == '_' || c == '-' || c == '.'))
      throw new PJException(
        s"pjparquet: ref name '$name' must be non-empty [A-Za-z0-9_.-]")
    name
  }

  // ------------------------------------------------------------------ tags

  /** Pin `version` (default: head) as tag `name`. Re-tagging an existing
    * name moves it (last-wins, like git tag -f is explicit — our CALL is
    * the explicit surface).
    */
  def tag(fs: FileSystem, root: Path, name: String, version: Option[Long]): Long = {
    val versions = PjCommitLog.versions(fs, root)
    if (versions.isEmpty)
      throw new PJException("pjparquet: tags require a commit-log table")
    val v = version.getOrElse(versions.last)
    if (!versions.contains(v))
      throw new PJException(
        s"pjparquet: cannot tag version $v (committed versions: " +
          s"${versions.head}..${versions.last})")
    writeRef(fs, root, tagFile(root, name), s"""{"v":$v}""", planned = true)
    v
  }

  def tagVersion(fs: FileSystem, root: Path, name: String): Option[Long] =
    readJson(fs, tagFile(root, name)).map(_.get("v").asLong)

  /** Versions pinned by ANY tag — [[PjVacuum]] expiry keeps them. */
  def taggedVersions(fs: FileSystem, root: Path): Set[Long] =
    listRefFiles(fs, root).filter(_.startsWith("tag-")).flatMap { n =>
      readJson(fs, new Path(refsDir(root), n)).map(_.get("v").asLong)
    }.toSet

  // --------------------------------------------------------------- branches

  /** Stage a branch append: the commit that would have gone to the live
    * log. Refuses when the branch already holds a staged batch.
    */
  def stageBranch(
      fs: FileSystem, root: Path, name: String,
      base: Long, entries: Seq[PjCommitLog.FileEntry]): Unit = {
    val f = branchFile(root, name)
    if (fs.exists(f))
      throw new PJException(
        s"pjparquet: branch '$name' already holds a staged batch — " +
          "fast_forward or drop_ref it first (one audited batch per branch)")
    writeRef(fs, root, f,
      s"""{"base":$base,"entries":${PjCommitLog.renderEntriesJson(entries)}}""",
      planned = base > 0)
  }

  def readBranch(fs: FileSystem, root: Path, name: String): Option[BranchRef] =
    readJson(fs, branchFile(root, name)).map { n =>
      BranchRef(n.get("base").asLong,
        PjCommitLog.parseEntriesJson(n.get("entries").toString))
    }

  /** Data-file rel paths staged by ANY branch — vacuum keeps them. */
  def branchStagedPaths(fs: FileSystem, root: Path): Set[String] =
    listRefFiles(fs, root).filter(_.startsWith("branch-")).flatMap { n =>
      readJson(fs, new Path(refsDir(root), n)).toSeq.flatMap(j =>
        PjCommitLog.parseEntriesJson(j.get("entries").toString).map(_.path))
    }.toSet

  /** Publish branch `name`'s staged entries as a live head commit (full
    * conflict validation — a file the branch read-based on may have been
    * retired; appends are add-only so the commit loop rebases), then drop
    * the ref. Returns the published version.
    */
  def fastForward(fs: FileSystem, root: Path, name: String): Long = {
    val ref = readBranch(fs, root, name).getOrElse(
      throw new PJException(s"pjparquet: no staged branch '$name'"))
    val v = PjCommitLog.commit(fs, root, "append", ref.entries, Set.empty)
    fs.delete(branchFile(root, name), false)
    PjCommitLog.clearSnapshotCache()
    PjParquetTable.clearLayoutCache()
    v
  }

  /** Drop a ref by name (tag or branch). A dropped branch's staged data
    * files become unreferenced — the next vacuum reclaims them. Returns
    * whether anything was deleted.
    */
  def dropRef(fs: FileSystem, root: Path, name: String): Boolean = {
    val t = fs.delete(tagFile(root, name), false)
    val b = fs.delete(branchFile(root, name), false)
    t || b
  }

  def listRefs(fs: FileSystem, root: Path): Seq[(String, String, Long)] =
    listRefFiles(fs, root).sorted.flatMap { n =>
      val p = new Path(refsDir(root), n)
      if (n.startsWith("tag-"))
        readJson(fs, p).map(j =>
          (n.stripPrefix("tag-").stripSuffix(".json"), "tag", j.get("v").asLong))
      else if (n.startsWith("branch-"))
        readJson(fs, p).map(j =>
          (n.stripPrefix("branch-").stripSuffix(".json"), "branch",
            j.get("base").asLong))
      else None
    }

  // ------------------------------------------------------------------ io

  private def listRefFiles(fs: FileSystem, root: Path): Seq[String] =
    try fs.listStatus(refsDir(root)).toSeq.map(_.getPath.getName)
      .filter(_.endsWith(".json"))
    catch { case _: java.io.FileNotFoundException => Nil }

  private def readJson(
      fs: FileSystem, path: Path): Option[com.fasterxml.jackson.databind.JsonNode] =
    try {
      val in = fs.open(path)
      try Some(new ObjectMapper().readTree(in))
      finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }

  /** Publish one ref file under a commit log that must still exist. A
    * catalog RENAME or DROP racing the ref write moves `_pj_log` away; the
    * `mkdirs` and `create` here would then resurrect a `_pj_log` husk at
    * the stale path, or fail with a raw "Mkdirs failed". So the log is
    * checked before the write and again after it, and a vanished log
    * refuses as [[PjCommitLog.commit]] does, removing whatever this write
    * recreated. `planned` = the caller read a committed version first (a
    * branch staged on a log-less table has no log to lose).
    */
  private def writeRef(
      fs: FileSystem, root: Path, path: Path, body: String, planned: Boolean): Unit = {
    def write(): Unit = {
      fs.mkdirs(refsDir(root))
      writeAtomic(fs, path, body)
    }
    if (!planned) return write()
    def logGone = PjCommitLog.versions(fs, root).isEmpty
    def vanished(cause: Throwable) = new PJException(
      s"pjparquet: the commit log under '$root' vanished since this ref " +
        "write was planned (table dropped or renamed by a concurrent " +
        "writer); aborting instead of recreating it at the stale path", cause)
    // non-recursive: only what this write can have recreated goes
    def removeHusk(): Unit =
      Seq(path, refsDir(root), PjCommitLog.logDir(root)).foreach { p =>
        try fs.delete(p, false) catch { case NonFatal(_) => () }
      }
    if (logGone) throw vanished(null)
    try write() catch {
      case NonFatal(e) if logGone => removeHusk(); throw vanished(e)
    }
    // the log moved away mid-write, and the ref landed at the stale path
    if (logGone && fs.exists(path)) { removeHusk(); throw vanished(null) }
  }

  private def writeAtomic(fs: FileSystem, path: Path, body: String): Unit = {
    val tmp = new Path(path.getParent,
      s".${path.getName}.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    try {
      val out = fs.create(tmp, true)
      try out.write(body.getBytes("UTF-8")) finally out.close()
      fs.delete(path, false)
      if (!fs.rename(tmp, path))
        throw new PJException(s"pjparquet: could not publish ref $path")
    } catch {
      case NonFatal(e) =>
        try fs.delete(tmp, false) catch { case NonFatal(_) => () }
        throw e
    }
  }
}
