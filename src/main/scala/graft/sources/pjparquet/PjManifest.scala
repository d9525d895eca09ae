package graft.sources.pjparquet

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.core.PJException

/** Symlink-format manifest generation — Delta's
  * `GENERATE symlink_format_manifest FOR TABLE`: materializes the CURRENT
  * snapshot's data-file list as Hive-layout text manifests under
  * `_symlink_format_manifest/`, so external engines that understand the
  * symlink input format (Presto/Trino/Athena/Hive) can query the logged
  * table's exact snapshot — retired files, racing writers' uncommitted
  * files, and failed attempts are all invisible because only the manifest
  * is read, never the directory listing.
  *
  * Layout mirrors the table's partitioning (one
  * `_symlink_format_manifest/<k=v>/.../manifest` per live partition
  * directory; a single `manifest` at the root for unpartitioned tables),
  * each holding one absolute data-file URI per line. ATOMICITY: every
  * manifest publishes via temp+rename, new/changed partition manifests are
  * written FIRST and stale partition manifests removed ONLY AFTERWARDS —
  * an external reader racing a regeneration always sees a complete
  * manifest per partition (old or new generation), never an empty or
  * half-written tree. A `_version` marker records the manifested snapshot
  * so staleness is detectable; it publishes last.
  *
  * AUTO-MAINTENANCE (`pj.symlinkManifest.enabled`) is INCREMENTAL: a
  * commit whose predecessor is already manifested rewrites only the
  * partition manifests its delta touched — an append landing in 1 of
  * 100k partitions costs 1 manifest write + `_version`, not 100k
  * object-store round-trips (Delta's incremental manifest mode). The
  * explicit `CALL pj.system.generate_symlink_manifest` always
  * regenerates in full.
  *
  * Tables carrying DELETION VECTORS refuse: an external reader sees raw
  * files, so DV-masked rows would resurrect — run
  * `CALL pj.system.purge_deletion_vectors` first (same refusal Delta
  * documents for its manifest generation).
  */
object PjManifest {

  final case class Report(version: Long, dataFiles: Long, manifests: Long)

  val DirName = "_symlink_format_manifest"

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Partition-dir count at/above which manifest writes run as one Spark
    * job (one tiny text file per partition dir — at 100k partitions the
    * sequential driver loop is 100k object-store round-trips).
    */
  private[pjparquet] val ParallelWriteMinDirs = 64

  /** Observability/spec counter: manifest generations that distributed. */
  private[sources] val distributedWrites = new java.util.concurrent.atomic.AtomicLong

  /** Observability/spec counter: partition manifests written (by any
    * path) — the incremental-maintenance spec pins "1 touched of 1000"
    * on it.
    */
  private[sources] val manifestsWritten = new java.util.concurrent.atomic.AtomicLong

  def generate(spark: SparkSession, root: String): Report = {
    val rootPath = new Path(root)
    generate(rootPath.getFileSystem(spark.sessionState.newHadoopConf()), rootPath, root)
  }

  /** Post-commit maintenance hook (`pj.symlinkManifest.enabled`, Delta's
    * `symlinkFormatManifest.enabled`): keep the external view at HEAD,
    * incrementally when the predecessor version is already manifested.
    * Best-effort by contract — a DV-carrying snapshot is skipped (the
    * manifest stays at its last DV-free version, detectable via the
    * `_version` marker) rather than failing the commit that already
    * published; every swallowed failure logs at warn so a stale external
    * view is diagnosable.
    */
  private[pjparquet] def autoMaintain(
      fs: org.apache.hadoop.fs.FileSystem, rootPath: Path): Unit =
    try maintain(fs, rootPath)
    catch {
      case scala.util.control.NonFatal(e) =>
        log.warn("pjparquet: symlink-manifest maintenance failed for {} " +
          "(the external _version marker may now be stale): {}",
          rootPath.toString, e.toString)
    }

  /** Incremental maintenance: when the on-disk `_version` marker names the
    * head commit's PREDECESSOR and the head is a delta commit, rewrite
    * only the partition manifests the delta touched; anything else falls
    * back to a full regeneration.
    */
  private def maintain(fs: org.apache.hadoop.fs.FileSystem, rootPath: Path): Unit = {
    val snap = requireManifestable(fs, rootPath, rootPath.toString)
    val manifestRoot = new Path(rootPath, DirName)
    val manifested = readVersionMarker(fs, manifestRoot)
    if (manifested.contains(snap.version)) return
    if (!manifested.contains(snap.version - 1)) {
      generate(fs, rootPath, rootPath.toString); return
    }
    val d = PjCommitLog.delta(fs, rootPath, snap.version)
    if (d.fullState) { generate(fs, rootPath, rootPath.toString); return }
    val touched: Set[String] =
      (d.add.map(_.path) ++ d.remove).map(relDirOf).toSet
    if (touched.isEmpty) { publishVersionGuarded(fs, rootPath, manifestRoot, snap.version); return }
    val byDir = liveUrisByDir(fs, rootPath, snap)
    // new/changed manifests first (atomic per file), stale dirs after —
    // a racing external reader never sees a partition without a manifest
    touched.foreach { rel =>
      byDir.get(rel) match {
        case Some(uris) =>
          val dir = if (rel.isEmpty) manifestRoot else new Path(manifestRoot, rel)
          fs.mkdirs(dir)
          publish(fs, new Path(dir, "manifest"), uris.mkString("", "\n", "\n"))
          manifestsWritten.incrementAndGet()
        case None => // partition went empty: its manifest dir is stale
          val dir = if (rel.isEmpty) manifestRoot else new Path(manifestRoot, rel)
          if (rel.isEmpty) fs.delete(new Path(dir, "manifest"), false)
          else fs.delete(dir, true)
      }
    }
    publishVersionGuarded(fs, rootPath, manifestRoot, snap.version)
  }

  /** Two concurrent commits' maintainers can interleave: the slower
    * (OLDER) one must not publish a `_version` below one already
    * recorded — that would silently regress the marker and leave the
    * partition manifests a mix of two generations until the next commit.
    * Re-read the marker at publish time; on a newer marker, reconcile
    * with a full regeneration at the CURRENT head instead (its own
    * publish re-checks the same way through this path's caller contract —
    * generate() always writes the snapshot it read, which is at least as
    * new as the marker that beat us).
    */
  private def publishVersionGuarded(
      fs: org.apache.hadoop.fs.FileSystem, rootPath: Path,
      manifestRoot: Path, v: Long): Unit = {
    if (readVersionMarker(fs, manifestRoot).exists(_ > v)) {
      log.warn("pjparquet: symlink-manifest maintainer for version {} lost to a " +
        "newer generation; reconciling {} with a full regeneration",
        v.toString, rootPath.toString)
      generate(fs, rootPath, rootPath.toString)
    } else publishVersion(fs, manifestRoot, v)
  }

  private def requireManifestable(
      fs: org.apache.hadoop.fs.FileSystem, rootPath: Path,
      root: String): PjCommitLog.Snapshot = {
    val snap = PjCommitLog.latest(fs, rootPath).getOrElse(
      throw new PJException(
        s"pjparquet: '$root' is not a commit-log table — symlink manifests " +
          "materialize a logged snapshot (CALL pj.system.convert to adopt a " +
          "plain directory first)"))
    if (snap.entries.exists(_.dv.isDefined))
      throw new PJException(
        s"pjparquet: '$root' carries deletion vectors — external readers " +
          "consume raw files, so DV-deleted rows would resurrect in the " +
          "manifested view. Run CALL pj.system.purge_deletion_vectors first")
    snap
  }

  /** Live files grouped by partition directory (rel dir = the manifest's
    * partition path); shallow-clone entries (absolute paths outside the
    * root) manifest under the root — external readers follow the URIs,
    * not the layout.
    */
  private def liveUrisByDir(
      fs: org.apache.hadoop.fs.FileSystem, rootPath: Path,
      snap: PjCommitLog.Snapshot): Map[String, Seq[String]] = {
    val rootQ = fs.makeQualified(rootPath)
    snap.entries
      .filterNot(_.isEmptyFile)
      .map { e =>
        val abs = new Path(rootQ, e.path)
        (relDirOf(e.path), fs.makeQualified(abs).toUri.toString)
      }
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
  }

  private def relDirOf(entryPath: String): String =
    if (entryPath.startsWith("/")) ""
    else {
      val i = entryPath.lastIndexOf('/')
      if (i < 0) "" else entryPath.substring(0, i)
    }

  private def readVersionMarker(
      fs: org.apache.hadoop.fs.FileSystem, manifestRoot: Path): Option[Long] =
    try {
      val in = fs.open(new Path(manifestRoot, "_version"))
      val body = try {
        val buf = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
        buf.toString("UTF-8").trim
      } finally in.close()
      if (body.nonEmpty && body.forall(_.isDigit)) Some(body.toLong) else None
    } catch { case _: java.io.IOException => None }

  private def publishVersion(
      fs: org.apache.hadoop.fs.FileSystem, manifestRoot: Path, v: Long): Unit = {
    fs.mkdirs(manifestRoot)
    publish(fs, new Path(manifestRoot, "_version"), s"$v\n")
  }

  private def generate(
      fs: org.apache.hadoop.fs.FileSystem, rootPath: Path, root: String): Report = {
    val snap = requireManifestable(fs, rootPath, root)
    val byDir = liveUrisByDir(fs, rootPath, snap)
    val manifestRoot = new Path(rootPath, DirName)
    // stale dirs = partitions manifested by a prior generation that hold
    // no live file now; collected BEFORE writing so the delete wave below
    // can run after the new manifests are all in place
    val stale: Seq[String] = listManifestDirs(fs, manifestRoot).filterNot(byDir.contains)
    val session = org.apache.spark.sql.SparkSession.getActiveSession
    if (byDir.size >= ParallelWriteMinDirs && session.isDefined) {
      // one Spark job writes every partition's manifest — wall-clock is
      // one round-trip wave, not one per partition
      distributedWrites.incrementAndGet()
      val shipped = PjHadoopConf.ship(session.get)
      val mrStr = manifestRoot.toString
      val items = byDir.toSeq.map { case (rel, uris) =>
        (rel, uris.mkString("", "\n", "\n"))
      }
      session.get.sparkContext
        .parallelize(items, math.min(items.size, 512))
        .foreachPartition { it =>
          val conf = shipped.newConf()
          it.foreach { case (rel, body) =>
            val mr = new Path(mrStr)
            val dir = if (rel.isEmpty) mr else new Path(mr, rel)
            val dfs = dir.getFileSystem(conf)
            dfs.mkdirs(dir)
            publish(dfs, new Path(dir, "manifest"), body)
          }
        }
    } else byDir.foreach { case (rel, uris) =>
      val dir = if (rel.isEmpty) manifestRoot else new Path(manifestRoot, rel)
      fs.mkdirs(dir)
      publish(fs, new Path(dir, "manifest"), uris.mkString("", "\n", "\n"))
    }
    manifestsWritten.addAndGet(byDir.size.toLong)
    // only now drop prior-generation manifests (each publish above already
    // replaced its partition's file atomically): racing readers saw a
    // complete old or new manifest at every instant
    stale.foreach { rel =>
      if (rel.isEmpty) fs.delete(new Path(manifestRoot, "manifest"), false)
      else fs.delete(new Path(manifestRoot, rel), true)
    }
    // an even NEWER generation may have published while this one wrote —
    // never regress its marker (the same re-read-and-compare guard the
    // incremental maintainer applies; its manifests are already in place,
    // so keeping its marker is the truthful state). The residual
    // check-to-write window self-heals at the next commit's maintenance.
    if (!readVersionMarker(fs, manifestRoot).exists(_ > snap.version))
      publishVersion(fs, manifestRoot, snap.version)
    Report(snap.version, byDir.valuesIterator.map(_.size.toLong).sum, byDir.size.toLong)
  }

  /** Rel dirs that currently hold a `manifest` file ("" = root). */
  private def listManifestDirs(
      fs: org.apache.hadoop.fs.FileSystem, manifestRoot: Path): Seq[String] =
    try {
      val rootQ = fs.makeQualified(manifestRoot).toString
      val out = Seq.newBuilder[String]
      val it = fs.listFiles(manifestRoot, true)
      while (it.hasNext) {
        val s = it.next()
        if (s.isFile && s.getPath.getName == "manifest") {
          val parent = fs.makeQualified(s.getPath.getParent).toString
          out += (if (parent == rootQ) ""
          else parent.stripPrefix(rootQ).stripPrefix("/"))
        }
      }
      out.result()
    } catch { case _: java.io.FileNotFoundException => Nil }

  private def publish(fs: org.apache.hadoop.fs.FileSystem, dst: Path, body: String): Unit = {
    val tmp = new Path(dst.getParent, s".${dst.getName}.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    val out = fs.create(tmp, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    if (!fs.rename(tmp, dst)) {
      fs.delete(dst, false)
      if (!fs.rename(tmp, dst))
        throw new java.io.IOException(s"pjparquet: cannot publish manifest $dst")
    }
  }
}
