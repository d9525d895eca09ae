package graft.sources.pjparquet

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Directory hygiene for pjparquet tables — the janitor half of the
  * sidecar lifecycle ([[PjIndexJob]] creates, [[PjCompaction]] consumes,
  * this reclaims):
  *
  *  - orphan sidecars: a `.x.parquet.index` whose `x.parquet` is gone
  *    (manual deletes, aborted rewrites) wastes listing time and bytes
  *    forever — nothing else ever looks at it again;
  *  - abandoned work dirs: `.compact_tmp_*` from a crashed
  *    [[PjCompaction]] pass and `_temporary` from a dead Spark write
  *    commit are invisible to readers but accumulate full-size data.
  *
  * Deletes stay driver-side (metadata-rate), but the recursive LISTING
  * distributes: at millions of objects on an object store a sequential
  * `fs.listFiles(root, true)` walk is hours of driver metadata calls, so
  * the walk runs as a directory-frontier BFS whose wide waves list on
  * executors ([[bfsList]] — Delta's VACUUM does the same). Never touches
  * live data files, live sidecars, or directories it does not recognize.
  */
object PjVacuum {

  /** One listed entry of the recursive walk (directories never appear —
    * the walk descends into them instead).
    */
  private[pjparquet] final case class FileLite(path: String, len: Long, mtime: Long)

  /** Frontier width at/above which a BFS wave lists on executors. Below
    * it the driver lists directly — small tables never pay job-launch
    * latency.
    */
  private[sources] val ParallelListMinDirs = 8

  /** Observability/spec counter: BFS waves that ran as Spark jobs. */
  private[sources] val distributedWaves = new java.util.concurrent.atomic.AtomicLong

  /** Victim count at/above which physical deletes run as ONE Spark job
    * instead of a sequential driver loop — a million orphan deletes on an
    * object store are hours of serialized round-trips otherwise (Delta's
    * `spark.databricks.delta.vacuum.parallelDelete.enabled`). Below it
    * the driver deletes directly: no job-launch latency for small sweeps.
    */
  private[sources] val ParallelDeleteMinFiles = 64

  /** Observability/spec counter: delete batches that ran as Spark jobs. */
  private[sources] val distributedDeleteJobs = new java.util.concurrent.atomic.AtomicLong

  /** Delete every path (its `.index`/`.bloom` sidecars too when
    * `withSidecars`): driver loop below [[ParallelDeleteMinFiles]], one
    * Spark job above it — the delete round-trips spread across executors,
    * wall-clock drops from O(victims) to O(victims / cluster).
    */
  private def deleteAll(
      spark: SparkSession, fs: org.apache.hadoop.fs.FileSystem, paths: Seq[Path],
      withSidecars: Boolean): Unit = {
    if (paths.isEmpty) return
    if (paths.size < ParallelDeleteMinFiles) {
      paths.foreach { p =>
        if (withSidecars) PjBatchWrite.deleteWithSidecars(fs, p)
        else fs.delete(p, false)
      }
    } else {
      distributedDeleteJobs.incrementAndGet()
      val shipped = PjHadoopConf.ship(spark)
      val strs = paths.map(_.toString)
      spark.sparkContext
        .parallelize(strs, math.max(1, math.min(strs.size / 16 + 1, 512)))
        .foreachPartition { it =>
          var pfs: org.apache.hadoop.fs.FileSystem = null
          it.foreach { s =>
            val p = new Path(s)
            if (pfs == null) pfs = p.getFileSystem(shipped.newConf())
            if (withSidecars) PjBatchWrite.deleteWithSidecars(pfs, p)
            else pfs.delete(p, false)
          }
        }
    }
  }

  /** Executor-parallel recursive listing: BFS over the directory tree in
    * waves — each wave lists the whole current frontier in ONE Spark job
    * (one task per directory slice), so wall-clock tracks tree DEPTH while
    * the per-wave metadata calls spread across the cluster. Work dirs
    * (`.compact_tmp_*`, `_temporary` — abandoned rewrite scratch) are
    * returned separately and never entered: their contents are invisible
    * to readers and die with the directory.
    */
  private[pjparquet] def bfsList(
      spark: SparkSession, hconf: org.apache.hadoop.conf.Configuration,
      root: Path): (Seq[FileLite], Seq[String]) = {
    def listOne(conf: org.apache.hadoop.conf.Configuration, dirStr: String)
        : (Seq[FileLite], Seq[String], Seq[String]) = {
      val d = new Path(dirStr)
      val dfs = d.getFileSystem(conf)
      val files = Seq.newBuilder[FileLite]
      val dirs = Seq.newBuilder[String]
      val work = Seq.newBuilder[String]
      dfs.listStatus(d).foreach { s =>
        if (s.isDirectory) {
          val n = s.getPath.getName
          if (n.startsWith(".compact_tmp_") || n == "_temporary")
            work += s.getPath.toString
          else dirs += s.getPath.toString
        } else files += FileLite(s.getPath.toString, s.getLen, s.getModificationTime)
      }
      (files.result(), dirs.result(), work.result())
    }
    var frontier = Seq(root.toString)
    val files = Seq.newBuilder[FileLite]
    val work = Seq.newBuilder[String]
    while (frontier.nonEmpty) {
      val wave: Seq[(Seq[FileLite], Seq[String], Seq[String])] =
        if (frontier.size >= ParallelListMinDirs) {
          distributedWaves.incrementAndGet()
          val shipped = PjHadoopConf.ship(spark)
          spark.sparkContext
            .parallelize(frontier, math.min(frontier.size, 512))
            .mapPartitions { it =>
              val conf = shipped.newConf()
              it.map(listOne(conf, _))
            }.collect().toSeq
        } else frontier.map(listOne(hconf, _))
      frontier = wave.flatMap(_._2)
      wave.foreach { case (f, _, w) => files ++= f; work ++= w }
    }
    (files.result(), work.result())
  }

  final case class Report(orphanSidecars: Long, workDirs: Long)

  def clean(spark: SparkSession, root: String): Report = {
    val hconf = spark.sessionState.newHadoopConf()
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(hconf)

    var orphans = 0L

    // ONE distributed walk serves both passes: abandoned work dirs come
    // back unenterred (delete whole), and the file list feeds the orphan-
    // sidecar match below
    val (files, workList) = bfsList(spark, hconf, rootPath)
    workList.foreach(w => fs.delete(new Path(w), true))
    val workDirs = workList.size.toLong

    // orphan sidecars: hidden `.x.parquet.index` (and `.x.parquet.bloom`,
    // PjBloom) files whose data file no longer exists in the same directory
    val sidecars = scala.collection.mutable.ArrayBuffer.empty[(Path, String)]
    val dataFiles = scala.collection.mutable.HashSet.empty[String]
    files.foreach { f =>
      val p = new Path(f.path)
      val n = p.getName
      if (n.startsWith(".") && n.endsWith(".parquet.index"))
        sidecars += ((p, ".index"))
      else if (n.startsWith(".") && n.endsWith(".parquet.bloom"))
        sidecars += ((p, ".bloom"))
      else if (n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_"))
        dataFiles += p.toString
    }
    val orphanVictims = sidecars.collect {
      // `.NAME.parquet<suffix>` -> sibling `NAME.parquet`
      case (sc, suffix)
          if !dataFiles.contains(
            new Path(sc.getParent, sc.getName.stripPrefix(".").stripSuffix(suffix))
              .toString) => sc
    }
    deleteAll(spark, fs, orphanVictims.toSeq, withSidecars = false)
    orphans += orphanVictims.size
    Report(orphans, workDirs)
  }

  final case class ExpireReport(
      versionsDropped: Long, versionsKept: Long, filesReclaimed: Long)

  /** Close the time-travel window of a [[PjCommitLog]] table: keep the
    * newest `keepVersions` snapshots, drop the older log entries (after
    * materializing a checkpoint at the oldest kept version, so the
    * delta-encoded log stays replayable), and delete every data file
    * (plus its `.index`/`.bloom` sidecars) that no SURVIVING snapshot
    * references — the Delta `VACUUM` contract, where retention is the
    * only thing that ever physically deletes a logged table's retired
    * bytes. Metadata-rate driver work: one checkpoint + bounded replay
    * per kept version + one recursive listing; no data I/O.
    *
    * `minFileAgeMillis` guards racing writers: an unreferenced file
    * younger than it (an in-flight commit's staged task files, a
    * concurrent appender between its data write and its log commit) is
    * NOT deleted. The default 0 keeps the historical behavior — set it
    * (Delta defaults to 7 days) whenever expiry can run concurrently
    * with writes or streams.
    */
  def expireVersions(
      spark: SparkSession, root: String, keepVersions: Int,
      minFileAgeMillis: Long = 0L, dryRun: Boolean = false): ExpireReport = {
    require(keepVersions >= 1, s"keepVersions must be >= 1, got $keepVersions")
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    requireLogged(fs, rootPath, root)
    val versions = PjCommitLog.versions(fs, rootPath)
    val (drop, keep) = clampToTags(fs, rootPath,
      versions.splitAt(math.max(0, versions.size - keepVersions)))
    expire(spark, fs, rootPath, drop, keep, minFileAgeMillis, dryRun)
  }

  /** TAGGED versions ([[PjRefs]]) survive any retention policy: kept
    * versions must stay a contiguous suffix (replay requires it), so the
    * keep set extends down to the oldest tagged version.
    */
  private def clampToTags(
      fs: org.apache.hadoop.fs.FileSystem, rootPath: Path,
      split: (Seq[Long], Seq[Long])): (Seq[Long], Seq[Long]) = {
    val (drop, keep) = split
    val tagged = PjRefs.taggedVersions(fs, rootPath)
    if (tagged.isEmpty || drop.isEmpty) return split
    val minTagged = tagged.min
    if (keep.headOption.forall(_ <= minTagged)) return split
    val (d2, k2) = drop.partition(_ < minTagged)
    (d2, k2 ++ keep)
  }

  /** Time-based retention — the operational contract users actually
    * configure (Delta's `VACUUM ... RETAIN n HOURS`): keep every version
    * committed within the last `retentionMillis` (by snapshot timestamp),
    * and always HEAD; expire the rest. Kept versions form a contiguous
    * suffix (replay requires it): one old-enough version inside the
    * window keeps everything after it.
    */
  def expireOlderThan(
      spark: SparkSession, root: String, retentionMillis: Long,
      minFileAgeMillis: Long = 0L, dryRun: Boolean = false): ExpireReport = {
    require(retentionMillis >= 0, s"retentionMillis must be >= 0, got $retentionMillis")
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    requireLogged(fs, rootPath, root)
    val versions = PjCommitLog.versions(fs, rootPath)
    if (versions.isEmpty) return ExpireReport(0, 0, 0)
    val cut = System.currentTimeMillis() - retentionMillis
    val oldestKept = PjCommitLog.history(fs, rootPath)
      .find(_.ts >= cut).map(_.version).getOrElse(versions.last)
    val (drop, keep) = clampToTags(fs, rootPath, versions.partition(_ < oldestKept))
    expire(spark, fs, rootPath, drop, keep, minFileAgeMillis, dryRun)
  }

  private def requireLogged(fs: org.apache.hadoop.fs.FileSystem, rootPath: Path, root: String): Unit =
    if (!PjCommitLog.isEnabled(fs, rootPath))
      throw new graft.core.PJException(
        s"pjparquet: '$root' has no commit log; expireVersions applies to logged tables")

  private def expire(
      spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, rootPath: Path,
      drop: Seq[Long], keep: Seq[Long], minFileAgeMillis: Long,
      dryRun: Boolean = false): ExpireReport = {
    if (keep.isEmpty) return ExpireReport(0, 0, 0)
    // the oldest kept version must stay replayable after its delta prefix
    // drops: materialize its full checkpoint first (no-op if one exists).
    // Reclamation itself runs even with nothing to drop — files orphaned
    // by an earlier expiry (or an aborted writer) still get swept.
    // A DRY RUN (Delta's VACUUM ... DRY RUN) computes the same report and
    // touches NOTHING — no checkpoint, no deletes, no cache flush.
    if (drop.nonEmpty && !dryRun) PjCommitLog.writeCheckpoint(fs, rootPath, keep.head)
    val keptEntries = keep.map(v => PjCommitLog.read(fs, rootPath, v).entries)
    // a commit may land BETWEEN this expiry's version listing and the
    // sweep below — and a RESTORE's new head references OLD files the
    // minFileAge guard cannot protect (they are old). Re-list right
    // before reclaiming and treat every late version's files as live,
    // collapsing the expire-vs-restore loss window to the sweep itself
    // (found by the maintenance-lane concurrency fuzzer).
    val known = (keep ++ drop).toSet
    val lateEntries = PjCommitLog.versions(fs, rootPath)
      .filterNot(known.contains)
      .map(v => try PjCommitLog.read(fs, rootPath, v).entries
        catch { case scala.util.control.NonFatal(_) => Nil })
    // branch-STAGED files ([[PjRefs]]) are live-by-reference: they are in
    // no snapshot yet, but the WAP audit reads them and fast_forward will
    // publish them — the sweep must not reclaim a staged batch
    val referenced: Set[String] =
      (keptEntries ++ lateEntries).flatten.map(_.path).toSet ++
        PjRefs.branchStagedPaths(fs, rootPath)
    // deletion vectors referenced by ANY kept snapshot must survive;
    // orphans (superseded by a later delete, retired by rewrite/expiry)
    // sweep with the same age guard as data files
    val referencedDvs: Set[String] =
      (keptEntries ++ lateEntries).flatten.flatMap(_.dv.map(_.path)).toSet

    val cutoff = System.currentTimeMillis() - minFileAgeMillis
    var reclaimed = 0L
    // distributed recursive walk (bfsList): the orphan sweep's listing
    // cost spreads across executors instead of serializing on the driver
    val victims = scala.collection.mutable.ArrayBuffer.empty[Path]
    bfsList(spark, spark.sessionState.newHadoopConf(), rootPath)._1.foreach { f =>
      val p = new Path(f.path)
      val n = p.getName
      if (n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".") &&
          (minFileAgeMillis <= 0 || f.mtime <= cutoff)) {
        val rel = PjCommitLog.relativize(fs, rootPath, p)
        // internal dirs (_pq_index codes, _pj_cdc change files) are not
        // table data and are never snapshot-referenced — skip, not delete
        if (!PjBatchWrite.isInternalRel(rel) && !referenced.contains(rel))
          victims += p
      }
    }
    if (!dryRun)
      deleteAll(spark, fs, victims.toSeq,
        withSidecars = true)
    reclaimed += victims.size
    // unreferenced deletion vectors under _pj_dv/
    val dvVictims = scala.collection.mutable.ArrayBuffer.empty[Path]
    val dvDir = PjDeletionVector.dvDir(rootPath)
    if (fs.exists(dvDir)) {
      val dit = fs.listFiles(dvDir, false)
      while (dit.hasNext) {
        val s = dit.next()
        val n = s.getPath.getName
        if (s.isFile && n.endsWith(".dv") && !n.startsWith(".") &&
            (minFileAgeMillis <= 0 || s.getModificationTime <= cutoff)) {
          val rel = PjCommitLog.relativize(fs, rootPath, s.getPath)
          if (!referencedDvs.contains(rel)) dvVictims += s.getPath
        }
      }
    }
    if (!dryRun)
      deleteAll(spark, fs, dvVictims.toSeq,
        withSidecars = false)
    reclaimed += dvVictims.size
    if (!dryRun) {
      drop.foreach { v =>
        PjCommitLog.versionFiles(rootPath, v).foreach(p => fs.delete(p, true))
        // expired versions take their persisted change files with them
        fs.delete(PjChangeFeed.cdcDir(rootPath, v), true)
      }
      // only the directories this sweep emptied: a table-wide prune races a
      // concurrent writer between its mkdirs and its first file
      victims.map(_.getParent).distinct
        .foreach(PjBatchWrite.pruneEmptyParents(fs, rootPath, _))
      // stale cached layouts of expired versions would serve missing files
      PjParquetTable.clearLayoutCache()
    }
    ExpireReport(drop.size.toLong, keep.size.toLong, reclaimed)
  }
}
