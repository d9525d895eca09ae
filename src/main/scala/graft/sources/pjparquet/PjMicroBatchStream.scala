package graft.sources.pjparquet

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadAllAvailable, ReadLimit, ReadMaxBytes, ReadMaxFiles, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.StructType

/** Streaming-read configuration threaded from the scan builder's options:
  * `maxFilesPerTrigger` caps each micro-batch (admission control /
  * backpressure — a backlog of 100k files drains as bounded batches
  * instead of one giant first batch).
  */
final case class PjStreamInfo(
    path: String,
    autogen: Boolean,
    mergeSchema: Boolean,
    maxFilesPerTrigger: Option[Int],
    /** `skipChangeCommits` (Delta parity): files added by ROW-CHANGING
      * commits (DML rewrites, overwrites, restores) are silently skipped
      * instead of failing the stream.
      */
    skipChangeCommits: Boolean = false,
    /** `maxBytesPerTrigger` (Delta parity): soft per-batch byte cap —
      * files admit in (mtime, path) order until the NEXT one would push
      * the batch past the cap, always at least one (a single file larger
      * than the cap still makes progress). Composes with
      * `maxFilesPerTrigger`: whichever cap binds first ends the batch.
      */
    maxBytesPerTrigger: Option[Long] = None)

/** Micro-batch directory ingestion over pjparquet — `spark.readStream
  * .format("pjparquet").load(dir)` for the standard "parquet drops land in
  * a directory" pipeline, with all of the batch source's properties intact:
  * schema from the index (no inference storm), per-batch planning from
  * sidecars (executors never parse footers), partition columns, column
  * pruning and filter pushdown.
  *
  * Offsets are a CONSTANT-SIZE batch cursor: `{"batchId":N}`. The file
  * list of each batch lives in a per-source metadata log under the
  * stream's checkpoint location (`<checkpoint>/pjfilelog/<batchId>`,
  * written atomically via temp+rename before the offset is returned), so
  * a checkpointed offset never carries file paths — an object store that
  * stamps 10k files in one coarse mtime tick still yields a ~20-byte
  * offset. Batch membership is decided by a seen-paths set replayed from
  * the log at restart (the same design as Spark's own FileStreamSource),
  * which also makes the source robust to files landing *within* an
  * already-partially-consumed mtime tick in any path order. Each file
  * lands in exactly one logged batch; replay of a planned-but-uncommitted
  * batch reads the identical file list back from the log.
  *
  * Driver memory holds one path per ingested file (like FileStreamSource);
  * log entries are one small file per batch, bounded by the batch's file
  * count, and every [[CompactInterval]] batches the log compacts to one
  * seen-set snapshot + a bounded numeric tail, so neither entry count nor
  * restart replay grows with stream lifetime.
  *
  * With `maxFilesPerTrigger` each batch takes at most n pending files in
  * (mtime, path) order; `Trigger.AvailableNow` snapshots the listing at
  * prepare time and drains exactly that set as a sequence of bounded
  * batches.
  */
class PjMicroBatchStream(
    info: PjStreamInfo,
    fileSchema: StructType,
    dataRequired: StructType,
    partitionSchema: StructType,
    partRequired: StructType,
    pushedFilters: Seq[org.apache.spark.sql.sources.Filter],
    /** Partition-exact filters the batch builder claimed as fully pushed:
      * Spark no longer re-applies them above the scan, so every per-batch
      * file discovery must re-apply them here (definite-match keeps).
      */
    claimedFilters: Seq[org.apache.spark.sql.sources.Filter] = Nil,
    /** Stream checkpoint dir for this source (from `toMicroBatchStream`);
      * hosts the per-batch file-list log.
      */
    checkpointLocation: String = "")
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  // ---------------------------------------------------------------- offsets

  /** Constant-size committed offset: the id of the last logged batch. */
  final case class PjStreamOffset(batchId: Long) extends Offset {
    override def json(): String = s"""{"batchId":$batchId}"""
  }

  private def jq(s: String) = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private val Earliest = PjStreamOffset(-1L)

  override def initialOffset(): Offset = Earliest

  override def deserializeOffset(json: String): Offset =
    """"batchId":(-?\d+)""".r.findFirstMatchIn(json) match {
      case Some(m) => PjStreamOffset(m.group(1).toLong)
      case None =>
        throw new graft.core.PJException(
          s"pjparquet stream: offset $json of '${info.path}' has no batchId; " +
            "restart the stream from a fresh checkpoint")
    }

  // ----------------------------------------------------------- metadata log

  private def hadoopConf = SparkSession.active.sessionState.newHadoopConf()

  private def logDir = new Path(checkpointLocation, "pjfilelog")

  /** Atomic (temp + rename) write of one batch's file list, one path per
    * line with the JSON string escape (paths may contain anything but are
    * newline-escaped, so line-split parsing is exact).
    */
  private def writeLog(name: String, paths: Seq[String]): Unit = {
    val fs = logDir.getFileSystem(hadoopConf)
    fs.mkdirs(logDir)
    val tmp = new Path(logDir, s".$name.tmp")
    val dst = new Path(logDir, name)
    val out = fs.create(tmp, true)
    try out.write(paths.map(jq).mkString("\n").getBytes("UTF-8"))
    finally out.close()
    if (!fs.rename(tmp, dst) && !fs.exists(dst))
      throw new java.io.IOException(s"pjparquet stream log: cannot publish $dst")
  }

  private def readLog(name: String): Seq[String] = {
    val fs = logDir.getFileSystem(hadoopConf)
    val in = fs.open(new Path(logDir, name))
    val bytes = try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](64 * 1024)
      var n = in.read(chunk)
      while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      buf.toByteArray
    } finally in.close()
    val s = new String(bytes, "UTF-8")
    if (s.isEmpty) Nil
    else s.split('\n').toSeq.map(l =>
      l.stripPrefix("\"").stripSuffix("\"")
        .replace("\\\"", "\"").replace("\\\\", "\\"))
  }

  /** Driver-side ingestion state, replayed from the log once per stream
    * instance (restart safety). Guarded by `this` — the micro-batch thread
    * is single, but prepare/latestOffset interleavings stay safe.
    */
  private val seen = mutable.HashSet.empty[String]
  private var maxLoggedBatch = -1L
  private var replayed = false

  /** Every `CompactInterval` batches the whole seen-set is snapshotted as
    * one `seen-<id>` entry and numeric entries more than two intervals old
    * are pruned (the engine only ever replans the last in-flight batch),
    * so restart replay reads one snapshot + a bounded tail instead of one
    * file per batch of the stream's lifetime — the same amortization as
    * FileStreamSource's compact log.
    */
  private val CompactInterval = 10L

  private def ensureReplayed(): Unit = synchronized {
    if (replayed) return
    if (checkpointLocation.nonEmpty) {
      val fs = logDir.getFileSystem(hadoopConf)
      if (fs.exists(logDir)) {
        val names = fs.listStatus(logDir).toSeq.map(_.getPath.getName)
        val snapId = names.filter(_.startsWith("seen-"))
          .map(_.stripPrefix("seen-")).filter(s => s.nonEmpty && s.forall(_.isDigit))
          .map(_.toLong).sorted.lastOption
        snapId.foreach { id =>
          seen ++= readLog(s"seen-$id")
          maxLoggedBatch = id
        }
        names.filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong).sorted
          .filter(id => snapId.forall(id > _)).foreach { id =>
            seen ++= readLog(id.toString); maxLoggedBatch = math.max(maxLoggedBatch, id)
          }
        // suppressed-file entries ([[latestOffset]]): paths whose rows were
        // already delivered through their retired sources — replayed as
        // delivered (idempotent union; entries folded into a snapshot are
        // deleted at compaction) so a restart keeps delivered-counts
        // correct TRANSITIVELY: a later rewrite consuming a suppressed
        // file must see its source as delivered, not as a fresh start
        names.filter(_.startsWith("sup-")).foreach(n => seen ++= readLog(n))
      }
    }
    replayed = true
  }

  /** Snapshot + prune (see [[CompactInterval]]); called with `seen` already
    * including batch `id`.
    */
  private def maybeCompact(id: Long): Unit = {
    if ((id + 1) % CompactInterval != 0) return
    writeLog(s"seen-$id", seen.toSeq.sorted)
    val fs = logDir.getFileSystem(hadoopConf)
    val keepFrom = id - 2 * CompactInterval
    fs.listStatus(logDir).foreach { s =>
      val n = s.getPath.getName
      val dropNumeric = n.nonEmpty && n.forall(_.isDigit) && n.toLong <= keepFrom
      val snapBody = n.stripPrefix("seen-")
      val dropSnap = n.startsWith("seen-") &&
        snapBody.nonEmpty && snapBody.forall(_.isDigit) && snapBody.toLong < id
      // suppressed-file entries fold into the snapshot just written (seen
      // already contains them when maybeCompact is called)
      val dropSup = n.startsWith("sup-")
      if (dropNumeric || dropSnap || dropSup)
        fs.delete(s.getPath, false)
    }
  }

  // -------------------------------------------- change-commit admission

  /** How a file ENTERED the snapshot, from its adding commit's delta:
    * `pureMove` = the commit provably moved rows without changing any
    * (compaction / ZORDER / clone materialization / `preservedRows`);
    * otherwise a row-CHANGING commit (DML rewrite, overwrite, truncate,
    * restore, merge-on-read delta). `removedAbs` = the commit's retired
    * sources — whether THEY were delivered decides fresh-start vs
    * mid-stream. Files whose commit the classifier cannot see (unlogged
    * directories, expired commits) are plain
    * arrivals: the stream delivers the current state.
    */
  private final case class AddClass(
      action: String, pureMove: Boolean, removedAbs: Set[String])

  private val addClass = mutable.Map.empty[String, AddClass]
  private var classifiedThrough = -1L
  private val PureMoveActions = Set("compact", "optimize-zorder", "materialize")
  private val AppendActions = Set("append", "create")

  /** Fold the deltas of retained commit versions above `classifiedThrough`
    * into the per-file admission map — O(new versions) streamed delta
    * reads, incremental after the first call.
    */
  private def refreshAddClasses(): Unit = {
    val root = new Path(info.path)
    val fs = root.getFileSystem(hadoopConf)
    if (!PjCommitLog.isEnabled(fs, root)) return
    val rootQ = fs.makeQualified(root)
    def abs(rel: String): String = new Path(rootQ, rel).toString
    PjCommitLog.history(fs, root)
      .filter(_.version > classifiedThrough)
      .sortBy(_.version)
      .foreach { h =>
        val d = scala.util.Try(PjCommitLog.delta(fs, root, h.version)).getOrElse(null)
        if (d != null && !d.fullState) {
          if (AppendActions.contains(d.action))
            d.add.foreach(e => addClass.remove(abs(e.path)))
          else {
            val c = AddClass(
              d.operation.getOrElse(d.action),
              PureMoveActions.contains(d.action) || d.preservedRows,
              d.remove.map(abs).toSet)
            d.add.foreach(e => addClass(abs(e.path)) = c)
          }
        }
        classifiedThrough = math.max(classifiedThrough, h.version)
      }
  }

  /** Admission decision for an unseen listed file. Plain arrivals pass.
    * For move/change outputs, delivery of their retired SOURCES decides:
    * none delivered = a fresh stream ingesting the current state — pass;
    * all delivered = a mid-stream rewrite — pure moves suppress silently
    * (rows are bit-identical to what was delivered), change commits fail
    * the stream (Delta's contract) unless `skipChangeCommits`; partial
    * delivery can't guarantee exactly-once either way — fail loudly.
    */
  private def admit(path: String): Boolean = addClass.get(path) match {
    case None => true
    case Some(AddClass(action, pureMove, removed)) =>
      val delivered = removed.count(seen.contains)
      if (delivered == 0) true
      else if (delivered == removed.size) {
        if (pureMove) false
        else if (info.skipChangeCommits) false
        else throw new graft.core.PJException(
          s"pjparquet stream: detected a data-changing commit ($action) in " +
            s"'${info.path}' — streaming a table that UPDATEs/DELETEs/" +
            "overwrites rows would re-deliver changed rows. Set the " +
            "skipChangeCommits option to stream past change commits " +
            "(their rewritten rows are skipped), or stream the change feed " +
            "instead (pjparquet-cdf)")
      } else throw new graft.core.PJException(
        s"pjparquet stream: '$path' was produced by a commit ($action) that " +
          s"consumed $delivered of ${removed.size} already-delivered files — " +
          "exactly-once delivery cannot be guaranteed across this boundary. " +
          "Restart the stream from a fresh checkpoint, or run maintenance " +
          "only when no batch is in flight")
  }

  // ------------------------------------------------------------- discovery

  /** (path -> mtime) of every INGESTIBLE data file under the directory
    * right now. On a commit-log table ([[PjCommitLog]]) that means the
    * HEAD snapshot's files: a racing writer's uncommitted files and failed
    * attempts never enter a batch (the streaming analogue of the batch
    * path's snapshot isolation). Files RETIRED by later commits were
    * already ingested while live — the source is append-only, so
    * retirement never re-delivers or un-delivers them; run maintenance
    * passes (compaction/OPTIMIZE) only when no batch is in flight, as
    * with any direct-committer source.
    */
  private def listMtimes(): Map[String, (Long, Long)] = {
    // a recursive listing racing a concurrent writer's temp-file rename
    // (compaction work dirs, log commit temps) can observe a path that
    // vanishes before its status is read — local filesystems throw where
    // object stores return a consistent page. The listing is a pure
    // snapshot read: retry it.
    var attempt = 0
    while (true) {
      try return listMtimesOnce()
      catch {
        // RawLocalFileSystem surfaces the vanished-path race as a bare
        // RuntimeException ("Error while running command to get file
        // permissions"), not an IOException — retry both, never our own
        case e: graft.core.PJException => throw e
        case scala.util.control.NonFatal(_) if attempt < 4 =>
          attempt += 1
          Thread.sleep(50L * attempt)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def listMtimesOnce(): Map[String, (Long, Long)] = {
    val root = new Path(info.path)
    val fs = root.getFileSystem(hadoopConf)
    // log enabled but ZERO commits = "not yet logged": the directory
    // listing is live, matching batch resolution (a mkdir-enabled table
    // must not stream nothing until its first logged commit)
    val snap: Option[PjCommitLog.Snapshot] =
      if (PjCommitLog.isEnabled(fs, root)) PjCommitLog.latest(fs, root)
      else None
    val snapshot: Option[Set[String]] = snap.map(_.files.toSet)
    // internal-dir-skipping walk: a per-micro-batch listing must never
    // race a concurrent compaction's live scratch dirs
    val m = Map.newBuilder[String, (Long, Long)]
    PjBatchWrite.walkDataFiles(fs, root).foreach { s =>
      val rel = PjCommitLog.relativize(fs, root, s.getPath)
      if (!PjBatchWrite.isInternalRel(rel) && snapshot.forall(_.contains(rel)))
        m += (s.getPath.toString -> (s.getModificationTime, s.getLen))
    }
    // SHALLOW-CLONE entries ([[PjClone]]) live OUTSIDE the root and never
    // appear in the listing — enter them straight from the snapshot (they
    // are committed by definition, so the no-uncommitted-files isolation
    // above still holds; mtime 0 orders the cloned backlog before local
    // arrivals, rendered exactly as the batch resolver renders them so
    // the logged batch lists match the layout's paths)
    val rootQ = fs.makeQualified(root)
    snap.toSeq.flatMap(_.entries)
      .filter(e => e.path.startsWith("/") && !e.isEmptyFile)
      .foreach(e => m += (new Path(rootQ, e.path).toString -> (0L, math.max(e.size, 0L))))
    m.result()
  }

  override def getDefaultReadLimit: ReadLimit = {
    val limits = info.maxFilesPerTrigger.map(ReadLimit.maxFiles).toSeq ++
      info.maxBytesPerTrigger.map(ReadLimit.maxBytes).toSeq
    limits match {
      case Nil => ReadLimit.allAvailable()
      case Seq(one) => one
      case many => ReadLimit.compositeLimit(many.toArray)
    }
  }

  /** `Trigger.AvailableNow` snapshot: the path set present at prepare time.
    * Files that appear after this point belong to the next run, and the
    * bounded-batch loop terminates when the snapshot is drained. Native
    * implementation (rather than Spark's wrapper) is what lets AvailableNow
    * compose with `maxFilesPerTrigger` as a sequence of bounded batches.
    */
  @volatile private var availableNowSnapshot: Option[Set[String]] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowSnapshot = Some(listMtimes().keySet)

  /** Log (atomically) and return the next batch boundary: at most `limit`
    * unseen files in (mtime, path) order. If our log is already ahead of
    * `start` (crash between our log write and Spark's offset-log write),
    * the logged boundary is returned as-is so replay reads the identical
    * file list.
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = synchronized {
    ensureReplayed()
    val startId = start.asInstanceOf[PjStreamOffset].batchId
    if (maxLoggedBatch > startId) return PjStreamOffset(maxLoggedBatch)
    val inSnapshot: String => Boolean =
      availableNowSnapshot.map(s => s.contains(_)).getOrElse(_ => true)
    val listed = listMtimes()
    // classify AFTER the listing: the history read then covers every
    // version the listing's snapshot saw, so a commit racing this poll
    // can never deliver its files unclassified
    refreshAddClasses()
    // files admit() SUPPRESSES (pure-move outputs, change-commit outputs
    // under skipChangeCommits) are DELIVERED-BY-PROXY: their rows reached
    // the sink through their retired sources. Mark them seen AND persist
    // them (own log entry, never part of a batch union) so a LATER rewrite
    // consuming a suppressed file computes delivered=all — suppression
    // transitively, not a "fresh start" that re-delivers the rows — and so
    // a restart replays the same knowledge
    val suppressed = mutable.ArrayBuffer.empty[String]
    val pending = listed.toSeq
      .filter { case (p, _) =>
        !seen.contains(p) && inSnapshot(p) && {
          val a = admit(p)
          if (!a) suppressed += p
          a
        }
      }
      .sortBy { case (p, (m, _)) => (m, p) }
    if (suppressed.nonEmpty) {
      writeLog(s"sup-${java.util.UUID.randomUUID().toString.take(12)}",
        suppressed.toSeq.sorted)
      seen ++= suppressed
    }
    if (pending.isEmpty) return start
    // flatten a composite limit; unknown kinds mean "no cap of that kind"
    def flatten(l: ReadLimit): Seq[ReadLimit] = l match {
      case c: CompositeReadLimit => c.getReadLimits.toSeq.flatMap(flatten)
      case _: ReadAllAvailable => Nil
      case other => Seq(other)
    }
    val parts = flatten(limit)
    val fileCap = parts.collectFirst { case f: ReadMaxFiles => f.maxFiles() }
      .getOrElse(Int.MaxValue)
    val byteCap = parts.collectFirst { case b: ReadMaxBytes => b.maxBytes() }
      .getOrElse(Long.MaxValue)
    // soft byte cap: stop BEFORE the file that would cross it, but always
    // admit at least one file so an oversized single file still progresses
    val taken = {
      val out = Seq.newBuilder[String]
      var files = 0
      var bytes = 0L
      val it = pending.iterator
      var done = false
      while (!done && it.hasNext) {
        val (p, (_, sz)) = it.next()
        if (files >= fileCap || (files > 0 && bytes + sz > byteCap)) done = true
        else { out += p; files += 1; bytes += sz }
      }
      out.result()
    }
    val newId = maxLoggedBatch + 1
    writeLog(newId.toString, taken)
    seen ++= taken
    maxLoggedBatch = newId
    maybeCompact(newId)
    PjStreamOffset(newId)
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead of this method")

  // ---------------------------------------------------------------- planning

  /** Files in `(start, end]`: the union of the logged batch lists, as
    * validated PjFiles (index bytes + partition values) from the batch
    * resolver.
    */
  private def filesInWindow(start: Offset, end: Offset): Seq[PjFile] = {
    val endId = end.asInstanceOf[PjStreamOffset].batchId
    if (endId < 0) return Nil
    ensureReplayed()
    val startId = start.asInstanceOf[PjStreamOffset].batchId
    val wanted = ((startId + 1) to endId).flatMap(id => readLog(id.toString)).toSet
    val layout = PjParquetTable.resolveFiles(
      info.path, hadoopConf, info.autogen, info.mergeSchema)
    layout.files.filter(f => wanted(f.path))
      .filter(f => claimedFilters.forall(cf =>
        PjPartitionFilter.exactMatch(partitionSchema, f, cf).contains(true)))
  }

  private def batchScan(files: Seq[PjFile]): PjScan =
    new PjScan(files, fileSchema, dataRequired, partitionSchema, partRequired,
      None, pushedFilters)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    batchScan(filesInWindow(start, end)).planInputPartitions()

  override def createReaderFactory(): PartitionReaderFactory =
    batchScan(Nil).createReaderFactory()

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}
