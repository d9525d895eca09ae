package graft.sources.pjparquet

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.{FileSystem, Path}

import graft.core.{PJException, PJSplice}

/** Versioned commit log for pjparquet tables — opt-in snapshot isolation,
  * time travel, and ONE-read planning.
  *
  * Layout under `<root>/_pj_log/`:
  *
  *  - `<version %020d>.json` — one DELTA per commit: the files this commit
  *    ADDED (full [[FileEntry]] records: size, row count, footer
  *    fingerprint, per-column min/max/null-count stats, top-level column
  *    names) and the table-relative paths it REMOVED (retired for time
  *    travel, not deleted), plus action, timestamp, the post-commit live
  *    file count, the data schema when it changed, and the originating SQL
  *    command for row-level DML (powering [[PjChangeFeed]]).
  *  - `<version %020d>.checkpoint.json` — every [[CheckpointInterval]]
  *    commits (and at the oldest kept version after
  *    [[PjVacuum.expireVersions]]) a full snapshot, so a reader replays
  *    ONE checkpoint plus a bounded delta tail instead of the whole
  *    history — the same compaction shape as the streaming file log
  *    ([[PjMicroBatchStream]]) and Delta's `_last_checkpoint` protocol.
  *
  * Why entries carry stats: resolution of a logged table plans from the
  * log ALONE — schema, file sizes, row counts, and file-level min/max
  * pruning all come from one snapshot read with ZERO per-file sidecar
  * opens (Delta `add.stats` / Iceberg-manifest parity). Sidecar indexes
  * are loaded lazily, only for files that survive pruning, and validated
  * against the entry's footer fingerprint instead of an mtime probe.
  *
  * Log growth is O(changes + periodic snapshots), not
  * O(commits × files): a streaming source committing every epoch into a
  * million-file table writes epoch-sized deltas, and expiry drops the
  * replayed prefix behind a fresh checkpoint.
  *
  * Commit protocol: the version file is claimed ATOMICALLY — a hard link
  * on local filesystems (link(2) fails with EEXIST), exclusive create
  * elsewhere (atomic on HDFS's namenode) — so two racing writers can
  * never both own a version. A loser whose commit is a PURE APPEND
  * (removes nothing) rebases on the winner's snapshot and retries — the
  * common concurrent case (two streaming sources, backfill + live) just
  * works; anything that retires files (overwrite, DML, compaction)
  * conflicts loudly, Delta-style.
  */
object PjCommitLog {
  val DirName = "_pj_log"

  /** A full snapshot is written every this-many commits. */
  val CheckpointInterval = 10

  /** Pure-add rebase attempts before giving up. Every claim round has a
    * winner (the claim is atomic), so system-wide progress is guaranteed
    * and a generous budget is safe — Delta's equivalent knob defaults to
    * ten million; this is bounded mostly to keep a misconfigured fleet's
    * failure loud rather than eternal.
    */
  private val ConflictRetries = 100

  /** Wall clock for commit-header timestamps — an injectable hook so the
    * monotonicity spec can simulate a clock step-back (NTP correction, a
    * different writer host). Production never replaces it.
    */
  private[sources] var nowMs: () => Long = () => System.currentTimeMillis()

  /** Aggregated (whole-file) column statistics: envelope of the parquet
    * chunk stats over every row group — min of mins, max of maxes (raw
    * plain-encoded bytes, the same representation [[PjStatsFilter]]
    * compares), summed null count (-1 = unknown). Only physical types
    * with a type-defined total order that the pruner understands are
    * recorded (INT32=1, INT64=2, BYTE_ARRAY=6); everything else is
    * simply absent = never pruned on.
    */
  final case class ColStat(
      physType: Int, nullCount: Long,
      min: Option[Array[Byte]], max: Option[Array[Byte]])

  /** A deletion vector attached to a file entry: `path` is the vector's
    * table-relative path ([[PjDeletionVector]] format), `deleted` its
    * exact cardinality (so `count(*)` stays metadata-rate: rows − deleted).
    */
  final case class DvRef(path: String, deleted: Long)

  /** One live data file of a snapshot. `path` is table-root-relative.
    * Unknown facts are -1/None — entries adopted from a pre-log directory
    * plan with an eager per-file load; entries with full facts plan with
    * zero file I/O ([[planned]]).
    */
  final case class FileEntry(
      path: String,
      size: Long = -1L,
      rows: Long = -1L,
      rowGroups: Int = -1,
      fingerprint: Option[Long] = None,
      cols: Option[Seq[String]] = None,
      stats: Map[String, ColStat] = Map.empty,
      dv: Option[DvRef] = None,
      /** ROW TRACKING (Delta-style): first stable row id of this file —
        * row i's id is `baseRowId + i` (the `_pos` space). Assigned by
        * [[commit]] from the table's row-id watermark for fresh appends;
        * -1 = untracked, OR the file MATERIALIZES ids as a physical
        * `_pj_row_id` column (rewrites that preserve ids — see
        * [[RowIdColName]]).
        */
      baseRowId: Long = -1L,
      /** CLUSTERING PROVENANCE (Delta's ZCUBE tags): the exact rewrite
        * spec this file was clustered under (e.g.
        * `zorder:a,b:bits=12`) — `OPTIMIZE ZORDER` under the same spec
        * skips the file instead of re-rewriting it, so re-clustering
        * after an append costs O(new files), not O(table). None =
        * unclustered (fresh appends, compaction bins, CoW rewrites).
        */
      clusteredBy: Option[String] = None) {
    /** Plannable from the log alone (no sidecar/footer open needed). */
    def planned: Boolean = size >= 0 && rows >= 0 && rowGroups >= 0 && fingerprint.isDefined
    /** Zero-row-group parquet (legal, un-indexable, contributes no rows). */
    def isEmptyFile: Boolean = rows == 0 && rowGroups == 0
    /** Rows a read of this file actually delivers (physical − DV-deleted). */
    def liveRows: Long = if (rows < 0) rows else rows - dv.map(_.deleted).getOrElse(0L)
    /** File stores row ids as the hidden [[RowIdColName]] physical column
      * (an id-preserving rewrite wrote it).
      */
    def materializedRowIds: Boolean =
      cols.exists(_.exists(_.equalsIgnoreCase(PjCommitLog.RowIdColName)))
    /** Every row of this file has a stable id. */
    def rowTracked: Boolean = baseRowId >= 0 || materializedRowIds
  }

  /** Hidden physical column carrying MATERIALIZED row ids in rewritten
    * files. Never part of a recorded data schema, so scans never request
    * it as a user column; the `_row_id` metadata column serves it.
    */
  val RowIdColName = "_pj_row_id"

  /** Materialized state at a version (replayed checkpoint + delta tail).
    * `contentToken` is the on-disk size of the version's own log file —
    * the same validity token the snapshot cache keys on, surfaced so
    * downstream caches (the layout cache) can distinguish a table deleted
    * and recreated at the same path whose new log reaches the same head
    * version (same version number, different bytes).
    */
  final case class Snapshot(
      version: Long,
      action: String,
      /** Live entries keyed by table-relative path — a PERSISTENT sorted
        * map, structurally shared across versions by the incremental
        * replay: the steady-state commit on a million-file table updates
        * O(delta) nodes instead of copying and re-sorting the world.
        */
      entryMap: scala.collection.immutable.TreeMap[String, FileEntry],
      ts: Long = 0L,
      dataSchemaJson: Option[String] = None,
      operation: Option[String] = None,
      contentToken: Long = -1L,
      /** Write-side constraints (JSON array of {name, sql} CHECK
        * predicates) — like `dataSchemaJson`, the latest commit that
        * recorded the field wins; `"[]"` records "no constraints".
        */
      constraintsJson: Option[String] = None,
      /** Persisted table properties (flat string→string JSON object,
        * [[PjTableProperties]]) — same latest-recording-commit-wins lane;
        * `"{}"` records "no properties".
        */
      propertiesJson: Option[String] = None,
      /** ANALYZE-computed table statistics (JSON, [[PjAnalyze]]: row
        * count + per-column NDV / null count / avg+max length) — same
        * latest-recording-commit-wins lane; the scan reports them to
        * Spark's CBO via `columnStats()`.
        */
      tableStatsJson: Option[String] = None,
      /** Required table features ([[PjProtocol]] JSON: readerFeatures /
        * writerFeatures) — same latest-recording-commit-wins lane, but
        * MONOTONE by construction: [[commit]] only unions features in
        * and RESTORE never records the lane, so protection never
        * downgrades. Absent on pre-protocol tables (no enforcement).
        */
      protocolJson: Option[String] = None,
      /** Row-id high watermark (stringified long; ROW TRACKING): every
        * id ever assigned is below it, so fresh assignments can never
        * collide with ids preserved through rewrites. Monotone,
        * maintained by [[commit]].
        */
      rowWatermark: Option[String] = None,
      /** IDEMPOTENT WRITER TRANSACTIONS (Delta's SetTransaction): the
        * accumulated appId → highest recorded txnVersion map (flat JSON
        * object). Each commit may carry ONE `txn` record; replay folds
        * them into this map with max-wins semantics. A write declaring an
        * (appId, version) already at-or-below the recorded watermark
        * becomes a metadata-rate no-op — the exactly-once contract for
        * retried `foreachBatch` batches and restarted batch jobs.
        * RESTORE never records the lane, so idempotency state survives a
        * rollback (a replayed batch stays a no-op after RESTORE — the
        * rolled-back data rows are gone, but re-appending them blindly
        * would double rows the application already considers delivered).
        */
      txnsJson: Option[String] = None,
      /** Count of live entries carrying a deletion vector — maintained
        * incrementally by the replay so the per-commit protocol
        * inference is O(1) on the (common) vector-free steady state.
        */
      dvCount: Int = 0) {
    /** Path-ordered entry list (the historical shape) — materialized
      * lazily from [[entryMap]], once per snapshot instance.
      */
    lazy val entries: Seq[FileEntry] = entryMap.values.toSeq
    def files: Seq[String] = entries.map(_.path)
    /** Highest txnVersion recorded for `appId`, if any. */
    def txnVersion(appId: String): Option[Long] =
      PjCommitLog.parseTxns(txnsJson).get(appId)
  }

  /** One DESCRIBE-HISTORY row — read from each version's own (small) log
    * file, no snapshot replay.
    */
  final case class HistoryEntry(version: Long, ts: Long, action: String, nFiles: Long)

  /** The delta a commit recorded (for [[PjChangeFeed]]): files added with
    * their entries, table-relative paths removed. `fullState` marks a
    * version that survives only as a checkpoint: its delta is unknowable,
    * so `add` is the version's whole live state and `remove` is empty.
    */
  final case class Delta(
      version: Long, ts: Long, action: String, operation: Option[String],
      add: Seq[FileEntry], remove: Seq[String], fullState: Boolean,
      /** The commit provably MOVED rows without changing any (an
        * id-preserving compaction/OPTIMIZE): every consumed entry was
        * row-tracked and every added file materializes the same ids —
        * the change feed emits nothing for it, at metadata rate.
        */
      preservedRows: Boolean = false)

  /** Sentinel returned by [[commit]] when an idempotent transaction's
    * (appId, version) was already recorded: the write was SKIPPED — no
    * version was claimed, and the caller must discard any staged files.
    */
  val TxnSkipped: Long = -1L

  /** Parse the accumulated txn lane (flat JSON object appId → version). */
  private[pjparquet] def parseTxns(json: Option[String]): Map[String, Long] =
    json match {
      case None => Map.empty
      case Some(j) =>
        new ObjectMapper().readTree(j).fields().asScala
          .map(e => e.getKey -> e.getValue.asLong).toMap
    }

  private[pjparquet] def renderTxns(m: Map[String, Long]): String = {
    val mapper = new ObjectMapper()
    val node = mapper.createObjectNode()
    m.toSeq.sortBy(_._1).foreach { case (k, v) => node.put(k, v) }
    mapper.writeValueAsString(node)
  }

  /** Fold one commit's txn record into the accumulated lane (max wins —
    * a late-arriving replay of an older version must not regress the
    * watermark).
    */
  private def mergeTxn(base: Option[String], appId: String, ver: Long): String = {
    val m = parseTxns(base)
    renderTxns(m + (appId -> math.max(ver, m.getOrElse(appId, Long.MinValue))))
  }

  def logDir(root: Path): Path = new Path(root, DirName)

  /** Test observability: invoked once per successful version claim with
    * (qualified root, version, action) — the concurrency fuzzer's
    * forensic trace. No-op in production.
    */
  private[sources] var testHookOnClaim: (String, Long, String) => Unit =
    (_, _, _) => ()

  def isEnabled(fs: FileSystem, root: Path): Boolean =
    try fs.getFileStatus(logDir(root)).isDirectory
    catch { case _: java.io.FileNotFoundException => false }

  private def commitFile(root: Path, v: Long): Path =
    new Path(logDir(root), f"$v%020d.json")
  private def checkpointFile(root: Path, v: Long): Path =
    new Path(logDir(root), f"$v%020d.checkpoint.json")
  private def checkpointParquetDir(root: Path, v: Long): Path =
    new Path(logDir(root), f"$v%020d.checkpoint.parquet")

  /** Checkpoints at/above this many entries store their entry table as a
    * PARQUET directory next to the JSON header ([[writeCheckpoint]]) —
    * read through the engine itself, in parallel, instead of one
    * driver-parsed JSON document. Below it, entries inline in the JSON:
    * one tiny file beats a directory of parquet parts for small tables.
    */
  val ParquetCheckpointMinEntries = 512

  /** On-disk paths a version may own (for expiry deletion; the parquet
    * entry directory needs a recursive delete).
    */
  private[pjparquet] def versionFiles(root: Path, v: Long): Seq[Path] =
    Seq(commitFile(root, v), checkpointFile(root, v), checkpointParquetDir(root, v))

  private final case class Listing(commits: Seq[Long], checkpoints: Seq[Long],
      sizes: Map[String, Long]) {
    def versions: Seq[Long] = (commits ++ checkpoints).distinct.sorted
    /** Content token of a version's on-disk file (commit, else checkpoint):
      * size mixed with mtime, so a table deleted and recreated at the same
      * path invalidates caches even when the new file's size coincides
      * (parquet-format checkpoint headers are near-constant-size).
      */
    def token(v: Long): Long =
      sizes.getOrElse(f"$v%020d.json", sizes.getOrElse(f"$v%020d.checkpoint.json", -1L))
  }

  private def listing(fs: FileSystem, root: Path): Listing =
    try {
      val statuses = fs.listStatus(logDir(root)).toSeq
      val names = statuses.map(_.getPath.getName)
      def vOf(n: String, suffix: String): Option[Long] = {
        val body = n.stripSuffix(suffix)
        if (n.endsWith(suffix) && body.nonEmpty && body.forall(_.isDigit)) Some(body.toLong)
        else None
      }
      Listing(
        names.flatMap(n => if (n.endsWith(".checkpoint.json")) None else vOf(n, ".json")).sorted,
        names.flatMap(vOf(_, ".checkpoint.json")).sorted,
        statuses.map(s => s.getPath.getName ->
          (s.getLen * 1000003L + s.getModificationTime)).toMap)
    } catch { case _: java.io.FileNotFoundException => Listing(Nil, Nil, Map.empty) }

  /** All committed versions, ascending. */
  def versions(fs: FileSystem, root: Path): Seq[Long] = listing(fs, root).versions

  def latest(fs: FileSystem, root: Path): Option[Snapshot] = {
    val l = listing(fs, root)
    l.versions.lastOption.map(v => readAt(fs, root, v, l))
  }

  def read(fs: FileSystem, root: Path, version: Long): Snapshot =
    readAt(fs, root, version, listing(fs, root))

  /** Materialized snapshots are IMMUTABLE once committed (version files
    * never change content; checkpoints only add redundant replay bases),
    * so replay results cache safely by (root, version). Every analyzer
    * pass re-resolves the table; with the cache that costs one log-dir
    * listing instead of re-parsing a large checkpoint. Bounded LRU.
    */
  private val snapshotCache =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[(String, Long, Long), Snapshot](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(String, Long, Long), Snapshot]): Boolean = size() > 64
      })

  /** Test/bench hook: drop all cached snapshot replays (so a measured
    * "cold" resolution really replays the log).
    */
  def clearSnapshotCache(): Unit = snapshotCache.clear()

  private def readAt(fs: FileSystem, root: Path, version: Long, l: Listing): Snapshot = {
    // the version file's size is the validity token: it catches a table
    // deleted and recreated at the same path (new v1, different bytes)
    val rootStr = fs.makeQualified(root).toString
    val key = (rootStr, version, l.token(version))
    val cached = snapshotCache.get(key)
    if (cached != null && l.versions.contains(version)) return cached
    val snap = incrementalFromCache(fs, root, rootStr, version, l)
      .getOrElse(readAtUncached(fs, root, version, l))
      .copy(contentToken = l.token(version))
    // feature-flag guard: refuse to serve a snapshot whose protocol names
    // reader features this build lacks — EVERY read path (scan, time
    // travel, CDF, DML's own read, commit's predecessor read) funnels
    // through here; history/versionAtTimestamp stay header-only
    PjProtocol.checkRead(snap.protocolJson, fs.makeQualified(root).toString)
    snapshotCache.put(key, snap)
    snap
  }

  /** O(delta) replay: when a VALIDATED predecessor snapshot is cached
    * (same root, token still matches its on-disk version file) and every
    * version between it and the target is a delta commit, apply just the
    * tail to the cached state instead of re-reading the checkpoint — the
    * steady-state cost of a committer appending to a million-file table
    * becomes the delta, not the snapshot.
    */
  private def incrementalFromCache(fs: FileSystem, root: Path, rootStr: String,
      version: Long, l: Listing): Option[Snapshot] = {
    if (!l.versions.contains(version)) return None // let the full path throw
    val pred: Option[Snapshot] = {
      val best = new java.util.ArrayList[Snapshot](1)
      snapshotCache.synchronized {
        val it = snapshotCache.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          val (r, v, tok) = e.getKey
          if (r == rootStr && v < version && l.versions.contains(v) && l.token(v) == tok &&
              (best.isEmpty || best.get(0).version < v)) {
            if (!best.isEmpty) best.clear()
            best.add(e.getValue)
          }
        }
      }
      if (best.isEmpty) None else Some(best.get(0))
    }
    pred.flatMap { base =>
      val between = l.versions.filter(x => x > base.version && x <= version)
      // every intermediate version must be a delta commit file — a
      // checkpoint-only version in the range (post-expiry base) or a gap
      // means the tail alone cannot reproduce the state
      if (between.isEmpty || !between.forall(l.commits.contains)) None
      else {
        val st = new ReplayState
        st.seed(base) // O(1): shares the persistent entry map
        st.schema = base.dataSchemaJson
        st.constraints = base.constraintsJson
        st.properties = base.propertiesJson
        st.tableStats = base.tableStatsJson
        st.protocol = base.protocolJson
        st.rowWatermark = base.rowWatermark
        st.txns = base.txnsJson
        st.ts = base.ts
        st.action = base.action
        st.operation = base.operation
        between.foreach(v => st.apply(parseFile(fs, commitFile(root, v), v)))
        Some(st.snapshot(version))
      }
    }
  }

  private def readAtUncached(fs: FileSystem, root: Path, version: Long, l: Listing): Snapshot = {
    if (!l.versions.contains(version)) {
      val vs = l.versions
      throw new PJException(
        s"pjparquet: version $version does not exist under ${logDir(root)}" +
          (if (vs.isEmpty) " (table has no commit log)"
          else s" (available: ${vs.head}..${vs.last})"))
    }
    // base: the newest checkpoint at or before the target, else empty
    val cpv = l.checkpoints.filter(_ <= version).lastOption
    val st = new ReplayState
    cpv.foreach { c =>
      val node = parseFile(fs, checkpointFile(root, c), c)
      val base = optText(node, "entriesParquet") match {
        case Some(dirName) => readParquetEntries(root, dirName)
        case None => nodeEntries(node, "entries")
      }
      st.seedEntries(base)
      st.schema = optText(node, "dataSchema")
      st.constraints = optText(node, "constraints")
      st.properties = optText(node, "properties")
      st.tableStats = optText(node, "tableStats")
      st.protocol = optText(node, "protocol")
      st.rowWatermark = optText(node, "rowWatermark")
      st.txns = optText(node, "txns")
      st.ts = node.path("ts").asLong(0L)
      st.action = Option(node.get("action")).map(_.asText).getOrElse("unknown")
    }
    // delta tail above the checkpoint base (ascending); versions below the
    // base need no files at all — that is exactly what expiry exploits
    val tail = l.commits.filter(v => v > cpv.getOrElse(0L) && v <= version)
    for (v <- tail) st.apply(parseFile(fs, commitFile(root, v), v))
    if (tail.isEmpty && cpv.contains(version)) {
      // version materialized purely from its checkpoint (post-expiry base):
      // its operation rode the original commit file, which may be gone
      st.operation = None
    }
    st.snapshot(version)
  }

  /** Mutable replay accumulator shared by checkpoint-based and
    * cached-predecessor ([[incrementalFromCache]]) replays — one
    * definition of how a commit node mutates table state.
    */
  private final class ReplayState {
    /** Persistent sorted map, structurally shared with the predecessor
      * snapshot when seeded from the cache — delta application is
      * O(delta·log n), never an O(n) copy.
      */
    var entries: scala.collection.immutable.TreeMap[String, FileEntry] =
      scala.collection.immutable.TreeMap.empty
    /** Live entries carrying a DV — kept in lockstep with `entries`. */
    var dvCount: Int = 0
    private def put(e: FileEntry): Unit = {
      entries.get(e.path).foreach(old => if (old.dv.isDefined) dvCount -= 1)
      if (e.dv.isDefined) dvCount += 1
      entries = entries.updated(e.path, e)
    }
    private def drop(path: String): Unit =
      entries.get(path).foreach { old =>
        if (old.dv.isDefined) dvCount -= 1
        entries = entries - path
      }
    def seed(base: Snapshot): Unit = {
      entries = base.entryMap
      dvCount = base.dvCount
    }
    def seedEntries(es: Seq[FileEntry]): Unit = {
      entries = scala.collection.immutable.TreeMap.from(es.iterator.map(e => e.path -> e))
      dvCount = es.count(_.dv.isDefined)
    }
    var schema: Option[String] = None
    var constraints: Option[String] = None
    var properties: Option[String] = None
    var tableStats: Option[String] = None
    var protocol: Option[String] = None
    var rowWatermark: Option[String] = None
    var txns: Option[String] = None
    var ts = 0L
    var action = "unknown"
    var operation: Option[String] = None
    def apply(node: JsonNode): Unit = {
      node.path("remove").elements().asScala.foreach(r => drop(r.asText))
      nodeEntries(node, "add").foreach(put)
      optText(node, "dataSchema").foreach(s => schema = Some(s))
      optText(node, "constraints").foreach(c => constraints = Some(c))
      optText(node, "properties").foreach(p => properties = Some(p))
      optText(node, "tableStats").foreach(t => tableStats = Some(t))
      optText(node, "protocol").foreach(p => protocol = Some(p))
      optText(node, "rowWatermark").foreach(w => rowWatermark = Some(w))
      // fold the commit's own txn record (if any) into the accumulated lane
      val txnNode = node.path("txn")
      if (txnNode.isObject)
        txns = Some(mergeTxn(txns, txnNode.path("app").asText,
          txnNode.path("ver").asLong))
      ts = node.path("ts").asLong(0L)
      action = Option(node.get("action")).map(_.asText).getOrElse("unknown")
      operation = optText(node, "operation")
    }
    def snapshot(version: Long): Snapshot =
      Snapshot(version, action, entries, ts, schema, operation,
        constraintsJson = constraints, propertiesJson = properties,
        tableStatsJson = tableStats, protocolJson = protocol,
        rowWatermark = rowWatermark, txnsJson = txns, dvCount = dvCount)
  }

  /** The raw delta one commit recorded — [[PjChangeFeed]]'s unit of work.
    * For a checkpoint-only version the add list is the full state
    * (`fullState=true`) and the caller diffs against the prior version.
    */
  def delta(fs: FileSystem, root: Path, version: Long): Delta = {
    val p = commitFile(root, version)
    if (!fs.exists(p)) {
      // checkpoint-only version (post-expiry base): the delta is unknowable
      val snap = read(fs, root, version)
      return Delta(version, snap.ts, snap.action, None, snap.entries, Nil, fullState = true)
    }
    val node = parseFile(fs, p, version)
    Delta(version, node.path("ts").asLong(0L),
      Option(node.get("action")).map(_.asText).getOrElse("unknown"),
      optText(node, "operation"),
      nodeEntries(node, "add"),
      node.path("remove").elements().asScala.map(_.asText).toSeq,
      fullState = false,
      preservedRows = node.path("preservedRows").asBoolean(false))
  }

  /** Commit a delta as `latest+1`: `add` entries become live, `remove`
    * paths retire. The version-file claim is atomic; on losing a race:
    *
    *  - a PURE APPEND (empty `remove`) rebases on the winner's state and
    *    retries — disjoint concurrent appends both land;
    *  - a REMOVE-BEARING commit that declared its read base
    *    (`readVersion`) and partition-level read set (`readPartitions`)
    *    rebases when it provably did not race the winners: no winner
    *    retired or replaced a file this commit also retires, no winner
    *    survives only as a checkpoint, and every winner-added file falls
    *    OUTSIDE the partitions this commit's predicate admitted — so two
    *    UPDATEs on different partitions (or an update racing an append
    *    into a fresh partition) both land, Delta's disjoint-DML rule at
    *    partition granularity;
    *  - anything else fails loudly (the files or rows it read may have
    *    changed).
    *
    * Returns the committed version.
    */
  def commit(
      fs: FileSystem,
      root: Path,
      action: String,
      add: Seq[FileEntry],
      remove: Set[String],
      dataSchemaJson: Option[String] = None,
      operation: Option[String] = None,
      readVersion: Option[Long] = None,
      readPartitions: Option[Set[Seq[String]]] = None,
      constraintsJson: Option[String] = None,
      propertiesJson: Option[String] = None,
      tableStatsJson: Option[String] = None,
      exclusive: Boolean = false,
      preservedRows: Boolean = false,
      /** MAINTENANCE (pure-move) conflict mode: this commit only MOVES
        * rows (compaction, OPTIMIZE ZORDER, clone materialization) — it
        * consumed the files in `remove` from the snapshot at `readVersion`
        * and rewrote their bytes unchanged. It conflicts iff any winner
        * since that base RETIRED or RE-ADDED (DV/entry change) a consumed
        * file — that winner's row changes would be silently undone by the
        * rewrite (a DV DELETE's rows would resurrect; a CoW rewrite's rows
        * would double). Winners that only ADDED files are compatible with
        * a pure move and REBASE, so auto-compaction never livelocks a busy
        * append stream.
        */
      maintenance: Boolean = false,
      /** IDEMPOTENT TRANSACTION (Delta's txnAppId/txnVersion): when set,
        * the commit both RECORDS (appId, version) in the txn lane and is
        * SKIPPED entirely — returning [[TxnSkipped]], claiming no version
        * — if the table already recorded a version >= the supplied one for
        * that appId. Checked inside the claim loop, so losing a race to a
        * concurrent same-appId writer that recorded the same version turns
        * THIS attempt into the no-op instead of a double-write.
        */
      txn: Option[(String, Long)] = None,
      /** PROTOCOL DOWNGRADE (`CALL pj.system.drop_feature`): record
        * exactly this protocol lane instead of the monotone auto-upgrade
        * union — the one sanctioned way protection shrinks. Still
        * validated: the recorded protocol must cover everything the
        * post-commit state actually requires, so a drop can never leave
        * a feature in use unprotected.
        */
      protocolOverride: Option[String] = None,
      /** Append-like schema semantics: WIDEN the supplied schema against
        * the predecessor's recorded one INSIDE the claim loop, so a
        * concurrent schema change (ADD COLUMN landing between this
        * writer's read and its commit) is never erased by this commit's
        * stale lane record — the schema-lane lost-update the concurrency
        * fuzzer's DDL-racing-append schedules exposed. False keeps
        * replace semantics (RTAS, RESTORE, truncating overwrites record
        * the new schema outright).
        */
      widenSchema: Boolean = false,
      /** PROPERTY compare-and-set (SET/UNSET TBLPROPERTIES): apply this
        * (sets, removes, expectedPriorValues) DELTA onto the properties of
        * the predecessor READ IN THIS ATTEMPT — unrelated keys changed by
        * racing commits merge instead of being overwritten by this lane's
        * stale full rendering, and a key whose current value no longer
        * matches what the caller computed its change FROM refuses as a
        * conflict (the schema-evolution fuzzer's racing partition-spec
        * evolutions exposed the lost update: a committed evolution was
        * silently erased by the next evolve's stale rendering, seed
        * 10124). Mutually exclusive with `propertiesJson`.
        */
      propertyCas: Option[(Map[String, String], Set[String],
        Map[String, Option[String]])] = None): Long = {
    val dir = logDir(root)
    fs.mkdirs(dir)
    var attempt = 0
    while (true) {
      val l = listing(fs, root)
      val prev = l.versions.lastOption.map(v => readAt(fs, root, v, l))
      // a commit that PLANNED against a log version must refuse when the
      // log has vanished: a concurrent DROP or catalog RENAME moved the
      // table directory out from under this writer, and the mkdirs above
      // (or a task's dir re-create) may have resurrected the old path —
      // committing here would silently FORK a fresh one-commit table at
      // the stale location (fuzzer lane 5, seed 20000: a writer racing
      // the one-directory-move rename adopted its own rows as a new
      // table and the append was lost to the real one)
      // base 0 = "planned against the EMPTY pre-log state" (CONVERT's
      // adoption commit) — an empty log is exactly what it expects
      if (readVersion.exists(_ > 0) && prev.isEmpty) {
        // remove the empty log dir the mkdirs above just recreated at the
        // stale path, or the husk would read as "log-enabled by mkdir"
        try fs.delete(dir, false) catch { case scala.util.control.NonFatal(_) => () }
        throw new PJException(
          s"pjparquet: the commit log under '$root' vanished since this " +
            "write was planned (table dropped or renamed by a concurrent " +
            "writer); aborting instead of forking a fresh table")
      }
      val v = prev.map(_.version).getOrElse(0L) + 1
      txn.foreach { case (app, ver) =>
        if (prev.flatMap(_.txnVersion(app)).exists(_ >= ver)) return TxnSkipped
      }
      // append-like commits re-widen against the predecessor READ IN THIS
      // ATTEMPT, so a schema change that landed since the caller's
      // planning read (or since the last attempt) survives this commit
      val effSchemaJson: Option[String] = dataSchemaJson match {
        case Some(n) if widenSchema =>
          prev.flatMap(_.dataSchemaJson) match {
            case Some(p) => Some(PjBatchWrite.widenRecordedSchema(p, n))
            case None => Some(n)
          }
        case other => other
      }
      // property CAS: merge the delta onto THIS attempt's predecessor and
      // refuse (conflict) when a changed key's prior value moved under us
      val effPropsJson: Option[String] = propertyCas match {
        case Some((sets, removes, expected)) =>
          val cur = PjTableProperties.parse(prev.flatMap(_.propertiesJson))
          expected.foreach { case (k, expOld) =>
            if (cur.get(k) != expOld)
              throw new PJException(
                s"pjparquet: table property '$k' was changed by a concurrent " +
                  "writer since this statement read it (optimistic concurrency " +
                  "conflict) — re-read the table and retry")
          }
          Some(PjTableProperties.render(cur -- removes ++ sets))
        case None => propertiesJson
      }
      // feature-flag guard: a table requiring features this build cannot
      // maintain refuses the write BEFORE claiming a version
      PjProtocol.checkWrite(prev.flatMap(_.protocolJson), fs.makeQualified(root).toString)
      // auto-upgrade: when this commit's post-state first requires a
      // feature (a dv entry, a mapped/identity/generated schema, a CHECK
      // constraint, CDF enabled), union it into the protocol lane —
      // monotone, so protection only ever grows
      val protocolJson: Option[String] = {
        val cur = PjProtocol.parse(prev.flatMap(_.protocolJson))
        // O(1) on the vector-free steady state (the incremental dvCount);
        // a DV-carrying table pays O(|remove| log n), never a full scan
        val prevDvSurvives = prev.exists { p =>
          p.dvCount > 0 &&
            p.dvCount > remove.iterator.count(r =>
              p.entryMap.get(r).exists(_.dv.isDefined))
        }
        val req = PjProtocol.required(
          anyDv = add.exists(_.dv.isDefined) || prevDvSurvives,
          dataSchemaJson = effSchemaJson.orElse(prev.flatMap(_.dataSchemaJson)),
          constraintsJson = constraintsJson.orElse(prev.flatMap(_.constraintsJson)),
          propertiesJson = effPropsJson.orElse(prev.flatMap(_.propertiesJson)))
        protocolOverride match {
          case Some(js) =>
            if (!PjProtocol.parse(Some(js)).contains(req))
              throw new PJException(
                "pjparquet: protocol downgrade would drop a feature the table " +
                  s"still uses (required: ${req.json}); remove the feature's " +
                  "uses first")
            Some(js)
          case None =>
            if (cur.contains(req)) None else Some(cur.union(req).json)
        }
      }
      // EXCLUSIVE commits (identity-value allocation, [[PjGenerated]])
      // serialize against the whole table: values were minted from state
      // read at `readVersion`, so ANY winner since then may have minted
      // overlapping ones — fail loudly instead of rebasing, the caller
      // re-reads the watermark and retries the write
      if (exclusive && readVersion.exists(rv => prev.map(_.version).getOrElse(0L) > rv))
        throw new PJException(
          s"pjparquet: commit-log version conflict at ${commitFile(root, v)} " +
            "(concurrent writer); this commit was computed exclusively from " +
            s"table state at version ${readVersion.get} and a newer commit " +
            "exists — retry the operation against the new table state")
      // a MAINTENANCE (pure-move) commit with a declared read base
      // validates consumed-file overlap against every winner since the
      // base: a winner that retired or re-added (DV/entry change) any
      // consumed file conflicts loudly — committing would silently undo
      // its row changes; add-only winners rebase
      if (maintenance && remove.nonEmpty &&
          readVersion.exists(prev.map(_.version).getOrElse(0L) > _) &&
          !consumedUntouched(fs, root, remove, readVersion.get))
        throw new PJException(
          s"pjparquet: commit-log version conflict at ${commitFile(root, v)} " +
            "(concurrent writer); a commit since this maintenance operation's " +
            s"read base (version ${readVersion.get}) changed or retired a file " +
            "it consumed — committing the rewrite would undo that commit's row " +
            "changes; retry the operation against the new table state")
      // a remove-bearing commit with a declared read base validates
      // against EVERY winner since that base before claiming — including
      // winners that landed before this attempt even started (the full
      // optimistic-concurrency check, not just the same-version race)
      if (!maintenance && remove.nonEmpty &&
          readVersion.exists(prev.map(_.version).getOrElse(0L) > _) &&
          !disjointWinners(fs, root, remove, readVersion, readPartitions))
        throw new PJException(
          s"pjparquet: commit-log version conflict at ${commitFile(root, v)} " +
            "(concurrent writer); this commit retires files and overlaps a " +
            "winner's changes (same files retired, or rows added to a " +
            "partition this operation read) — retry the operation against " +
            "the new table state")
      // O(delta·log n) membership against the persistent map — never an
      // O(n) set materialization per commit
      val prevMap = prev.map(_.entryMap).getOrElse(
        scala.collection.immutable.TreeMap.empty[String, FileEntry])
      val effectiveRemove = remove.filter(prevMap.contains)
      // |(P \ R) ∪ A| = |P| − |R| + |{a ∈ A : a ∉ P ∨ a ∈ R}|
      val nLive = {
        val addPaths = add.iterator.map(_.path).toSet
        prevMap.size - effectiveRemove.size +
          addPaths.count(a => !prevMap.contains(a) || effectiveRemove.contains(a))
      }
      // ROW TRACKING: assign each fresh fully-planned entry a disjoint
      // [baseRowId, baseRowId + rows) id range from the table's watermark.
      // Runs INSIDE the claim loop, so a rebased pure append re-assigns
      // from the winner's advanced watermark — no id can be minted twice.
      // Entries that MATERIALIZE ids (id-preserving rewrites) get a base
      // TOO: their null-id rows (fresh MERGE inserts, legacy backfill)
      // mint `base + pos` at read via coalesce, while non-null
      // materialized ids win — so a rewrite mixing kept and fresh rows
      // stays fully tracked. Entries without a row count stay untracked.
      val prevWatermark = prev.flatMap(_.rowWatermark).map(_.toLong).getOrElse(0L)
      var wm = prevWatermark
      val trackedAdd = add.map { e =>
        if (e.baseRowId >= 0) {
          wm = math.max(wm, e.baseRowId + math.max(0L, e.rows)); e
        } else if (e.rows >= 0) {
          val b = wm; wm += e.rows; e.copy(baseRowId = b)
        } else e
      }
      val watermarkOut: Option[String] =
        if (wm != prevWatermark) Some(wm.toString) else None // lane persists otherwise
      // IN-COMMIT TIMESTAMP: clamp to strictly-after the predecessor —
      // `TIMESTAMP AS OF` resolves by reverse-scanning for the first
      // header with ts <= target, which assumes monotone header
      // timestamps. A wall-clock step-back (NTP correction, a different
      // writer host) must not make history non-monotone.
      val ts = math.max(nowMs(), prev.map(_.ts).getOrElse(0L) + 1)
      // DATA-SKIPPING CAP (pj.dataSkipping.numIndexedCols, Delta parity):
      // record per-file stats for the TABLE SCHEMA's leading N columns
      // only — on wide tables the envelope dominates log size; absent
      // stats can only disable pruning for those columns, never change
      // results. Keyed off the recorded schema (not each file's own
      // physical column order) so files written under different schema
      // generations index the SAME column set; Delta's sentinels: -1 =
      // all columns (no cap), 0 = collect none.
      val statsCapped = PjTableProperties.recorded(
        effPropsJson.orElse(prev.flatMap(_.propertiesJson)),
        PjTableProperties.DataSkippingNumIndexedCols)
        .flatMap(s => scala.util.Try(s.toInt).toOption).filter(_ >= 0) match {
        case Some(n) =>
          // leading N logical fields of the effective schema, translated
          // to the physical names the stats envelopes are keyed by.
          // Partition fields carry no file stats (their values live in
          // dir names, and the recorded schema keeps them), so the cap
          // counts DATA columns only — a table partitioned by a leading
          // column must still index N data columns (Delta's contract);
          // each entry's own rel path names its partition keys, which
          // also keeps the filter correct across partition-spec evolution
          val recordedFields: Option[Array[org.apache.spark.sql.types.StructField]] =
            effSchemaJson.orElse(prev.flatMap(_.dataSchemaJson)).map { sj =>
              org.apache.spark.sql.types.DataType.fromJson(sj)
                .asInstanceOf[org.apache.spark.sql.types.StructType].fields
            }
          def partKeysOf(rel: String): Set[String] = {
            val segs = rel.split('/')
            segs.iterator.take(math.max(0, segs.length - 1)).flatMap(
              _.split("=", 2) match {
                case Array(k, _) if k.nonEmpty =>
                  Some(k.toLowerCase(java.util.Locale.ROOT))
                case _ => None
              }).toSet
          }
          trackedAdd.map { e =>
            val keep: Option[Set[String]] = recordedFields.map { fields =>
              val pks = partKeysOf(e.path)
              fields.iterator
                .filterNot(f => pks.contains(f.name.toLowerCase(java.util.Locale.ROOT)))
                .take(n).map(PjColumnMapping.physicalName).toSet
            }
            if (e.stats.isEmpty) e
            else keep match {
              case Some(ks) => e.copy(stats = e.stats.filter {
                case (k, _) => ks.contains(k)
              })
              // no recorded schema to rank by: fall back to the file's own
              // column order (the historical behavior)
              case None => e.cols match {
                case Some(cs) =>
                  val ks = cs.take(n).toSet
                  e.copy(stats = e.stats.filter { case (k, _) => ks.contains(k) })
                case None => e
              }
            }
          }
        case _ => trackedAdd // unset or -1: keep every column's stats
      }
      val body = renderCommit(v, ts, action, statsCapped,
        effectiveRemove.toSeq.sorted, nLive, effSchemaJson, operation, constraintsJson,
        effPropsJson, tableStatsJson, protocolJson, watermarkOut, preservedRows, txn)
      if (publish(fs, commitFile(root, v), body)) {
        testHookOnClaim(fs.makeQualified(root).toString, v, action)
        // cadence honors the table's recorded pj.checkpoint.interval —
        // this commit's own properties (when it sets them) win, else the
        // predecessor's recorded ones, else the engine default
        val interval = PjTableProperties.checkpointInterval(
          effPropsJson.orElse(prev.flatMap(_.propertiesJson)))
        if (v % interval == 0)
          try writeCheckpoint(fs, root, v)
          catch { case scala.util.control.NonFatal(_) => /* replay covers it */ }
        // AUTO MANIFEST (pj.symlinkManifest.enabled): regenerate the
        // external symlink view after every commit — best-effort, a DV
        // snapshot leaves the last DV-free manifest standing
        if (PjTableProperties.recorded(
            effPropsJson.orElse(prev.flatMap(_.propertiesJson)),
            PjTableProperties.SymlinkManifestEnabled).exists(_.equalsIgnoreCase("true")))
          PjManifest.autoMaintain(fs, root)
        // AUTO ICEBERG METADATA (pj.icebergMetadata.enabled): UniForm-style
        // re-export after every commit — best-effort, same DV contract
        if (PjTableProperties.recorded(
            effPropsJson.orElse(prev.flatMap(_.propertiesJson)),
            PjTableProperties.IcebergMetadataEnabled).exists(_.equalsIgnoreCase("true")))
          PjIcebergMetadata.autoMaintain(fs, root)
        return v
      }
      attempt += 1
      // a remove-bearing loser WITHOUT a read base has nothing to validate
      // a rebase against — conflict loudly (the historical behavior);
      // with one (DML's partition read set, or maintenance's consumed
      // set), the loop re-validates at the top before retrying
      if (remove.nonEmpty &&
          (readVersion.isEmpty || (!maintenance && readPartitions.isEmpty)))
        throw new PJException(
          s"pjparquet: commit-log version conflict at ${commitFile(root, v)} " +
            "(concurrent writer); commits that replace or retire files cannot " +
            "be rebased without a declared read base — retry the operation " +
            "against the new table state")
      if (attempt >= ConflictRetries)
        throw new PJException(
          s"pjparquet: commit-log version conflict at ${commitFile(root, v)} " +
            s"persisted after $ConflictRetries rebase attempts (concurrent writers)")
      // jittered backoff (capped) breaks the thundering herd when several
      // pure appenders race the same version counter
      Thread.sleep(java.util.concurrent.ThreadLocalRandom.current()
        .nextLong(1L, math.min(200L, 10L * attempt)))
    }
    -1L // unreachable
  }

  /** Can a remove-bearing loser rebase over everything committed since its
    * declared read base? True iff every winner since `readVersion`:
    *
    *  - is a delta commit (a checkpoint-only winner's delta is unknowable);
    *  - retired no file the loser also retires (disjoint rewrite sets);
    *  - added no file inside a partition the loser's predicate admitted
    *    (winner rows the loser's scan could have matched). The partition
    *    tuple of an added file decodes from its path with the same
    *    key=value rules the resolver applies, so both sides compare the
    *    identical representation.
    *
    * Stats pruning cannot weaken this: it only drops files that provably
    * hold no matching rows, and the read set is computed BEFORE it.
    */
  private def disjointWinners(
      fs: FileSystem,
      root: Path,
      remove: Set[String],
      readVersion: Option[Long],
      readPartitions: Option[Set[Seq[String]]]): Boolean = {
    (readVersion, readPartitions) match {
      case (Some(base), Some(readSet)) =>
        versions(fs, root).filter(_ > base).forall { w =>
          val d =
            try delta(fs, root, w)
            catch { case _: PJException => return false }
          !d.fullState &&
            d.remove.forall(!remove.contains(_)) &&
            d.add.forall(e => !readSet.contains(partValuesOfRel(e.path)))
        }
      case _ => false
    }
  }

  /** Can a MAINTENANCE (pure-move) loser rebase over everything committed
    * since its declared read base? True iff every winner since `base`:
    *
    *  - is a delta commit (a checkpoint-only winner's delta is unknowable);
    *  - neither RETIRED nor RE-ADDED any file this commit consumed. A
    *    DV DELETE re-adds the path with a new vector (retire + add of the
    *    same path); a CoW rewrite retires it — both land in the winner's
    *    delta and both mean the consumed bytes no longer represent the
    *    file's live rows, so the rewrite must be recomputed.
    *
    * Winners that only added files never overlap a pure move: the
    * rewrite's outputs carry exactly the consumed files' rows, and the
    * winner's files stay live untouched.
    */
  private def consumedUntouched(
      fs: FileSystem, root: Path, remove: Set[String], base: Long): Boolean =
    versions(fs, root).filter(_ > base).forall { w =>
      val d =
        try delta(fs, root, w)
        catch { case _: PJException => return false }
      !d.fullState &&
        d.remove.forall(!remove.contains(_)) &&
        d.add.forall(e => !remove.contains(e.path))
    }

  /** Raw partition values of a table-relative path, in path order — the
    * same decode [[PjParquetDataSource]]'s resolver applies to snapshot
    * entries, so tuples compare identically with a scan's
    * `partitionValues`.
    */
  private def partValuesOfRel(rel: String): Seq[String] = {
    val segs = rel.split('/')
    segs.iterator.take(math.max(0, segs.length - 1)).flatMap { seg =>
      seg.split("=", 2) match {
        case Array(k, v) if k.nonEmpty =>
          val decoded =
            if (v.indexOf('%') < 0 && v.indexOf('+') < 0) v
            else java.net.URLDecoder.decode(v, "UTF-8")
          Some(decoded)
        case _ => None
      }
    }.toSeq
  }

  /** Write (or keep) the full-snapshot checkpoint for `v` — called on the
    * cadence commits and by [[PjVacuum.expireVersions]] before it drops
    * the delta prefix the version would otherwise need for replay.
    *
    * FORMAT: the JSON file always carries the header scalars (version /
    * ts / action / nFiles / dataSchema) and is always the atomic commit
    * point. The entry table rides either inline (`entries` array, small
    * tables) or as a PARQUET directory next to it (`entriesParquet`
    * pointer, [[ParquetCheckpointMinEntries]]+ entries with a Spark
    * session available) — Delta's parquet-checkpoint move: a million-entry
    * checkpoint is then read through the engine itself, split across
    * executors by row group, instead of one driver thread walking one JSON
    * document. The parquet directory is fully written and renamed into
    * place BEFORE the header publishes, so a visible header always points
    * at complete entries; a crash in between leaves an orphan directory
    * that the next checkpoint attempt (same deterministic name) reuses or
    * vacuum sweeps.
    *
    * `entryFormat` overrides the size-based format choice (tests): `
    * Some(true)` forces parquet entries, `Some(false)` forces inline JSON.
    */
  def writeCheckpoint(fs: FileSystem, root: Path, v: Long,
      entryFormat: Option[Boolean] = None): Unit = {
    val target = checkpointFile(root, v)
    if (fs.exists(target)) return
    val session = org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
    // Incremental engine path: when the previous checkpoint is already
    // parquet-backed and the tail is pure deltas, the new entry dir is
    // built by READING the old one through the engine and applying the
    // O(delta) tail — the driver never materializes the live-file set
    // (no ArrayList[Row] of 500k entries, no multi-MB task broadcast).
    if (!entryFormat.contains(false) && session.isDefined) {
      incrementalParquetCheckpoint(session.get, fs, root, v) match {
        case Some(h) =>
          publishStream(fs, target) { out =>
            val sealing = new SealingOutputStream(out)
            val g = new com.fasterxml.jackson.core.JsonFactory().createGenerator(
              sealing: java.io.OutputStream)
            g.writeStartObject()
            g.writeNumberField("version", v)
            g.writeBooleanField("sealed", true)
            g.writeNumberField("ts", h.ts)
            g.writeStringField("action", h.action)
            g.writeNumberField("nFiles", h.nFiles)
            g.writeBooleanField("checkpoint", true)
            h.schema.foreach(s => g.writeStringField("dataSchema", s))
            h.constraints.foreach(c => g.writeStringField("constraints", c))
            h.properties.foreach(p => g.writeStringField("properties", p))
            h.tableStats.foreach(t => g.writeStringField("tableStats", t))
            h.protocol.foreach(p => g.writeStringField("protocol", p))
            h.rowWatermark.foreach(w => g.writeStringField("rowWatermark", w))
            h.txns.foreach(t => g.writeStringField("txns", t))
            g.writeStringField("entriesParquet", checkpointParquetDir(root, v).getName)
            g.writeEndObject()
            g.flush()
            sealing.writeSeal()
          }
          return
        case None => // no parquet predecessor — full rebuild below
      }
    }
    val snap = read(fs, root, v)
    val asParquet = entryFormat.getOrElse(
      snap.entries.size >= ParquetCheckpointMinEntries && session.isDefined)
    if (asParquet && session.isEmpty)
      throw new PJException(
        "pjparquet: parquet checkpoint entries require an active SparkSession")
    if (asParquet) writeParquetEntries(session.get, fs, root, v, snap)
    val mapper = new ObjectMapper()
    publishStream(fs, target) { out =>
      val sealing = new SealingOutputStream(out)
      val g = new com.fasterxml.jackson.core.JsonFactory().createGenerator(
        sealing: java.io.OutputStream)
      g.writeStartObject()
      g.writeNumberField("version", snap.version)
      g.writeBooleanField("sealed", true)
      g.writeNumberField("ts", snap.ts)
      g.writeStringField("action", snap.action)
      g.writeNumberField("nFiles", snap.entries.size.toLong)
      g.writeBooleanField("checkpoint", true)
      snap.dataSchemaJson.foreach(s => g.writeStringField("dataSchema", s))
      snap.constraintsJson.foreach(c => g.writeStringField("constraints", c))
      snap.propertiesJson.foreach(p => g.writeStringField("properties", p))
      snap.tableStatsJson.foreach(t => g.writeStringField("tableStats", t))
      snap.protocolJson.foreach(p => g.writeStringField("protocol", p))
      snap.rowWatermark.foreach(w => g.writeStringField("rowWatermark", w))
      snap.txnsJson.foreach(t => g.writeStringField("txns", t))
      if (asParquet)
        g.writeStringField("entriesParquet", checkpointParquetDir(root, v).getName)
      else {
        g.writeArrayFieldStart("entries")
        snap.entries.foreach(e => mapper.writeTree(g, entryNode(mapper, e)))
        g.writeEndArray()
      }
      g.writeEndObject()
      g.flush()
      sealing.writeSeal()
    }
    ()
  }

  /** One parquet row per [[FileEntry]] — stats as an array of per-column
    * structs (name / phys type / null count / raw min / raw max bytes).
    * ~100k entries per output file so a 1M-entry checkpoint is multi-part
    * and its read parallelizes across files as well as row groups.
    */
  private val CkptEntrySchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("p", StringType, nullable = false),
      StructField("s", LongType, nullable = false),
      StructField("r", LongType, nullable = false),
      StructField("g", IntegerType, nullable = false),
      StructField("f", LongType, nullable = true),
      // retired nested-file flag: always written false and never read, so
      // the checkpoint layout stays fixed
      StructField("n", BooleanType, nullable = false),
      StructField("c", ArrayType(StringType, containsNull = false), nullable = true),
      StructField("st", ArrayType(StructType(Seq(
        StructField("k", StringType, nullable = false),
        StructField("t", IntegerType, nullable = false),
        StructField("nc", LongType, nullable = false),
        StructField("mn", BinaryType, nullable = true),
        StructField("mx", BinaryType, nullable = true))), containsNull = false),
        nullable = true),
      // deletion vector (rel path + cardinality) — nullable, so checkpoints
      // written before the columns existed read back as no-vector entries
      StructField("dv", StringType, nullable = true),
      StructField("dn", LongType, nullable = true),
      // row-tracking base id — nullable for the same reason
      StructField("bi", LongType, nullable = true),
      // clustering provenance — nullable: pre-tag checkpoints read as
      // unclustered entries
      StructField("cb", StringType, nullable = true)))
  }

  private def entryRow(e: FileEntry): org.apache.spark.sql.Row =
    org.apache.spark.sql.Row(
      e.path, e.size, e.rows, e.rowGroups,
      e.fingerprint.map(java.lang.Long.valueOf).orNull,
      false, e.cols.orNull,
      if (e.stats.isEmpty) null
      else e.stats.toSeq.sortBy(_._1).map { case (name, cs) =>
        org.apache.spark.sql.Row(name, cs.physType, cs.nullCount, cs.min.orNull, cs.max.orNull)
      },
      e.dv.map(_.path).orNull,
      e.dv.map(d => java.lang.Long.valueOf(d.deleted)).orNull,
      if (e.baseRowId >= 0) java.lang.Long.valueOf(e.baseRowId) else null,
      e.clusteredBy.orNull)

  /** Publish `df` as the checkpoint-entry dir for `v` (write-temp-then-
    * rename; losing the rename to a racer or a finished crash is fine).
    */
  private def publishEntryDir(fs: FileSystem, root: Path, dir: Path,
      df: org.apache.spark.sql.DataFrame): Unit = {
    val tmp = new Path(logDir(root), s".${dir.getName}.${java.util.UUID.randomUUID()}.tmp")
    df.write.mode("overwrite").parquet(tmp.toString)
    if (!fs.rename(tmp, dir)) {
      fs.delete(tmp, true)
      if (!fs.exists(dir)) // lost neither to a racer nor to a crash: real failure
        throw new PJException(s"pjparquet: cannot publish checkpoint entries at $dir")
    }
  }

  private def writeParquetEntries(
      spark: org.apache.spark.sql.SparkSession, fs: FileSystem,
      root: Path, v: Long, snap: Snapshot): Unit = {
    import org.apache.spark.sql.Row
    val dir = checkpointParquetDir(root, v)
    if (fs.exists(dir)) return // an earlier (crashed or racing) attempt finished it
    // first materialization of a JSON-delta log: the entries exist on the
    // driver (the replay built them) — ship them in BYTE-sized slices so
    // no task carries a multi-MB payload (a fixed 2,500-row slice put
    // ~9 MB in one task on stats-heavy entries: path + cols + per-column
    // min/max envelopes run to kilobytes each — the bench's "task of
    // very large size" warning), then shuffle down to the target file
    // count (the shuffle is engine-side and trivial at metadata scale).
    // ~25k entries per part: enough output tasks that the parquet encode
    // of a million-entry checkpoint parallelizes (11 fat tasks measured
    // ~2x slower than 40 slim ones), still few enough that the read side
    // stays a handful of splits
    val parts = math.max(1, math.min(64, snap.entries.size / 25000 + 1))
    publishEntryDir(fs, root, dir,
      spark.createDataFrame(
        spark.sparkContext.parallelize(
          snap.entries.map(entryRow), entrySlices(snap.entries)),
        CkptEntrySchema).repartition(parts))
  }

  /** Byte-aware slice count for shipping driver-held entries to executors:
    * sample-estimate the per-entry payload and target <=512 KiB per slice
    * (a fixed rows-per-slice put ~9 MB in one task on stats-heavy
    * entries — path + cols + per-column min/max envelopes run to
    * kilobytes each).
    */
  private def entrySlices(entries: Seq[FileEntry]): Int = {
    val sample = entries.take(64)
    val sampleBytes = sample.map(e =>
      64L + e.path.length + e.cols.map(_.map(_.length + 8L).sum).getOrElse(0L) +
        e.stats.map { case (k, cs) =>
          k.length + 32L + cs.min.map(_.length).getOrElse(0) +
            cs.max.map(_.length).getOrElse(0)
        }.sum).sum
    // the java-serialized Row graph runs ~2x the raw payload estimate
    // (boxing, string encoding, per-object headers); the 512 KiB raw
    // target then lands ~1 MB serialized — at the warning bar, with 4x
    // fewer scheduler round-trips than a tighter bound
    val perEntry = 2L * math.max(64L, sampleBytes / math.max(1, sample.size))
    val rowsPerSlice = math.max(16L, (512L * 1024) / perEntry)
    math.max(1, math.min(16384, (entries.size / rowsPerSlice).toInt + 1))
  }

  /** Header facts an incremental checkpoint carries forward. */
  private final case class CkptHeader(
      nFiles: Long, ts: Long, action: String,
      schema: Option[String], constraints: Option[String],
      properties: Option[String], tableStats: Option[String],
      protocol: Option[String], rowWatermark: Option[String],
      txns: Option[String])

  /** Incremental parquet checkpoint: the new entry dir = (previous
    * parquet checkpoint read THROUGH THE ENGINE) minus every path the
    * delta tail touched, plus the tail's surviving adds — a broadcast
    * anti-join over O(delta) paths, so driver memory and task payloads
    * stay O(delta) no matter how many files are live. Returns the header
    * facts on success; `None` when there is no parquet-backed predecessor
    * (the full rebuild path handles that).
    */
  private def incrementalParquetCheckpoint(
      spark: org.apache.spark.sql.SparkSession, fs: FileSystem,
      root: Path, v: Long): Option[CkptHeader] = {
    val l = listing(fs, root)
    if (!l.commits.contains(v)) return None
    val cpv = l.checkpoints.filter(_ < v).lastOption.getOrElse(return None)
    val prevNode = parseFile(fs, checkpointFile(root, cpv), cpv)
    val prevDir = optText(prevNode, "entriesParquet").getOrElse(return None)
    val tail = l.commits.filter(x => x > cpv && x <= v)
    if (tail.isEmpty) return None
    var schema = optText(prevNode, "dataSchema")
    var constraints = optText(prevNode, "constraints")
    var properties = optText(prevNode, "properties")
    var tableStats = optText(prevNode, "tableStats")
    var protocol = optText(prevNode, "protocol")
    var rowWatermark = optText(prevNode, "rowWatermark")
    var txns = optText(prevNode, "txns")
    var ts = 0L
    var action = "unknown"
    val touched = new java.util.LinkedHashSet[String]()
    val tailEntries = new java.util.LinkedHashMap[String, FileEntry]()
    for (tv <- tail) {
      val node = parseFile(fs, commitFile(root, tv), tv)
      node.path("remove").elements().asScala.foreach { r =>
        touched.add(r.asText); tailEntries.remove(r.asText)
      }
      nodeEntries(node, "add").foreach { e =>
        touched.add(e.path); tailEntries.put(e.path, e)
      }
      optText(node, "dataSchema").foreach(s => schema = Some(s))
      optText(node, "constraints").foreach(c => constraints = Some(c))
      optText(node, "properties").foreach(p => properties = Some(p))
      optText(node, "tableStats").foreach(t => tableStats = Some(t))
      optText(node, "protocol").foreach(p => protocol = Some(p))
      optText(node, "rowWatermark").foreach(w => rowWatermark = Some(w))
      val txnNode = node.path("txn")
      if (txnNode.isObject)
        txns = Some(mergeTxn(txns, txnNode.path("app").asText,
          txnNode.path("ver").asLong))
      ts = node.path("ts").asLong(0L)
      action = Option(node.get("action")).map(_.asText).getOrElse("unknown")
    }
    val dir = checkpointParquetDir(root, v)
    if (!fs.exists(dir)) {
      val base = spark.read.schema(CkptEntrySchema)
        .parquet(new Path(logDir(root), prevDir).toString)
      // parallelize, never a LocalRelation: a local-rows DataFrame
      // serializes EVERY row into the task binaries of whatever stage
      // consumes it — a big delta tail shipped ~47 MB per task (the
      // bench's "task of very large size" warning); sliced RDDs ship
      // each task only its slice
      val touchedSeq = touched.asScala.toSeq
      val touchedDf = spark.createDataFrame(
        spark.sparkContext.parallelize(
          touchedSeq.map(org.apache.spark.sql.Row(_)),
          math.max(1, math.min(4096, touchedSeq.size / 5000 + 1))),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField(
            "p", org.apache.spark.sql.types.StringType, nullable = false))))
      val tailSeq = tailEntries.values().asScala.toSeq
      val adds = spark.createDataFrame(
        spark.sparkContext.parallelize(tailSeq.map(entryRow), entrySlices(tailSeq)),
        CkptEntrySchema)
      // part sizing from the (upper-bound) approximate count — the exact
      // count comes metadata-rate from the published dir below
      val approxN = prevNode.path("nFiles").asLong(0L) + tailEntries.size()
      val parts = math.max(1L, math.min(64L, approxN / 25000 + 1)).toInt
      // repartition the ADDS (delta-sized shuffle) before the union:
      // coalesce would repack the parallelize slices back into a few
      // tasks, and ParallelCollection partitions carry their data INSIDE
      // the task binary — the multi-MB-task warning all over again. The
      // base stays shuffle-free (parquet splits coalesce cleanly).
      val addsDist = adds.repartition(math.max(1, math.min(parts, 8)))
      val slim = base.join(
        org.apache.spark.sql.functions.broadcast(touchedDf), Seq("p"), "left_anti")
        .unionByName(addsDist)
        .coalesce(parts)
      publishEntryDir(fs, root, dir, slim)
    }
    // exact live-file count, metadata-rate (parquet footer row counts)
    val nFiles = spark.read.schema(CkptEntrySchema).parquet(dir.toString).count()
    Some(CkptHeader(nFiles, ts, action, schema, constraints, properties, tableStats,
      protocol, rowWatermark, txns))
  }

  /** Entries of a parquet-backed checkpoint, read through the engine. */
  private def readParquetEntries(root: Path, dirName: String): Seq[FileEntry] = {
    val session = org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .getOrElse(throw new PJException(
        "pjparquet: reading a parquet-checkpoint commit log requires an active SparkSession"))
    val dir = new Path(logDir(root), dirName)
    val rows = session.read.schema(CkptEntrySchema).parquet(dir.toString).collect()
    // row decoding is pure — fan it across cores (a 500k-entry checkpoint
    // would otherwise convert on one driver thread)
    val out = new Array[FileEntry](rows.length)
    java.util.stream.IntStream.range(0, rows.length).parallel().forEach { i =>
      val row = rows(i)
      val stats: Map[String, ColStat] =
        if (row.isNullAt(7)) Map.empty
        else row.getSeq[org.apache.spark.sql.Row](7).iterator.map { s =>
          s.getString(0) -> ColStat(s.getInt(1), s.getLong(2),
            Option(s.getAs[Array[Byte]](3)), Option(s.getAs[Array[Byte]](4)))
        }.toMap
      out(i) = FileEntry(
        row.getString(0), row.getLong(1), row.getLong(2), row.getInt(3),
        if (row.isNullAt(4)) None else Some(row.getLong(4)),
        if (row.isNullAt(6)) None else Some(row.getSeq[String](6).toList),
        stats,
        if (row.isNullAt(8)) None
        else Some(DvRef(row.getString(8), if (row.isNullAt(9)) 0L else row.getLong(9))),
        baseRowId = if (row.isNullAt(10)) -1L else row.getLong(10),
        clusteredBy = if (row.isNullAt(11)) None else Some(row.getString(11)))
    }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
  }

  /** Latest version committed at or before `tsMillis` (Delta semantics).
    * Reads per-version headers newest-first — no snapshot replay.
    */
  def versionAtTimestamp(fs: FileSystem, root: Path, tsMillis: Long): Long = {
    val vs = versions(fs, root)
    val at = vs.reverseIterator.find(v => headerOf(fs, root, v).ts <= tsMillis)
    at.getOrElse(throw new PJException(
      s"pjparquet: no commit at or before timestamp $tsMillis" +
        (if (vs.isEmpty) " (table has no commit log)"
        else s" (earliest commit ts=${headerOf(fs, root, vs.head).ts})")))
  }

  /** DESCRIBE HISTORY: one row per retained version, each read from its
    * own small log file — O(versions) metadata reads, no replay.
    */
  def history(fs: FileSystem, root: Path): Seq[HistoryEntry] =
    versions(fs, root).map(v => headerOf(fs, root, v))

  /** runId → version for every RETAINED commit whose operation tag is
    * `copy-into:<runId>` — [[PjCopyInto]]'s marker repair sweep resolves
    * crashed-between-commit-and-finalize claims against this. One streamed
    * header read per version ([[operationAt]]); checkpoint-only versions
    * contribute nothing (their operation rode the expired commit file —
    * which is why the sweep never DELETES a claim on its own).
    */
  def operationsByRun(fs: FileSystem, root: Path): Map[String, Long] =
    versions(fs, root).flatMap(v => copyIntoRun(operationAt(fs, root, v)).map(_ -> v)).toMap

  /** The version of the retained commit tagged `copy-into:<runId>`,
    * scanning BACKWARD from head — a run looking up its own just-landed
    * commit finds it in O(racing writers) header reads, not O(retained
    * versions).
    */
  def versionOfRun(fs: FileSystem, root: Path, runId: String): Option[Long] =
    versions(fs, root).reverseIterator
      .find(v => copyIntoRun(operationAt(fs, root, v)).contains(runId))

  private def copyIntoRun(op: Option[String]): Option[String] =
    op.filter(_.startsWith("copy-into:")).map(_.stripPrefix("copy-into:"))

  /** The originating SQL operation a commit recorded — one streamed
    * header read (the operation scalar rides ahead of the entry payload),
    * no entry parse and no replay. `None` when the commit recorded none,
    * when the version survives only as a checkpoint (its operation rode
    * the expired commit file), or when the commit file cannot be read.
    */
  private[pjparquet] def operationAt(fs: FileSystem, root: Path, v: Long): Option[String] = {
    import com.fasterxml.jackson.core.JsonToken
    val p = commitFile(root, v)
    if (!fs.exists(p)) None
    else try {
      val jp = new com.fasterxml.jackson.core.JsonFactory()
        .createParser(readValidated(fs, p, v))
      var op: Option[String] = None
      if (jp.nextToken() == JsonToken.START_OBJECT) {
        var done = false
        while (!done && jp.nextToken() == JsonToken.FIELD_NAME) {
          val name = jp.currentName(); jp.nextToken()
          name match {
            case "operation" => op = Some(jp.getText); done = true
            case "dataSchema" | "add" | "remove" => done = true
            case _ => jp.skipChildren()
          }
        }
      }
      jp.close()
      op
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** One version's header (ts / action / live-file count) — a single
    * streamed header read, no replay.
    */
  private[pjparquet] def header(fs: FileSystem, root: Path, v: Long): HistoryEntry =
    headerOf(fs, root, v)

  private def headerOf(fs: FileSystem, root: Path, v: Long): HistoryEntry = {
    val p = commitFile(root, v)
    if (fs.exists(p)) parseHeader(fs, p, v)
    else parseHeader(fs, checkpointFile(root, v), v)
  }

  /** STREAMING header read: only the leading scalar fields (version / ts /
    * action / nFiles — [[writeCheckpoint]] and [[renderCommit]] both emit
    * them before any entry array) are parsed, then the stream is dropped.
    * A version served by its checkpoint (post-expiry base) therefore costs
    * O(1) memory for DESCRIBE HISTORY / versionAtTimestamp instead of
    * materializing an O(live files) node tree on the driver.
    */
  private def parseHeader(fs: FileSystem, p: Path, version: Long): HistoryEntry = {
    import com.fasterxml.jackson.core.JsonToken
    try {
      // integrity-validated read first (commit files and checkpoint
      // headers are small; the entry payload of big checkpoints rides
      // parquet), then the same early-exit streamed header parse over the
      // validated bytes
      val jp = new com.fasterxml.jackson.core.JsonFactory()
        .createParser(readValidated(fs, p, version))
      if (jp.nextToken() != JsonToken.START_OBJECT)
        throw new PJException(s"pjparquet: corrupt commit-log entry $p (not a JSON object)")
      var ver = -1L; var ts = 0L; var action = "unknown"; var nFiles = -1L
      var sawVer = false; var sawTs = false; var sawAction = false; var sawN = false
      while (!(sawVer && sawTs && sawAction && sawN) &&
          jp.nextToken() == JsonToken.FIELD_NAME) {
        val name = jp.currentName()
        jp.nextToken()
        name match {
          case "version" => ver = jp.getLongValue; sawVer = true
          case "ts" => ts = jp.getLongValue; sawTs = true
          case "action" => action = jp.getText; sawAction = true
          case "nFiles" => nFiles = jp.getLongValue; sawN = true
          case _ => jp.skipChildren()
        }
      }
      if (ver != version)
        throw new PJException(
          s"pjparquet: commit-log entry claims version $ver but is filed as $version")
      HistoryEntry(version, ts, action, nFiles)
    } catch {
      case _: java.io.FileNotFoundException =>
        val vs = versions(fs, p.getParent.getParent)
        throw new PJException(
          s"pjparquet: version $version does not exist under ${p.getParent}" +
            (if (vs.isEmpty) " (table has no commit log)"
            else s" (available: ${vs.head}..${vs.last})"))
      case e: com.fasterxml.jackson.core.JacksonException =>
        throw new PJException(
          s"pjparquet: corrupt commit-log entry $p (${e.getMessage.take(80)})")
    }
  }

  /** Table-root-relative path of a data file (for snapshot membership). */
  def relativize(fs: FileSystem, root: Path, p: Path): String = {
    val rootUri = fs.makeQualified(root).toUri.getPath.stripSuffix("/")
    val pathUri = fs.makeQualified(p).toUri.getPath
    if (!pathUri.startsWith(rootUri + "/"))
      throw new PJException(s"pjparquet: $p is not under table root $root")
    pathUri.drop(rootUri.length + 1)
  }

  /** Snapshot-membership key that also admits SHALLOW-CLONE entries:
    * root-relative when `p` lives under `root`, the qualified scheme-less
    * absolute path otherwise (exactly the form [[PjClone]] records, and
    * the form `new Path(qualifiedRoot, child)` resolves verbatim). DML,
    * compaction-commit and CDF sites use this; listing-driven sites keep
    * the strict [[relativize]] (everything they list IS under root).
    */
  def relOrAbs(fs: FileSystem, root: Path, p: Path): String = {
    val rootUri = fs.makeQualified(root).toUri.getPath.stripSuffix("/")
    val pathUri = fs.makeQualified(p).toUri.getPath
    if (pathUri.startsWith(rootUri + "/")) pathUri.drop(rootUri.length + 1)
    else pathUri
  }

  /** Build a [[FileEntry]] from a freshly generated index (the write/
    * compaction commit path): rows, row groups, footer fingerprint,
    * column names, and the per-column stats envelope, straight from the
    * in-memory index — no extra I/O.
    */
  def entryFromIndex(relPath: String, size: Long, indexBytes: Array[Byte]): FileEntry = {
    val idx = PJSplice.Index.fromBytes(indexBytes)
    val names = idx.columnNames.toSeq
    val rgs = idx.header.rowGroups
    var rows = 0L
    var rg = 0
    while (rg < rgs) { rows += idx.rowNumber(rg); rg += 1 }
    FileEntry(relPath, size, rows, rgs, Some(idx.footerFnv64), Some(names), aggregateStats(idx))
  }

  /** Whole-file stats envelope from an index's per-chunk statistics:
    * min of mins / max of maxes under the physical type's own order
    * (signed LE for INT32/INT64, unsigned lexicographic for BYTE_ARRAY —
    * the same comparisons [[PjStatsFilter]] prunes with), null counts
    * summed (-1 anywhere = unknown). A row group with a missing bound
    * makes that bound unknown for the file; truncated parquet bounds are
    * still valid bounds, so the envelope stays sound.
    */
  private def aggregateStats(idx: PJSplice.Index): Map[String, ColStat] = {
    val names = idx.columnNames
    val rgs = idx.header.rowGroups
    val out = Map.newBuilder[String, ColStat]
    // one column's whole-file envelope from its per-rg stats (null stat
    // anywhere = unsupported, drop the key)
    def aggOne(key: String, statOf: Int => PJSplice.ChunkStats): Unit = {
      var physType = -1
      var nullCount = 0L
      var min: Array[Byte] = null
      var max: Array[Byte] = null
      var minOk = true
      var maxOk = true
      var supported = true
      var rg = 0
      while (rg < rgs && supported) {
        val st =
          try statOf(rg)
          catch { case scala.util.control.NonFatal(_) => null }
        if (st == null) supported = false
        else {
          if (physType == -1) physType = st.physType
          if (st.physType != 1 && st.physType != 2 && st.physType != 6) supported = false
          else {
            if (nullCount >= 0)
              nullCount = if (st.nullCount < 0) -1L else nullCount + st.nullCount
            // a bound whose byte width does not match the physical type
            // (unexpected stats encoding) degrades to "unknown" for the
            // file — the same defensive posture as PjStatsFilter's
            // width-checked leLong — instead of throwing from the commit
            if (st.min == null || !statWidthOk(physType, st.min)) minOk = false
            else if (minOk && (min == null || cmpStat(physType, st.min, min) < 0)) min = st.min
            if (st.max == null || !statWidthOk(physType, st.max)) maxOk = false
            else if (maxOk && (max == null || cmpStat(physType, st.max, max) > 0)) max = st.max
          }
        }
        rg += 1
      }
      if (supported && physType > 0 && (minOk || maxOk || nullCount >= 0))
        // last-wins for duplicate names, matching the splice's O5 rule.
        // BYTE_ARRAY bounds are prefix-truncated (parquet writers may
        // store multi-KB bounds for long text columns; a million-entry
        // log must not carry them): min truncates DOWN (a prefix is <=
        // the value under unsigned lexicographic order), max rounds UP
        // to the next prefix or drops to unknown — both stay sound
        // envelopes, and PjStatsFilter's tri-state logic already
        // tolerates a missing bound.
        out += key -> ColStat(physType, nullCount,
          if (minOk) Option(min).map(truncateMin(physType, _)) else None,
          if (maxOk) Option(max).flatMap(truncateMax(physType, _)) else None)
    }
    var c = 0
    while (c < names.length) {
      if (!idx.header.nested || idx.elemsOf(c) == 1)
        aggOne(names(c), rg => idx.chunkStats(rg, c))
      else {
        // PJ_3 multi-leaf field: one envelope per LEAF, keyed by the
        // leaf's dotted path ("payload.score") from its own
        // path_in_schema — a filter naming the leaf prunes on bounds
        // that are exact for that leaf (ancestor-null rows count as null
        // leaf values). Leaves are aligned positionally across row
        // groups; a path mismatch anywhere degrades that leaf to
        // "unknown" instead of mixing columns.
        val leaf0 =
          try idx.leafChunkStats(0, c)
          catch { case scala.util.control.NonFatal(_) => IndexedSeq.empty[(String, PJSplice.ChunkStats)] }
        if (leaf0.nonEmpty) {
          val perRg: IndexedSeq[IndexedSeq[(String, PJSplice.ChunkStats)]] =
            (0 until rgs).map { rg =>
              if (rg == 0) leaf0
              else
                try idx.leafChunkStats(rg, c)
                catch { case scala.util.control.NonFatal(_) => null }
            }
          for (l <- leaf0.indices) {
            val key = leaf0(l)._1
            if (key != null)
              aggOne(key, rg => {
                val a = perRg(rg)
                if (a == null || a.size != leaf0.size || a(l)._1 != key) null
                else a(l)._2
              })
          }
        }
      }
      c += 1
    }
    out.result()
  }

  /** Stats-envelope bounds for BYTE_ARRAY columns are capped at this many
    * bytes (Delta truncates data-skipping string stats the same way).
    */
  private[pjparquet] val MaxStatBytes = 32

  /** Lower bound: a plain prefix is always <= the full value. */
  private[pjparquet] def truncateMin(physType: Int, b: Array[Byte]): Array[Byte] =
    if (physType != 6 || b.length <= MaxStatBytes) b
    else java.util.Arrays.copyOf(b, MaxStatBytes)

  /** Upper bound: the prefix alone would UNDERSTATE the max, so round it
    * up to the next lexicographic value (increment the last non-0xff
    * byte, dropping the tail); an all-0xff prefix has no successor —
    * return None (unknown bound, never prunes).
    */
  private[pjparquet] def truncateMax(physType: Int, b: Array[Byte]): Option[Array[Byte]] = {
    if (physType != 6 || b.length <= MaxStatBytes) return Some(b)
    val p = java.util.Arrays.copyOf(b, MaxStatBytes)
    var i = MaxStatBytes - 1
    while (i >= 0 && p(i) == 0xff.toByte) i -= 1
    if (i < 0) None
    else {
      p(i) = (p(i) + 1).toByte
      Some(java.util.Arrays.copyOf(p, i + 1))
    }
  }

  /** Physical-type-ordered compare of two plain-encoded stat values. */
  private def cmpStat(physType: Int, a: Array[Byte], b: Array[Byte]): Int = physType match {
    case 1 | 2 =>
      val av = leLong(a); val bv = leLong(b)
      java.lang.Long.compare(av, bv)
    case _ => // BYTE_ARRAY: unsigned lexicographic
      var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) {
        val d = (a(i) & 0xff) - (b(i) & 0xff)
        if (d != 0) return d
        i += 1
      }
      a.length - b.length
  }

  /** Plain-encoded INT32 is exactly 4 bytes, INT64 exactly 8; BYTE_ARRAY
    * bounds are any length. Anything else is an unexpected encoding.
    */
  private def statWidthOk(physType: Int, b: Array[Byte]): Boolean = physType match {
    case 1 => b.length == 4
    case 2 => b.length == 8
    case _ => true
  }

  private def leLong(b: Array[Byte]): Long = {
    val bb = java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    if (b.length == 4) bb.getInt.toLong else bb.getLong
  }

  // ------------------------------------------------------------ publish

  /** Atomically claim `target` with `body`. Local filesystems hard-link a
    * fully written temp file over (link(2) is atomic and fails with
    * EEXIST); other stores use exclusive create — atomic on HDFS; object
    * stores without conditional create keep the documented single-writer-
    * per-version contract. Returns false when the version was already
    * claimed (conflict).
    */
  // ------------------------------------------------------- integrity seal

  /** Log corruption detection. Every commit/checkpoint body carries
    * `"sealed":true` and the file ends with one extra line,
    * `{"crc32c":<crc>,"len":<bytes>}`, where crc/len cover every byte
    * BEFORE that line's separating newline. Replay and history validate:
    *
    *  - a bit flip anywhere in the body → CRC mismatch, loud;
    *  - truncation inside the body → JSON parse failure or CRC/len
    *    mismatch, loud;
    *  - truncation that drops exactly the seal line → no seal present,
    *    loud.
    *
    * The body is single-line JSON (control characters are escaped), so
    * the seal's separating newline is unambiguous: it is the LAST raw 0x0A.
    */
  private final class SealingOutputStream(out: java.io.OutputStream)
      extends java.io.OutputStream {
    private val crc = new java.util.zip.CRC32C()
    private var count = 0L
    override def write(b: Int): Unit = { out.write(b); crc.update(b); count += 1 }
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      out.write(b, off, len); crc.update(b, off, len); count += len
    }
    override def flush(): Unit = out.flush()
    /** Append the seal line — call LAST, after the body is flushed. */
    def writeSeal(): Unit = {
      out.write(sealLine(crc.getValue, count)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      out.flush()
    }
  }

  private def sealLine(crc: Long, len: Long): String =
    "\n{\"crc32c\":" + crc + ",\"len\":" + len + "}"

  /** Read + integrity-check a log file: returns the BODY bytes (seal line
    * stripped). Throws [[PJException]] naming the version on any
    * corruption class above.
    */
  private def readValidated(fs: FileSystem, p: Path, version: Long): Array[Byte] = {
    val in = fs.open(p)
    val all =
      try {
        val buf = new java.io.ByteArrayOutputStream(8192)
        val chunk = new Array[Byte](65536)
        var n = in.read(chunk)
        while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
        buf.toByteArray
      } finally in.close()
    def corrupt(why: String): Nothing =
      throw new PJException(
        s"pjparquet: corrupt commit-log entry $p ($why); version $version is " +
          "unreadable — restore the file from a replica or expire past it")
    var nl = all.length - 1
    while (nl >= 0 && all(nl) != '\n') nl -= 1
    val tail =
      if (nl < 0 || nl == all.length - 1) ""
      else new String(all, nl + 1, all.length - nl - 1,
        java.nio.charset.StandardCharsets.UTF_8).trim
    if (!tail.startsWith("{\"crc32c\":"))
      corrupt("the seal line is missing — truncated file")
    val node =
      try new ObjectMapper().readTree(tail)
      catch { case _: com.fasterxml.jackson.core.JacksonException => corrupt("unparseable seal line") }
    val recordedCrc = node.path("crc32c").asLong(-1L)
    val recordedLen = node.path("len").asLong(-1L)
    if (recordedLen != nl)
      corrupt(s"seal length mismatch: recorded $recordedLen, found $nl body bytes")
    val crc = new java.util.zip.CRC32C()
    crc.update(all, 0, nl)
    if (crc.getValue != recordedCrc)
      corrupt(s"CRC32C mismatch: recorded $recordedCrc, computed ${crc.getValue}")
    java.util.Arrays.copyOfRange(all, 0, nl)
  }

  /** One audited log file: `ok` status (a valid seal), or the failure
    * message.
    */
  final case class LogAudit(version: Long, file: String, isSealed: Boolean, status: String)

  /** Integrity audit of every retained log file (commit deltas AND
    * checkpoint headers) — the `CALL pj.system.verify_log` surface. Never
    * throws: each corrupt file becomes a row naming the failure, so an
    * operator sees the full damage report in one pass instead of the
    * first-failure-wins behavior replay necessarily has.
    */
  def auditLog(fs: FileSystem, root: Path): Seq[LogAudit] =
    versions(fs, root).flatMap { v =>
      Seq(commitFile(root, v), checkpointFile(root, v)).filter(fs.exists).map { p =>
        try {
          new ObjectMapper().readTree(readValidated(fs, p, v))
          LogAudit(v, p.getName, isSealed = true, "ok")
        } catch {
          case e: Exception =>
            LogAudit(v, p.getName, isSealed = false,
              Option(e.getMessage).getOrElse(e.getClass.getName).take(300))
        }
      }
    }

  /** Atomic exclusive create of `target` with `body` — the SAME claim
    * mechanism version files use (hard-link on local filesystems, where
    * `create(overwrite=false)` is a TOCTOU check-then-create; exclusive
    * rename elsewhere). Returns false when another writer holds the
    * claim. For sidecar protocol files that need per-file mutual
    * exclusion ([[PjCopyInto]] ingest markers).
    */
  private[pjparquet] def claimFile(fs: FileSystem, target: Path, body: String): Boolean =
    publishStream(fs, target)(out =>
      out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8)))

  private def publish(fs: FileSystem, target: Path, body: String): Boolean = {
    val sealedBody = sealBody(body)
    publishStream(fs, target)(_.write(sealedBody))
  }

  /** `body` as a log file stores it: the UTF-8 bytes followed by their
    * seal line.
    */
  private[graft] def sealBody(body: String): Array[Byte] = {
    val bytes = body.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val crc = new java.util.zip.CRC32C()
    crc.update(bytes)
    bytes ++ sealLine(crc.getValue, bytes.length.toLong)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
  }

  /** Streaming form of the atomic claim: `write` receives the output
    * stream directly, so large bodies (checkpoints) never materialize as
    * one in-memory string.
    */
  private def publishStream(
      fs: FileSystem, target: Path)(write: java.io.OutputStream => Unit): Boolean = {
    if (fs.getScheme == "file") {
      val dir = target.getParent
      val tmp = new Path(dir, s".${target.getName}.${java.util.UUID.randomUUID()}.tmp")
      val tmpNio = java.nio.file.Paths.get(fs.makeQualified(tmp).toUri)
      val tgtNio = java.nio.file.Paths.get(fs.makeQualified(target).toUri)
      // NIO CREATE_NEW, never fs.create: the hadoop local create RECREATES
      // missing parent directories — a publish racing a concurrent
      // DROP/rename would silently resurrect the moved-away log dir and
      // land a commit in the husk (the maintenance fuzzer's silent
      // append loss, seed 20045). A vanished dir now surfaces as
      // NoSuchFileException -> the loud conflict below.
      val out =
        try java.nio.file.Files.newOutputStream(tmpNio,
          java.nio.file.StandardOpenOption.CREATE_NEW,
          java.nio.file.StandardOpenOption.WRITE)
        catch {
          case e: java.nio.file.NoSuchFileException =>
            throw new PJException(
              s"pjparquet: the commit log directory vanished while " +
                s"publishing $target (table dropped or renamed by a " +
                "concurrent writer); aborting commit", e)
        }
      try write(out) finally out.close()
      try {
        java.nio.file.Files.createLink(tgtNio, tmpNio)
        fs.delete(tmp, false)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          fs.delete(tmp, false); false
        case e: java.nio.file.NoSuchFileException =>
          // the LOG DIRECTORY (with our tmp inside) vanished between the
          // tmp write and the link — a concurrent DROP or catalog rename
          // moved the table. Refuse loudly: a silent retry would re-list
          // an empty dir and FORK a fresh v1 at the stale path
          // (maintenance-lane fuzzer, seed window 20000).
          throw new PJException(
            s"pjparquet: the commit log directory vanished while " +
              s"publishing $target (table dropped or renamed by a " +
              "concurrent writer); aborting commit", e)
      }
    } else {
      // non-local stores: write the FULL body to a temp file first, then
      // rename into place — rename is atomic on HDFS's namenode and fails
      // when the destination exists, so the claim stays atomic AND a
      // concurrent reader can never open a claimed-but-incomplete (e.g.
      // zero-length) version file. Object stores without atomic rename
      // keep the documented single-writer-per-version contract.
      if (fs.exists(target)) return false
      val tmp = new Path(target.getParent,
        s".${target.getName}.${java.util.UUID.randomUUID()}.tmp")
      val out = fs.create(tmp, false)
      try write(out) finally out.close()
      val claimed =
        try fs.rename(tmp, target)
        catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        }
      if (!claimed) fs.delete(tmp, false)
      claimed
    }
  }

  // --------------------------------------------------------------- json

  private def renderCommit(
      v: Long, ts: Long, action: String, add: Seq[FileEntry], remove: Seq[String],
      nFiles: Long, dataSchemaJson: Option[String], operation: Option[String],
      constraintsJson: Option[String] = None,
      propertiesJson: Option[String] = None,
      tableStatsJson: Option[String] = None,
      protocolJson: Option[String] = None,
      rowWatermark: Option[String] = None,
      preservedRows: Boolean = false,
      txn: Option[(String, Long)] = None): String = {
    val mapper = new ObjectMapper()
    val node = mapper.createObjectNode()
    node.put("version", v)
    // part of the fixed header; readers check the trailing seal line itself
    node.put("sealed", true)
    node.put("ts", ts)
    node.put("action", action)
    node.put("nFiles", nFiles)
    operation.foreach(o => node.put("operation", o))
    dataSchemaJson.foreach(s => node.put("dataSchema", s))
    constraintsJson.foreach(c => node.put("constraints", c))
    propertiesJson.foreach(p => node.put("properties", p))
    tableStatsJson.foreach(t => node.put("tableStats", t))
    protocolJson.foreach(p => node.put("protocol", p))
    rowWatermark.foreach(w => node.put("rowWatermark", w))
    if (preservedRows) node.put("preservedRows", true)
    txn.foreach { case (app, ver) =>
      val t = node.putObject("txn")
      t.put("app", app)
      t.put("ver", ver)
    }
    val addArr = node.putArray("add")
    add.foreach(e => addArr.add(entryNode(mapper, e)))
    val rmArr = node.putArray("remove")
    remove.foreach(rmArr.add)
    mapper.writeValueAsString(node) + "\n"
  }

  /** Entry-list JSON for out-of-log snapshots ([[PjRefs]] branch staging)
    * — same per-entry codec as commit files.
    */
  private[pjparquet] def renderEntriesJson(entries: Seq[FileEntry]): String = {
    val mapper = new ObjectMapper()
    val arr = mapper.createArrayNode()
    entries.foreach(e => arr.add(entryNode(mapper, e)))
    arr.toString
  }

  private[pjparquet] def parseEntriesJson(json: String): Seq[FileEntry] =
    new ObjectMapper().readTree(json).elements().asScala.map(entryOf).toSeq

  private def entryNode(mapper: ObjectMapper, e: FileEntry): ObjectNode = {
    val n = mapper.createObjectNode()
    n.put("p", e.path)
    if (e.size >= 0) n.put("s", e.size)
    if (e.rows >= 0) n.put("r", e.rows)
    if (e.rowGroups >= 0) n.put("g", e.rowGroups)
    e.fingerprint.foreach(f => n.put("f", java.lang.Long.toHexString(f)))
    e.cols.foreach { cs =>
      val arr = n.putArray("c")
      cs.foreach(arr.add)
    }
    if (e.stats.nonEmpty) {
      val st = n.putObject("st")
      val b64 = java.util.Base64.getEncoder
      e.stats.toSeq.sortBy(_._1).foreach { case (name, cs) =>
        val s = st.putObject(name)
        s.put("t", cs.physType)
        s.put("nc", cs.nullCount)
        cs.min.foreach(m => s.put("mn", b64.encodeToString(m)))
        cs.max.foreach(m => s.put("mx", b64.encodeToString(m)))
      }
    }
    e.dv.foreach { d =>
      n.put("dv", d.path)
      n.put("dn", d.deleted)
    }
    if (e.baseRowId >= 0) n.put("bi", e.baseRowId)
    e.clusteredBy.foreach(c => n.put("cb", c))
    n
  }

  private def entryOf(n: JsonNode): FileEntry = {
    val b64 = java.util.Base64.getDecoder
    val stats: Map[String, ColStat] =
      if (!n.has("st")) Map.empty
      else n.get("st").fieldNames().asScala.map { name =>
        val s = n.get("st").get(name)
        name -> ColStat(
          s.path("t").asInt(-1), s.path("nc").asLong(-1L),
          Option(s.get("mn")).map(m => b64.decode(m.asText)),
          Option(s.get("mx")).map(m => b64.decode(m.asText)))
      }.toMap
    FileEntry(
      n.get("p").asText,
      n.path("s").asLong(-1L),
      n.path("r").asLong(-1L),
      n.path("g").asInt(-1),
      Option(n.get("f")).map(f => java.lang.Long.parseUnsignedLong(f.asText, 16)),
      Option(n.get("c")).map(_.elements().asScala.map(_.asText).toSeq),
      stats,
      Option(n.get("dv")).map(d => DvRef(d.asText, n.path("dn").asLong(0L))),
      baseRowId = n.path("bi").asLong(-1L),
      clusteredBy = optText(n, "cb"))
  }

  private def nodeEntries(node: JsonNode, field: String): Seq[FileEntry] =
    if (!node.has(field)) Nil
    else node.get(field).elements().asScala.map(entryOf).toSeq

  private def optText(node: JsonNode, field: String): Option[String] =
    Option(node.get(field)).map(_.asText)

  private def parseFile(fs: FileSystem, p: Path, version: Long): JsonNode = {
    // integrity-validated read ([[readValidated]]): bit flips and
    // truncations fail loudly with the version named, before any replay
    val node =
      try new ObjectMapper().readTree(readValidated(fs, p, version))
      catch {
        case _: java.io.FileNotFoundException =>
          val vs = versions(fs, p.getParent.getParent)
          throw new PJException(
            s"pjparquet: version $version does not exist under ${p.getParent}" +
              (if (vs.isEmpty) " (table has no commit log)"
              else s" (available: ${vs.head}..${vs.last})"))
        case e: com.fasterxml.jackson.core.JacksonException =>
          throw new PJException(
            s"pjparquet: corrupt commit-log entry $p (${e.getMessage.take(80)})")
      }
    val v = node.path("version").asLong(-1L)
    if (v != version)
      throw new PJException(
        s"pjparquet: commit-log entry claims version $v but is filed as $version")
    node
  }
}
