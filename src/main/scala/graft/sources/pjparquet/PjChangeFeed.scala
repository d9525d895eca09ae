package graft.sources.pjparquet

import java.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder}
import org.apache.spark.sql.execution.datasources.parquet.PjSparkShims
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Change data feed for commit-log tables — the row-level diff a version
  * introduced, labeled Delta-CDF style with `_change_type` ∈ {insert,
  * delete, update_preimage, update_postimage} and `_commit_version`.
  *
  * Zero write amplification: nothing extra is stored at commit time.
  * Because the log already retains each version's file set AND every
  * commit's add/remove delta, the feed is computed at read time from
  * exactly the files the version touched:
  *
  *  - a pure-ADD commit (append, streaming epoch): every row of the added
  *    files is an `insert` — one scan of the new files, no diff;
  *  - a pure-REMOVE commit (metadata DELETE, truncate): every row of the
  *    removed files is a `delete`;
  *  - a REWRITE commit (copy-on-write DML, overwrite): a multiset diff of
  *    the removed vs added files' rows — rows the rewrite carried over
  *    byte-identically cancel, so only genuine changes surface. The
  *    commit's recorded SQL command (`operation`: update/merge) picks
  *    `update_preimage`/`update_postimage` labels; anything else labels
  *    `delete`/`insert`. Layout-only rewrites (compact, OPTIMIZE ZORDER)
  *    diff to an EMPTY feed — the data did not change, and the feed
  *    proves it.
  *
  * Every committed file is read through the index-spliced [[PjScan]]
  * ([[PjFeedReader]]), which applies deletion vectors and types partition
  * columns exactly as table reads do: a "row of a file" above is a LIVE
  * row.
  *
  * 100 TB shape: work is proportional to the files the version touched,
  * never the table; the diff shuffles once on full-row hash, map-side
  * combined by the count aggregation. Versions whose predecessor was
  * expired by vacuum cannot be diffed and fail loudly.
  */
object PjChangeFeed {

  /** Per-version persisted change files: `<root>/_pj_cdc/v=<version>/`.
    * Written at commit time by DML commits of tables with
    * `cdc.enabled=true` (Delta's `delta.enableChangeDataFeed` contract):
    * the copy-on-write rewrite is the only commit class whose change
    * rows need a diff, so persisting exactly those makes the WHOLE feed
    * streamable from plain file scans — appends stream from the table
    * itself, persisted DML changes stream from this directory
    * (`readStream.parquet(root + "/_pj_cdc")`, the `v` partition column
    * carrying the commit version). Pure-add/pure-remove commits never
    * write change files (their rows ARE the committed data files — zero
    * amplification), and a missing cdc dir (crash between commit and
    * cdc write, cdc disabled) degrades to the read-time diff — the feed
    * is self-healing, never wrong.
    */
  private[pjparquet] def cdcDir(root: Path, version: Long): Path =
    new Path(new Path(root, "_pj_cdc"), s"v=$version")

  /** Compute and persist the change rows of a copy-on-write commit
    * (called post-commit from [[PjBatchWrite]] when `cdc.enabled`).
    * Failure is non-fatal by contract — readers recompute.
    */
  private[pjparquet] def persistCommitDiff(
      spark: SparkSession,
      root: String,
      version: Long): Unit = {
    val out = cdcDir(new Path(root), version)
    changesAt(spark, root, version)
      .drop("_commit_version") // the v= partition dir carries it
      .write.mode("overwrite").parquet(out.toString)
  }

  /** The changes commit `version` introduced (relative to `version - 1`).
    * Served from the persisted `_pj_cdc/v=<version>/` files when the
    * commit wrote them, else computed by read-time diff over the table's
    * read schema at `version`: the removed files' live rows as of
    * `version - 1` against the added files' live rows as of `version`,
    * both read through [[PjScan]] ([[PjFeedReader]]).
    */
  def changesAt(spark: SparkSession, root: String, version: Long): DataFrame = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    val cdc = cdcDir(rootPath, version)
    if (fs.exists(cdc)) {
      return spark.read.parquet(cdc.toString)
        .withColumn("_commit_version", lit(version))
    }
    val vs = PjCommitLog.versions(fs, rootPath)
    require(vs.contains(version),
      s"pjparquet: version $version not in the commit log (available: " +
        s"${if (vs.isEmpty) "none" else s"${vs.head}..${vs.last}"})")
    // empty-predecessor treatment applies ONLY to the table's true first
    // commit: when `version - 1` was expired by vacuum the diff base is
    // unknowable, and silently treating it as empty would re-emit every
    // carried-over row as an insert — fail loudly instead (the scaladoc
    // contract)
    val prevEntries: Map[String, PjCommitLog.FileEntry] =
      if (version == 1L) Map.empty
      else if (!vs.contains(version - 1))
        throw new graft.core.PJException(
          s"pjparquet: cannot compute changes at version $version: its " +
            s"predecessor version ${version - 1} was expired by vacuum " +
            s"(oldest retained: ${vs.min}); no persisted change files exist " +
            "for this version either")
      else PjCommitLog.read(fs, rootPath, version - 1)
        .entries.map(e => e.path -> e).toMap
    val prevFiles = prevEntries.keySet
    val d = PjCommitLog.delta(fs, rootPath, version)
    val reader = PjFeedReader.at(spark, root, Some(version))
    // the version's schema, zero rows: an empty local relation, no scan
    def noRows = reader.empty(reader.scan(Nil)).withColumn("_change_type", lit(""))
    // ROW TRACKING pure-move short-circuit: an id-preserving rewrite
    // (compaction / OPTIMIZE that materialized every consumed row's
    // stable id) recorded `preservedRows` — the version changed NO row,
    // so the feed is empty at METADATA rate: no multiset diff, no data
    // file is read (an empty local relation)
    if (d.preservedRows)
      return noRows.withColumn("_commit_version", lit(version))
    val readded = d.add.map(_.path).toSet
    // idempotent replays may re-add an already-live path: not a change —
    // UNLESS the re-add changed the entry's DELETION VECTOR, in which case
    // the change rows are exactly the file's newly-deleted positions.
    // A checkpoint-only version records the full state as `add`.
    val dvTrans: Seq[String] = d.add.collect {
      case e if e.dv.isDefined &&
          prevEntries.get(e.path).exists(_.dv.map(_.path) != e.dv.map(_.path)) => e.path
    }
    val added: Seq[String] = d.add.map(_.path).filterNot(prevFiles.contains)
    val removed: Seq[String] =
      if (d.fullState) (prevFiles -- readded).toSeq.sorted
      else d.remove.filter(prevFiles.contains).filterNot(readded.contains)

    val (preLabel, postLabel) = labelsOf(d.operation)

    // removed files are read in the predecessor's layout, with the
    // predecessor's deletion vectors
    val pre = if (removed.isEmpty) None else Some(reader.rows(version - 1, removed))
    val post = if (added.isEmpty) None else Some(reader.rows(version, added))
    val base = (pre, post) match {
      case (None, None) => None
      case (None, Some(p)) => Some(p.withColumn("_change_type", lit(postLabel)))
      case (Some(p), None) => Some(p.withColumn("_change_type", lit(preLabel)))
      case (Some(a), Some(b)) => Some(multisetDiff(a, b, preLabel, postLabel))
    }
    // newly-deleted positions label with the PRE label: "delete" for a
    // deletion-vector DELETE, "update_preimage" when a merge-on-read
    // UPDATE/MERGE retired the positions (its new rows carry the post label)
    val dvPart =
      if (dvTrans.isEmpty) None
      else Some(reader.newlyDeleted(version, dvTrans).withColumn("_change_type", lit(preLabel)))
    val out = (base, dvPart) match {
      case (None, None) => noRows // metadata-only commit
      case (Some(b), None) => b
      case (None, Some(dv)) => dv
      case (Some(b), Some(dv)) => b.unionByName(dv, allowMissingColumns = true)
    }
    out.withColumn("_commit_version", lit(version))
  }

  /** What one commit contributes to the feed — the planning unit shared by
    * the batch range read ([[changes]]) and the streaming source
    * ([[PjCdfMicroBatchStream]]). Classification is metadata-rate (log
    * deltas only, no data I/O).
    */
  private[pjparquet] sealed trait VersionClass { def version: Long }
  /** Change rows persisted at commit time under `_pj_cdc/v=<version>/`. */
  private[pjparquet] final case class Persisted(version: Long) extends VersionClass
  /** Every LIVE row of `rels` as of `version` enters the feed labeled
    * `label` (pure add).
    */
  private[pjparquet] final case class PureAdd(
      version: Long, rels: Seq[String], label: String) extends VersionClass
  /** Every LIVE row of `rels` as of `version - 1` enters the feed labeled
    * `label` (pure remove).
    */
  private[pjparquet] final case class PureRemove(
      version: Long, rels: Seq[String], label: String) extends VersionClass
  /** Copy-on-write rewrite without persisted change files: needs the
    * read-time multiset diff ([[changesAt]]).
    */
  private[pjparquet] final case class Rewrite(version: Long) extends VersionClass
  /** No row-level change (schema-only / idempotent replay / layout no-op
    * whose add==remove — NOT compaction, which classifies as Rewrite and
    * diffs to empty).
    */
  private[pjparquet] final case class MetadataOnly(version: Long) extends VersionClass

  /** Classify every version of an ascending range in ONE incremental pass:
    * the predecessor file set threads through the deltas (O(files +
    * changes) total driver work), instead of replaying one snapshot per
    * version. The expired-predecessor guard matches [[changesAt]]: a
    * version whose diff base was vacuumed classifies only if its change
    * rows were persisted; otherwise it fails loudly.
    */
  private[pjparquet] def classifyRange(
      fs: org.apache.hadoop.fs.FileSystem,
      rootPath: Path,
      range: Seq[Long],
      allVersions: Seq[Long]): Seq[VersionClass] = {
    require(range.nonEmpty && range == range.sorted, "classifyRange needs an ascending range")
    // live (file → deletion-vector rel) BEFORE the first version of the
    // range; null = unknowable (predecessor expired) — resolvable lazily
    // from the first version's own snapshot once that version proves
    // persisted
    def liveOf(entries: Seq[PjCommitLog.FileEntry]): Map[String, Option[String]] =
      entries.map(e => e.path -> e.dv.map(_.path)).toMap
    var live: Map[String, Option[String]] =
      if (range.head == 1L) Map.empty
      else if (allVersions.contains(range.head - 1))
        liveOf(PjCommitLog.read(fs, rootPath, range.head - 1).entries)
      else null
    range.map { v =>
      val persisted = fs.exists(cdcDir(rootPath, v))
      if (!persisted && live == null)
        throw new graft.core.PJException(
          s"pjparquet: cannot compute changes at version $v: its " +
            s"predecessor version ${v - 1} was expired by vacuum " +
            s"(oldest retained: ${allVersions.min}); no persisted change " +
            "files exist for this version either")
      // one delta read per version classifies it AND advances the live set
      val d = if (live == null) null else PjCommitLog.delta(fs, rootPath, v)
      val cls: VersionClass =
        if (persisted) Persisted(v)
        else {
          val readded = d.add.map(_.path).toSet
          // a re-add whose entry changed DELETION VECTOR is a row-level
          // change (the newly-deleted positions) — the diff path computes it
          val dvTrans = d.add.exists(e =>
            live.contains(e.path) && live(e.path) != e.dv.map(_.path))
          // for a checkpoint-only version d.add IS the post state, so the
          // same filterNot(live) yields exactly the truly-new files
          val added = d.add.map(_.path).filterNot(live.contains)
          val removed: Seq[String] =
            if (d.fullState) (live.keySet -- readded).toSeq.sorted
            else d.remove.filter(live.contains).filterNot(readded.contains)
          val (preL, postL) = labelsOf(d.operation)
          if (dvTrans) Rewrite(v)
          else if (added.isEmpty && removed.isEmpty) MetadataOnly(v)
          else if (removed.isEmpty) PureAdd(v, added, postL)
          else if (added.isEmpty) PureRemove(v, removed, preL)
          else Rewrite(v)
        }
      // advance the live set THROUGH this version for the next one
      live =
        if (d == null) liveOf(PjCommitLog.read(fs, rootPath, v).entries)
        else if (d.fullState) liveOf(d.add)
        else live -- d.remove ++ d.add.map(e => e.path -> e.dv.map(_.path))
      cls
    }
  }

  private def labelsOf(operation: Option[String]): (String, String) = operation match {
    case Some("update") | Some("merge") => ("update_preimage", "update_postimage")
    case _ => ("delete", "insert")
  }

  /** The files a classified range reads ([[PjFeedReader.planRange]]):
    * data files carrying label, version and timestamp constants, change
    * files carrying version and timestamp constants, and the rewrite
    * versions that still need a [[changesAt]] diff.
    */
  private[pjparquet] final case class RangePlan(
      data: Seq[PjFile], cdc: Seq[PjFile], rewrites: Seq[Long])

  /** The feed over `[fromVersion, toVersion]` — the batch CDF read
    * (`startingVersion`/`endingVersion` semantics) — as ONE bounded plan
    * over the table's head read schema, planned by the same
    * [[PjFeedReader.planRange]] as the streaming source:
    *
    *  - all PURE-ADD and PURE-REMOVE versions read as one [[PjScan]] over
    *    their files, each split carrying its change type, commit version
    *    and commit timestamp as typed constants;
    *  - all PERSISTED versions read as one scan over their `_pj_cdc/v=N`
    *    change files, version and timestamp again constants;
    *  - only REWRITE versions without persisted change files union an
    *    individual multiset-diff subplan each (the one class whose rows
    *    genuinely need the engine to diff), the timestamp a literal.
    *
    * A year of streaming epochs (thousands of append versions) therefore
    * plans as ~one scan, not one union branch per version.
    */
  def changes(spark: SparkSession, root: String, fromVersion: Long, toVersion: Long): DataFrame =
    changes(PjFeedReader.at(spark, root, None), fromVersion, toVersion)

  private[pjparquet] def changes(
      reader: PjFeedReader, fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion,
      s"pjparquet: fromVersion $fromVersion > toVersion $toVersion")
    val rootPath = new Path(reader.root)
    val fs = rootPath.getFileSystem(reader.spark.sessionState.newHadoopConf())
    val all = PjCommitLog.versions(fs, rootPath)
    val vs = all.filter(v => v >= fromVersion && v <= toVersion)
    require(vs.nonEmpty, s"pjparquet: no versions in [$fromVersion, $toVersion]")
    val plan = reader.planRange(classifyRange(fs, rootPath, vs, all))
    val parts =
      (if (plan.data.isEmpty) Nil else Seq(reader.frame(reader.dataScan(plan.data)))) ++
        (if (plan.cdc.isEmpty) Nil else Seq(reader.frame(reader.cdcScan(plan.cdc)))) ++
        plan.rewrites.map(v => changesAt(reader.spark, reader.root, v)
          .withColumn(PjChangeFeedTable.CommitTimestampCol,
            timestamp_millis(lit(reader.commitMillis(v)))))
    // all metadata-only: the typed empty feed
    if (parts.isEmpty) reader.empty(reader.dataScan(Nil))
    // allowMissingColumns: a column ADDed after a rewrite version is
    // missing from that version's diff branch — it reads null there
    else parts.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** EXCEPT ALL in both directions, labeled: rows with more occurrences in
    * `pre` than `post` emit (count difference) times as `preLabel`, and
    * vice versa. Null-safe on every column; one shuffle on the full row.
    */
  private def multisetDiff(
      pre: DataFrame, post: DataFrame, preLabel: String, postLabel: String): DataFrame = {
    val cols = pre.columns.toSeq
    val preC = pre.groupBy(cols.map(col): _*).agg(count(lit(1)).as("_n_pre"))
    val postC = post.groupBy(cols.map(col): _*).agg(count(lit(1)).as("_n_post"))
    val cond = cols.map(c => preC(c) <=> postC(c)).reduce(_ && _)
    val joined = preC.join(postC, cond, "full_outer")
    val vals = cols.map(c => coalesce(preC(c), postC(c)).as(c))
    val flat = joined.select(
      (vals :+ coalesce(preC("_n_pre"), lit(0L)).as("_n_pre")
        :+ coalesce(postC("_n_post"), lit(0L)).as("_n_post")): _*)
    val del = flat.filter(col("_n_pre") > col("_n_post"))
      .withColumn("_change_type", lit(preLabel))
      .withColumn("_mult", col("_n_pre") - col("_n_post"))
    val ins = flat.filter(col("_n_post") > col("_n_pre"))
      .withColumn("_change_type", lit(postLabel))
      .withColumn("_mult", col("_n_post") - col("_n_pre"))
    // a single row repeated > Int.MaxValue times in ONE commit is absurd,
    // but the Int cast must fail loudly rather than silently truncate
    val mult = when(col("_mult") <= lit(Int.MaxValue.toLong), col("_mult").cast("int"))
      .otherwise(raise_error(concat(
        lit("pjparquet: change-feed row multiplicity overflows Int: "), col("_mult"))))
    del.unionByName(ins)
      .withColumn("_rep", explode(array_repeat(lit(1), mult)))
      .drop("_n_pre", "_n_post", "_mult", "_rep")
  }
}

/** The one reader of committed data files for the change feed and clone
  * materialization: every read is a [[PjScan]] over the files
  * [[filesOfVersion]] resolves from the commit log, so deletion vectors,
  * partition typing, column mapping and the hidden row-id column are the
  * scan's business, exactly as in table reads. `table` fixes the read
  * schema: its data columns, then its partition columns.
  */
private[pjparquet] final class PjFeedReader(
    val spark: SparkSession, val root: String, table: PjParquetTable) {
  private val conf = spark.sessionState.newHadoopConf()
  private val rootPath = new Path(root)
  private val fs = rootPath.getFileSystem(conf)

  /** The table's partition columns, typed as table reads type them. */
  val partSchema: StructType = table.layout.partitionSchema
  private val dataSchema = StructType(table.schema.fields.filterNot(f =>
    partSchema.fieldNames.exists(_.equalsIgnoreCase(f.name))))
  private val fieldIds = PjColumnMapping.fieldIdsByPhysical(table.layout.dataSchema)

  /** Commit timestamp of `version`, epoch millis. */
  def commitMillis(version: Long): Long = PjCommitLog.header(fs, rootPath, version).ts

  /** Per-split constants for a version's rows: the commit version and its
    * timestamp (epoch MICROS — the typed-constant machinery's timestamp
    * representation).
    */
  private def versionConsts(version: Long): Seq[String] =
    Seq(version.toString, (commitMillis(version) * 1000L).toString)

  /** The table's files at `version`, restricted to the snapshot keys
    * `rels`, each with its deletion vector as of `version` and its
    * partition values realigned by name to [[partSchema]] (a key the
    * version's layout lacks reads null). Index bytes ride the (cached)
    * snapshot resolution; files in `rels` but not in the layout are
    * zero-row-group (empty) parquet and contribute no rows.
    */
  def filesOfVersion(version: Long, rels: Seq[String]): Seq[PjFile] = {
    if (rels.isEmpty) return Nil
    val layout = PjParquetTable.resolveFiles(
      root, conf, autogen = true, mergeSchema = false, versionAsOf = Some(version))
    val want = rels.toSet
    val keys = layout.partitionSchema.fieldNames.map(_.toLowerCase(java.util.Locale.ROOT))
    val at = partSchema.fieldNames.map(n => keys.indexOf(n.toLowerCase(java.util.Locale.ROOT)))
    layout.files
      .filter(f => want.contains(PjCommitLog.relOrAbs(fs, rootPath, new Path(f.path))))
      .map(f => f.copy(partitionValues = at.toSeq.map(i =>
        if (i < 0) PjParquetTable.HiveNullPartition else f.partitionValues(i))))
  }

  /** The files of persisted change directory `_pj_cdc/v=<version>/`; an
    * empty diff persisted as zero-row-group parquet has none.
    */
  private def changeFiles(version: Long): Seq[PjFile] =
    try PjParquetTable.resolveFiles(
      PjChangeFeed.cdcDir(rootPath, version).toString, conf, autogen = true).files
    catch {
      case e: graft.core.PJException if e.getMessage.contains("zero-row-group") => Nil
    }

  /** The files a classified range reads — the one planner of the batch
    * feed and the streaming source:
    *
    *  - a PURE-ADD version's added files as of `v`;
    *  - a PURE-REMOVE version's removed files as of `v - 1`: they belong
    *    to the predecessor's layout (still on disk until vacuum; vacuum
    *    past an un-consumed stream cursor is the operator error the age
    *    guard exists for), with the predecessor's deletion vectors;
    *  - a PERSISTED version's `_pj_cdc/v=N` change files;
    *  - nothing for a METADATA-ONLY version;
    *  - a REWRITE version without change files: returned for a diff.
    *
    * Data files carry label, version and timestamp as per-split
    * constants ([[dataScan]]); change files carry version and timestamp
    * ([[cdcScan]]).
    */
  def planRange(classes: Seq[PjChangeFeed.VersionClass]): PjChangeFeed.RangePlan = {
    val data = Seq.newBuilder[PjFile]
    val cdc = Seq.newBuilder[PjFile]
    val rewrites = Seq.newBuilder[Long]
    def labeled(files: Seq[PjFile], label: String, v: Long): Seq[PjFile] = {
      val consts = label +: versionConsts(v)
      files.map(f => f.copy(partitionValues = f.partitionValues ++ consts))
    }
    classes.foreach {
      case PjChangeFeed.PureAdd(v, rels, label) =>
        data ++= labeled(filesOfVersion(v, rels), label, v)
      case PjChangeFeed.PureRemove(v, rels, label) =>
        data ++= labeled(filesOfVersion(v - 1, rels), label, v)
      case PjChangeFeed.Persisted(v) =>
        val consts = versionConsts(v)
        cdc ++= changeFiles(v).map(f => f.copy(partitionValues = consts))
      case PjChangeFeed.Rewrite(v) => rewrites += v
      case _: PjChangeFeed.MetadataOnly => ()
    }
    PjChangeFeed.RangePlan(data.result(), cdc.result(), rewrites.result())
  }

  /** A scan of `files`: data columns, partition columns, then `consts` —
    * typed per-split constants each file carries after its partition
    * values — and, with `withPos`, each row's file position (`_pos`).
    */
  def scan(files: Seq[PjFile], consts: Seq[StructField] = Nil,
      withPos: Boolean = false): PjScan = {
    val parts = StructType(partSchema.fields ++ consts)
    val required =
      if (withPos) parts.add(PjParquetTable.PosMetaName, LongType, nullable = false) else parts
    new PjScan(files, table.physicalFileSchema, dataSchema, parts, required, None,
      nameMap = table.nameMapping, fieldIds = fieldIds)
  }

  /** Data files labeled per split: data…, partition…, `_change_type`,
    * `_commit_version`, `_commit_timestamp`.
    */
  def dataScan(files: Seq[PjFile]): PjScan = scan(files, PjChangeFeedTable.cdfFields)

  /** Persisted change files (written by [[PjChangeFeed.persistCommitDiff]]
    * with partition columns and `_change_type` as file columns), in the
    * same column order as [[dataScan]].
    */
  def cdcScan(files: Seq[PjFile]): PjScan = {
    val fileSchema = StructType(dataSchema.fields ++ partSchema.fields :+
      PjChangeFeedTable.cdfFields.head)
    val consts = StructType(PjChangeFeedTable.cdfFields.tail)
    new PjScan(files, fileSchema, fileSchema, consts, consts, None)
  }

  /** The rows of `scan` as a DataFrame over a DSv2 relation whose scan
    * is this one, rebuilt per query (a scan keeps runtime-filter state).
    */
  def frame(scan: => PjScan): DataFrame =
    PjSparkShims.dataFrame(spark,
      DataSourceV2Relation.create(new PjPlannedTable(root, () => scan), None, None))

  /** `scan`'s columns with no rows: an empty local relation, no scan. */
  def empty(scan: PjScan): DataFrame =
    spark.createDataFrame(util.Collections.emptyList[Row](), scan.readSchema())

  /** The live rows of `rels` as of `version`. */
  def rows(version: Long, rels: Seq[String]): DataFrame = {
    val files = filesOfVersion(version, rels)
    frame(scan(files))
  }

  /** `df` with its columns renamed to the names the data files store
    * (column mapping) — what a rewrite of the rows writes.
    */
  def physical(df: DataFrame): DataFrame =
    if (table.nameMapping.isEmpty) df
    else df.select(df.columns.toSeq.map(c =>
      col(c).as(PjColumnMapping.toPhysical(table.nameMapping, c))): _*)

  /** The rows `version` deleted from `rels` through deletion vectors: each
    * file's live rows as of `version - 1` whose positions its vector at
    * `version` holds. The new vector's path rides each split as a
    * constant.
    */
  def newlyDeleted(version: Long, rels: Seq[String]): DataFrame = {
    val newDv: Map[String, String] =
      filesOfVersion(version, rels).flatMap(f => f.dv.map(dv => f.path -> dv._1)).toMap
    val files = filesOfVersion(version - 1, rels).flatMap(f =>
      newDv.get(f.path).map(dv => f.copy(partitionValues = f.partitionValues :+ dv)))
    val shipped = PjHadoopConf.ship(spark)
    val inNewDv = udf((dv: String, pos: Long) =>
      PjDeletionVector.contains(PjDeletionVector.cached(shipped.newConf(), dv), pos))
    val dvCol = "_pj_new_dv"
    frame(scan(files, Seq(StructField(dvCol, StringType, nullable = false)), withPos = true))
      .filter(inNewDv(col(dvCol), col(PjParquetTable.PosMetaName)))
      .drop(dvCol, PjParquetTable.PosMetaName)
  }
}

private[pjparquet] object PjFeedReader {
  /** A reader over the table's read schema at `version` (head when None). */
  def at(spark: SparkSession, root: String, version: Option[Long]): PjFeedReader = {
    val layout = PjParquetTable.resolveFiles(
      root, spark.sessionState.newHadoopConf(), autogen = true, versionAsOf = version)
    new PjFeedReader(spark, root,
      new PjParquetTable(layout, new CaseInsensitiveStringMap(util.Map.of("path", root))))
  }
}

/** A table whose one scan was planned before Spark sees it: the feed reads
  * exactly the files the commit log chose, so there is nothing to push
  * down. `scan` builds a fresh [[PjScan]] for each query.
  */
private[pjparquet] final class PjPlannedTable(root: String, scan: () => PjScan)
    extends Table with SupportsRead {
  private lazy val readSchema = scan().readSchema()
  override def name(): String = s"pjparquet_feed($root)"
  override def schema(): StructType = readSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder { override def build(): Scan = scan() }
}
