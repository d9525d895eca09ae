package graft.sources.pjparquet

import java.util.UUID

import scala.collection.mutable

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expression => V2Expression, Expressions, SortDirection, SortOrder}
import org.apache.spark.sql.connector.write.{DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering, WriterCommitMessage}
import org.apache.spark.sql.types.{DataType, StructType}

import graft.core.PJException

/** Delta-based (merge-on-read) row-level DML — Spark's `SupportsDelta`
  * protocol carried onto deletion vectors: `DELETE` (every data predicate,
  * pushable or not), `UPDATE` and `MERGE INTO` on a commit-log table never
  * copy-on-write whole files. The rewrite plan feeds each matched row's identity
  * (`_file`, `_pos`) to [[PjDeltaWriter.delete]] and every new/updated row
  * to [[PjDeltaWriter.insert]]:
  *
  *  - task side: inserts stream through the ordinary [[PjDataWriter]]
  *    (same files, same partition routing, same sort-friendly single open
  *    writer); deleted positions buffer per file (8 bytes/row) and flush
  *    at task commit as per-task PARTIAL vectors under `_pj_dv/`;
  *  - driver commit: partials merge per file (plus the file's existing
  *    vector) into one final [[PjDeletionVector]], and ONE log delta
  *    re-adds each touched entry with its new `DvRef` (fully-deleted
  *    files retire), adds the new data files with full planning facts,
  *    and declares the scan's read base + partition read set so disjoint
  *    concurrent DML rebases exactly like the other commit classes.
  *
  * An UPDATE touching 0.1 % of a 100 TB table therefore writes the new
  * rows plus kilobytes of vectors — never the untouched 99.9 % of the hit
  * files; a DELETE writes only the vectors, and on an unpartitioned table
  * runs as one job with one stage (no required distribution, just a local
  * sort on (`_file`, `_pos`)). A DML that matches no row commits nothing.
  * Copy-on-write remains for unlogged tables and
  * `deletionVectors.enabled=false`.
  */
final class PjDeltaRowLevelOperation(
    layout: PjLayout,
    fileSchema: StructType,
    tableOptions: org.apache.spark.sql.util.CaseInsensitiveStringMap,
    cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command,
    nameMap: Map[String, String] = Map.empty)
    extends org.apache.spark.sql.connector.write.SupportsDelta {

  @volatile private var configuredScan: Option[PjScan] = None

  override def command(): org.apache.spark.sql.connector.write.RowLevelOperation.Command = cmd

  override def rowId(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(
      Expressions.column(PjParquetTable.FileMetaName),
      Expressions.column(PjParquetTable.PosMetaName))

  /** UPDATEs arrive as first-class update(metadata, id, row) calls — NOT
    * split into DELETE + INSERT: Spark's rewrite plans null out the
    * metadata projection on the split's insert half, which would lose the
    * source row's `_row_id`. The writer itself decomposes an update into
    * (position delete, id-carrying insert), so the vector + append
    * machinery is unchanged while the stable id survives the rewrite.
    */
  override def representUpdateAsDeleteAndInsert(): Boolean = false

  /** `_file` powers runtime group filtering; `_row_id` rides the metadata
    * projection of DELETE/REINSERT rows so an UPDATE/MERGE-matched row
    * KEEPS its stable row id — the writer materializes it into the
    * replacement file's hidden id column ([[PjCommitLog.RowIdColName]]).
    */
  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(
      Expressions.column(PjParquetTable.FileMetaName),
      Expressions.column(PjParquetTable.RowIdMetaName))

  override def description(): String =
    s"pjparquet merge-on-read $cmd (${layout.files.size} candidate file(s))"

  override def newScanBuilder(
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder = {
    val m = new java.util.HashMap[String, String](tableOptions.asCaseSensitiveMap())
    m.putAll(options.asCaseSensitiveMap())
    new PjScanBuilder(layout, fileSchema,
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(m),
      rowLevel = true, onBuild = s => configuredScan = Some(s), nameMap = nameMap)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder = {
    val path = Option(tableOptions.get("path")).getOrElse(
      throw new IllegalArgumentException("pjparquet: 'path' option is required"))
    val baseVersion = layout.logVersion.getOrElse(
      throw new PJException(
        "pjparquet: merge-on-read DML requires a commit-log table"))
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new PjDeltaWrite(
        path, layout.partitionSchema.fieldNames.toSeq, info.schema(),
        command = cmd.toString.toLowerCase(java.util.Locale.ROOT),
        readVersion = baseVersion,
        readPartitions = () => configuredScan.flatMap(_.readPartitionTuples),
        cdcEnabled = PjTableProperties.effectiveBool(tableOptions, layout.propertiesJson,
          "cdc.enabled", PjTableProperties.ChangeFeedEnabled, default = false),
        bloomColumns = PjParquetTable.bloomColumnsOf(tableOptions, layout.propertiesJson),
        nameMap = nameMap,
        fieldIds = PjColumnMapping.fieldIdsByPhysical(layout.dataSchema))
    }
  }
}

object PjDeltaWrite {
  /** Race-window injection for specs ([[PjMaintenanceConcurrencySpec]]):
    * runs after the DML's tasks finished but before its delta commit
    * reads HEAD — exactly where a concurrent compaction can retire a
    * touched file.
    */
  private[sources] var testHookBeforeCommit: () => Unit = () => ()
}

final class PjDeltaWrite(
    root: String,
    partitionKeys: Seq[String],
    writeSchema: StructType,
    command: String,
    readVersion: Long,
    readPartitions: () => Option[Set[Seq[String]]],
    cdcEnabled: Boolean,
    bloomColumns: Seq[String],
    nameMap: Map[String, String] = Map.empty,
    /** id column-mapping mode: folded PHYSICAL name -> assigned field id —
      * DML rewrite files must carry the ids too, or a single UPDATE/MERGE
      * leaves the id-mode table with id-less files.
      */
    fieldIds: Map[String, Long] = Map.empty)
    extends DeltaWrite with RequiresDistributionAndOrdering {

  override def description(): String = s"pjparquet merge-on-read $command -> $root"

  /** Same shape as [[PjWrite]] plus the delete stream's needs (Iceberg's
    * position-delta layout): cluster on (partition keys, `_file`) so
    * inserts co-locate per partition (one open parquet writer) AND one
    * file's deletes land in one task; sort by (partition keys, `_file`,
    * `_pos`) so the writer streams each file's positions as ONE ascending
    * run — task memory is one file's delete positions, never the task's
    * whole delete set. Insert rows carry null rowId columns and sort as a
    * contiguous prefix ordered by their partition keys.
    *
    * A pure DELETE's delta projection is (operation, `_file`, `_pos`,
    * metadata) — it carries NO data columns, so partition keys are
    * unresolvable there (and pointless: deletes write vectors, not
    * partitioned files). The delete command keys on `_file` alone.
    */
  private def deltaKeys: Seq[String] =
    if (command == "delete") Seq(PjParquetTable.FileMetaName)
    else partitionKeys :+ PjParquetTable.FileMetaName

  override def requiredDistribution(): Distribution =
    if (partitionKeys.isEmpty) Distributions.unspecified()
    else Distributions.clustered(
      deltaKeys.map(k => Expressions.column(k): V2Expression).toArray)

  override def requiredOrdering(): Array[SortOrder] =
    ((if (command == "delete") Seq.empty else partitionKeys) ++
      Seq(PjParquetTable.FileMetaName, PjParquetTable.PosMetaName))
      .map(k => Expressions.sort(Expressions.column(k), SortDirection.ASCENDING)).toArray

  override def toBatch: DeltaBatchWrite = new PjDeltaBatchWrite(
    root, partitionKeys, writeSchema, command, readVersion, readPartitions,
    cdcEnabled, bloomColumns, nameMap, fieldIds)
}

final case class PjDeltaCommitMessage(
    files: Seq[PjWrittenFile],
    /** (absolute data-file path, partial-vector rel path, positions). */
    partials: Seq[(String, String, Long)])
    extends WriterCommitMessage

final class PjDeltaBatchWrite(
    root: String,
    partitionKeys: Seq[String],
    writeSchema: StructType,
    command: String,
    readVersion: Long,
    readPartitions: () => Option[Set[Seq[String]]],
    cdcEnabled: Boolean,
    bloomColumns: Seq[String],
    nameMap: Map[String, String] = Map.empty,
    fieldIds: Map[String, Long] = Map.empty)
    extends DeltaBatchWrite {

  private val jobUUID = UUID.randomUUID().toString
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory = {
    val spark = SparkSession.active
    // data files carry the hidden materialized row-id column too (the
    // id-preserving delta write, [[PjDeltaWriter]])
    val dataSchema = PjColumnMapping.stampParquetIds(StructType(
      (writeSchema.fields.filterNot(f => partitionKeys.exists(_.equalsIgnoreCase(f.name)))
        .map(f => f.copy(name = PjColumnMapping.toPhysical(nameMap, f.name)))) :+
        org.apache.spark.sql.types.StructField(
          PjCommitLog.RowIdColName, org.apache.spark.sql.types.LongType, nullable = true)),
      fieldIds)
    PjDeltaWriterFactory(
      root, PjHadoopConf.forWrite(spark, dataSchema, fieldIds.nonEmpty), writeSchema.json,
      partitionKeys, jobUUID)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    PjDeltaWrite.testHookBeforeCommit()
    val spark = SparkSession.active
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    val msgs = messages.iterator.map(_.asInstanceOf[PjDeltaCommitMessage]).toSeq
    val manifest: Seq[String] = msgs.flatMap(_.files).map(_.relPath).distinct.sorted
    val partialsByFile: Map[String, Seq[(String, Long)]] =
      msgs.flatMap(_.partials).groupBy(_._1)
        .map { case (f, ps) => f -> ps.map(p => (p._2, p._3)) }
    // nothing matched and nothing inserted: no version, like any no-op DML
    if (manifest.isEmpty && partialsByFile.isEmpty) return

    // failed/speculative attempt files die before anything commits —
    // listing only the dirs this job's committed tasks wrote (a retried
    // attempt reprocesses the same rows into the same dirs), never the
    // whole table: merge-on-read DML on a million-file table must stay
    // metadata-rate outside its own touched partitions
    val touchedDirs: Set[String] = manifest.map { rel =>
      val i = rel.lastIndexOf('/')
      if (i < 0) "" else rel.substring(0, i)
    }.toSet
    for (d <- touchedDirs) {
      val dirPath = if (d.isEmpty) rootPath else new Path(rootPath, d)
      if (fs.exists(dirPath))
        for (st <- fs.listStatus(dirPath) if st.isFile) {
          val name = st.getPath.getName
          if (!name.startsWith(".") && !name.startsWith("_") && name.contains(jobUUID)) {
            val rel = if (d.isEmpty) name else s"$d/$name"
            if (!manifest.contains(rel))
              PjBatchWrite.deleteWithSidecars(fs, st.getPath)
          }
        }
    }

    val prev = PjCommitLog.latest(fs, rootPath).getOrElse(
      throw new PJException(
        s"pjparquet: merge-on-read $command requires a commit-log table ('$root')"))
    val entryByRel: Map[String, PjCommitLog.FileEntry] =
      prev.entries.map(e => e.path -> e).toMap

    // merge each touched file's per-task partial vectors + existing vector
    // into one final vector; fully-deleted files retire outright
    val adds = Seq.newBuilder[PjCommitLog.FileEntry]
    val removes = Set.newBuilder[String]
    partialsByFile.foreach { case (fileAbs, parts) =>
      val rel = PjCommitLog.relOrAbs(fs, rootPath, new Path(fileAbs))
      // a touched file missing from HEAD was retired by a concurrent
      // writer (compaction consumed it, a CoW rewrite replaced it) since
      // this operation's scan planned — the position-keyed vectors no
      // longer apply. A sanctioned optimistic-concurrency loss: throw the
      // conflict shape, Spark calls abort() to sweep the job's staged
      // files, and the caller retries against the new table state.
      val e = entryByRel.getOrElse(rel,
        throw new PJException(
          s"pjparquet: commit-log version conflict (concurrent writer); " +
            s"merge-on-read $command touched '$rel', which a commit since " +
            s"read base $readVersion retired — its row positions no longer " +
            "apply; retry the operation against the new table state"))
      val merged0: Array[Long] = {
        val loaded = parts.map { case (pRel, _) =>
          PjDeletionVector.load(fs, new Path(rootPath, pRel))
        }
        val cat = Array.concat(loaded: _*)
        java.util.Arrays.sort(cat)
        // positions are unique across tasks (each row deleted once), but
        // stay defensive
        var k = 0
        for (i <- cat.indices) {
          if (k == 0 || cat(k - 1) != cat(i)) { cat(k) = cat(i); k += 1 }
        }
        if (k == cat.length) cat else java.util.Arrays.copyOf(cat, k)
      }
      val merged = e.dv match {
        case Some(old) =>
          PjDeletionVector.merge(
            PjDeletionVector.load(fs, new Path(rootPath, old.path)), merged0)
        case None => merged0
      }
      removes += rel
      if (e.rows >= 0 && merged.length >= e.rows) () // every row deleted
      else {
        val dvRel = PjDeletionVector.newRelPath()
        PjDeletionVector.write(fs, rootPath, dvRel, merged.iterator)
        adds += e.copy(dv = Some(PjCommitLog.DvRef(dvRel, merged.length)))
      }
      parts.foreach { case (pRel, _) => fs.delete(new Path(rootPath, pRel), false) }
    }

    // new data files enter with full planning facts, like any append
    val newPaths = manifest.map(rel => s"$root/$rel")
    val facts = PjIndexJob.generateForPaths(spark, newPaths).map(f => f.path -> f).toMap
    if (bloomColumns.nonEmpty)
      PjBloomJob.generateForPaths(spark, newPaths,
        bloomColumns.map(PjColumnMapping.toPhysical(nameMap, _)))
    val addEntries = manifest.map(rel => facts(s"$root/$rel").toEntry(rel))
    // file-derived schemas carry PHYSICAL names; translate back to the
    // recorded LOGICAL names (column mapping) before widening. A commit
    // that adds no data file records no schema (replay keeps the last)
    val newSchemaJson = manifest.headOption.map { rel =>
      // the hidden materialized row-id column is engine-internal: strip
      // it before the file-derived schema is recorded
      val phys = PjBatchWrite.stripInternalCols(facts(s"$root/$rel").dataSchemaJson)
      prev.dataSchemaJson match {
        case Some(p) => PjColumnMapping.fileSchemaToLogical(
          org.apache.spark.sql.types.DataType.fromJson(p)
            .asInstanceOf[StructType], phys)
        case None => phys
      }
    }
    val schemaJson = newSchemaJson.map(n =>
      prev.dataSchemaJson.fold(n)(PjBatchWrite.widenRecordedSchema(_, n)))

    // a DELETE records the action every deletion-vector DELETE recorded
    val action = if (command == "delete") "delete-dv" else "write-delta"
    val v = PjCommitLog.commit(fs, rootPath, action,
      (adds.result() ++ addEntries).toSeq, removes.result(), schemaJson,
      operation = Some(command),
      readVersion = Some(readVersion),
      readPartitions = readPartitions(),
      widenSchema = true) // a racing ADD COLUMN survives this DML's lane record

    // new (unsorted) data files break a sorted-layout claim; a pure-delete
    // delta preserves every surviving file's internal order
    if (manifest.nonEmpty) PjSortMarker.delete(fs, rootPath)
    if (cdcEnabled)
      try PjChangeFeed.persistCommitDiff(spark, root, v)
      catch {
        case scala.util.control.NonFatal(e) =>
          log.warn("pjparquet: could not persist change files for version {}: {}",
            v.toString, e.toString)
      }
    graft.operators.PqIndex.maintainIfPresent(spark, root)
    log.info("pjparquet delta commit {}: {} new file(s), {} vector(s)",
      jobUUID, manifest.size.toString, partialsByFile.size.toString)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(SparkSession.active.sessionState.newHadoopConf())
    val jobDirs = for ((status, _, _) <- PjBatchWrite.listDataFiles(fs, rootPath)
         if status.getPath.getName.contains(jobUUID)) yield {
      PjBatchWrite.deleteWithSidecars(fs, status.getPath)
      status.getPath.getParent
    }
    // partial vectors carry the job tag in their names
    val dvDir = PjDeletionVector.dvDir(rootPath)
    if (fs.exists(dvDir)) {
      val it = fs.listFiles(dvDir, false)
      while (it.hasNext) {
        val s = it.next()
        if (s.getPath.getName.contains(jobUUID)) fs.delete(s.getPath, false)
      }
    }
    // only the directories this job wrote into: a table-wide prune races a
    // concurrent writer between its mkdirs and its first file
    jobDirs.distinct.foreach(PjBatchWrite.pruneEmptyParents(fs, rootPath, _))
  }
}

final case class PjDeltaWriterFactory(
    root: String,
    conf: PjShippedConf,
    writeSchemaJson: String,
    partitionKeys: Seq[String],
    jobUUID: String)
    extends DeltaWriterFactory {

  /** This task's Hadoop conf (the factory is deserialized per task). */
  @transient private lazy val hadoopConf = conf.newConf()

  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] = {
    val schema = DataType.fromJson(writeSchemaJson).asInstanceOf[StructType]
    new PjDeltaWriter(root, hadoopConf, schema, partitionKeys,
      fileTag = f"$partitionId%05d-$taskId-$jobUUID")
  }
}

/** Task-side delta writer: inserts ride the ordinary [[PjDataWriter]];
  * deleted (file, position) identities buffer per file and flush at task
  * commit as per-task partial vectors (`_pj_dv/partial-<tag>-<n>.dv`) —
  * the driver merges them per file. The rowId projection arrives in the
  * declared order: (`_file` string, `_pos` long).
  */
final class PjDeltaWriter(
    root: String,
    conf: org.apache.hadoop.conf.Configuration,
    schema: StructType,
    partitionKeys: Seq[String],
    fileTag: String)
    extends DeltaWriter[InternalRow] {

  // ROW TRACKING: every written row carries the hidden id column —
  // REINSERTED (update-split) rows keep their source row's stable id from
  // the metadata projection; fresh MERGE inserts write null and mint from
  // the file's commit-assigned baseRowId at read (coalesce semantics)
  private val extendedSchema = StructType(schema.fields :+
    org.apache.spark.sql.types.StructField(
      PjCommitLog.RowIdColName, org.apache.spark.sql.types.LongType, nullable = true))
  // created on FIRST insert/update: a pure DELETE's write schema carries no
  // data columns (on a partitioned table the partition keys are therefore
  // absent), and its writer only ever emits vectors — constructing the
  // partition-routing data writer eagerly would refuse the schema
  private var insertsOpt: Option[PjDataWriter] = None
  private def inserts: PjDataWriter = {
    if (insertsOpt.isEmpty)
      insertsOpt = Some(new PjDataWriter(root, conf, extendedSchema, partitionKeys,
        fileTag, overwriteExisting = false))
    insertsOpt.get
  }
  private val idCell = new org.apache.spark.sql.catalyst.expressions
    .GenericInternalRow(1)
  private val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow()

  /** `_row_id` of the metadata projection (declared order: `_file`,
    * `_row_id`); null when the source row was untracked.
    */
  private def metaRowId(metadata: InternalRow): Any =
    if (metadata == null || metadata.numFields < 2 || metadata.isNullAt(1)) null
    else metadata.getLong(1)

  private def writeWithId(row: InternalRow, id: Any): Unit = {
    idCell.update(0, id)
    inserts.write(joined(row, idCell))
  }
  // deletes arrive sorted by (_file, _pos) (the write's required ordering),
  // so ONE file's run buffers at a time and flushes as a partial vector on
  // file change — task memory is bounded by a single file's delete count.
  // Out-of-order arrival (no ordering guarantee honored) stays correct: a
  // revisited file just flushes a second partial; the driver merges all.
  private var currentFile: String = null
  private var currentRun = mutable.ArrayBuffer.empty[Long]
  private val partials = mutable.ArrayBuffer.empty[(String, String, Long)]
  private var partialSeq = 0

  override def delete(metadata: InternalRow, id: InternalRow): Unit = {
    val file = id.getUTF8String(0).toString
    if (currentFile == null || currentFile != file) {
      flushRun()
      currentFile = file
    }
    currentRun += id.getLong(1)
  }

  private def flushRun(): Unit = {
    if (currentFile != null && currentRun.nonEmpty) {
      val arr = currentRun.toArray
      java.util.Arrays.sort(arr)
      val rel = s"${PjDeletionVector.DirName}/partial-$fileTag-$partialSeq.dv"
      partialSeq += 1
      val rootPath = new Path(root)
      val n = PjDeletionVector.write(rootPath.getFileSystem(conf), rootPath, rel,
        arr.iterator.distinct)
      partials += ((currentFile, rel, n))
    }
    currentRun = mutable.ArrayBuffer.empty[Long]
    currentFile = null
  }

  override def update(metadata: InternalRow, id: InternalRow, row: InternalRow): Unit = {
    // the writer-side update split: position delete + id-carrying insert
    delete(metadata, id)
    writeWithId(row, metaRowId(metadata))
  }

  /** Update-split reinsert: the metadata projection carries the SOURCE
    * row's stable id — the rewritten row keeps it.
    */
  override def reinsert(metadata: InternalRow, row: InternalRow): Unit =
    writeWithId(row, metaRowId(metadata))

  /** Fresh insert (MERGE WHEN NOT MATCHED): no source identity — null id,
    * minted from the commit-assigned baseRowId at read.
    */
  override def insert(row: InternalRow): Unit = writeWithId(row, null)

  override def commit(): WriterCommitMessage = {
    val dataFiles = insertsOpt.map(_.commit().asInstanceOf[PjCommitMessage].files)
      .getOrElse(Nil)
    flushRun()
    PjDeltaCommitMessage(dataFiles, partials.toSeq)
  }

  override def abort(): Unit = {
    insertsOpt.foreach(_.abort())
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(conf)
    (0 until partialSeq).foreach { i =>
      fs.delete(new Path(rootPath,
        s"${PjDeletionVector.DirName}/partial-$fileTag-$i.dv"), false)
    }
  }

  override def close(): Unit = insertsOpt.foreach(_.close())
}
