package graft.sources.pjparquet

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.core.PJException

/** SHALLOW CLONE — a zero-copy fork of a commit-log table (Delta's
  * `CREATE TABLE ... SHALLOW CLONE src [VERSION AS OF n]`): the clone is
  * a NEW table directory whose first commit references the source
  * snapshot's data files (and deletion vectors) by ABSOLUTE path, plus
  * the source's recorded schema, constraints and table properties.
  * Nothing is copied — cloning a 100 TB table is one metadata-rate
  * commit — and the two tables then evolve independently:
  *
  *  - reads of the clone plan from its own log; absolute entries resolve
  *    verbatim (`new Path(qualifiedRoot, child)` keeps an absolute
  *    child), stats/page-index/bloom pruning all ride the entry facts
  *    copied from the source snapshot;
  *  - DML on the clone never mutates source bytes: deletion vectors
  *    write under the CLONE's `_pj_dv/`, copy-on-write rewrites write
  *    new files under the clone and retire the absolute entry from the
  *    clone's log only ([[PjCommitLog.relOrAbs]] keys both);
  *  - physical reclamation ([[PjVacuum]] clean/expire, compaction
  *    consumption) is listing-driven UNDER THE TABLE ROOT by
  *    construction, so a clone's maintenance can never delete a file it
  *    does not own. The flip side of the shared-bytes contract is the
  *    same as Delta's: expiring/vacuuming the SOURCE can orphan a
  *    clone's references (the clone's read then fails loudly with the
  *    expired-by-vacuum diagnosis).
  *
  * The reference engine has no table format; this models the lifecycle
  * surface its sidecar-index tables need at lakehouse scale.
  */
object PjClone {

  final case class Report(
      targetVersion: Long, files: Long, bytes: Long, sourceVersion: Long)

  /** Clone `source` (at `version`, or its latest snapshot) into the new
    * table directory `target`. Fails if the source has no commit log or
    * the target already holds a table (non-empty directory).
    */
  def shallowClone(
      spark: SparkSession, source: String, target: String,
      version: Long = -1L): Report = {
    val hconf = spark.sessionState.newHadoopConf()
    val srcPath = new Path(source)
    val fs = srcPath.getFileSystem(hconf)
    if (!PjCommitLog.isEnabled(fs, srcPath))
      throw new PJException(
        s"pjparquet: '$source' has no commit log; SHALLOW CLONE applies to " +
          "logged tables (write once with log.enabled=true to adopt it)")
    val snap =
      if (version < 0)
        PjCommitLog.latest(fs, srcPath).getOrElse(
          throw new PJException(s"pjparquet: '$source' has an empty commit log"))
      else PjCommitLog.read(fs, srcPath, version)

    val tgtPath = new Path(target)
    val tfs = tgtPath.getFileSystem(hconf)
    // clone entries are recorded as SCHEME-LESS absolute paths and later
    // resolve against the TARGET's filesystem — a cross-filesystem clone
    // (e.g. s3a source, local target) would produce dangling or
    // wrong-filesystem references with no diagnosis until read time.
    // Refuse loudly at clone time instead.
    val srcAuth = fs.makeQualified(srcPath).toUri
    val tgtAuth = tfs.makeQualified(tgtPath).toUri
    if (srcAuth.getScheme != tgtAuth.getScheme ||
        Option(srcAuth.getAuthority) != Option(tgtAuth.getAuthority))
      throw new PJException(
        s"pjparquet: SHALLOW CLONE across filesystems is not supported — " +
          s"source '${srcAuth.getScheme}://${Option(srcAuth.getAuthority).getOrElse("")}' " +
          s"vs target '${tgtAuth.getScheme}://${Option(tgtAuth.getAuthority).getOrElse("")}'; " +
          "the clone's entries would resolve against the target's filesystem " +
          "(deep-copy the data instead)")
    if (tfs.exists(tgtPath) && tfs.listStatus(tgtPath).nonEmpty)
      throw new PJException(
        s"pjparquet: SHALLOW CLONE target '$target' already exists and is " +
          "not empty")
    tfs.mkdirs(tgtPath)

    val srcQ = fs.makeQualified(srcPath)
    // membership keys stay absolute scheme-less paths — exactly the form
    // relOrAbs produces for them, so later DML on the clone addresses the
    // same entry it planned. A clone OF a clone keeps already-absolute
    // entries verbatim (they point at the original owner's bytes).
    def absOf(rel: String): String =
      if (rel.startsWith("/")) rel
      else fs.makeQualified(new Path(srcQ, rel)).toUri.getPath
    val entries = snap.entries.map(e => e.copy(
      path = absOf(e.path),
      dv = e.dv.map(d => d.copy(path = absOf(d.path)))))

    val v = PjCommitLog.commit(
      tfs, tgtPath, "clone", entries, Set.empty,
      dataSchemaJson = snap.dataSchemaJson,
      operation = Some(s"SHALLOW CLONE source=${srcQ.toUri.getPath} " +
        s"sourceVersion=${snap.version}"),
      constraintsJson = snap.constraintsJson,
      propertiesJson = snap.propertiesJson)
    Report(v, entries.size.toLong, entries.map(_.size.max(0L)).sum, snap.version)
  }

  final case class MaterializeReport(
      filesMaterialized: Long, bytesCopied: Long, newFiles: Long, version: Long)

  /** Localize a shallow clone — the deep-copy half of the clone
    * lifecycle: every clone-external (absolute) entry's LIVE rows
    * (deletion vectors applied) rewrite into files under this table's
    * own root, and ONE commit swaps the external references for the
    * local files. Afterwards the table owns all of its bytes: the
    * source can be vacuumed, expired, or deleted without orphaning the
    * clone. Work is proportional to the external bytes only — local
    * files are untouched — and the write reuses the compaction publish
    * protocol (temp dir + rename, fresh sidecars, entry facts from the
    * generated indexes). A table with no external entries is a no-op.
    */
  def materialize(
      spark: SparkSession, root: String,
      targetBytes: Long = 128L * 1024 * 1024): MaterializeReport = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (!PjCommitLog.isEnabled(fs, rootPath))
      throw new PJException(
        s"pjparquet: '$root' has no commit log; materialize applies to logged tables")
    val snap = PjCommitLog.latest(fs, rootPath).getOrElse(
      throw new PJException(s"pjparquet: '$root' has an empty commit log"))
    val ext = snap.entries.filter(_.path.startsWith("/"))
    if (ext.isEmpty) return MaterializeReport(0L, 0L, 0L, snap.version)
    // live rows of exactly the external files, read through the table's
    // own scan (deletion vectors applied, partition columns typed like
    // table reads) and written under the files' own column names
    val reader = PjFeedReader.at(spark, root, Some(snap.version))
    val df = reader.physical(reader.rows(snap.version, ext.map(_.path)))
    val extBytes = ext.map(_.size.max(0L)).sum
    val nOut = math.max(1, math.ceil(extBytes.toDouble / targetBytes).toInt)
    val partCols = reader.partSchema.fieldNames.toSeq
    val clustered =
      if (partCols.isEmpty) df.repartition(nOut)
      else df.repartition(nOut, partCols.map(org.apache.spark.sql.functions.col): _*)

    val tmp = new Path(rootPath,
      s".compact_tmp_${java.util.UUID.randomUUID().toString.take(8)}")
    try {
      val w = clustered.write.mode("overwrite")
      (if (partCols.nonEmpty) w.partitionBy(partCols: _*) else w).parquet(tmp.toString)
      val newRels = PjCompaction.publishFromTemp(fs, rootPath, tmp, "materialize")
      val facts = PjIndexJob.generateForPaths(spark, newRels.map(rel => s"$root/$rel"))
        .map(f => f.path -> f).toMap
      val addEntries = newRels.map(rel => facts(s"$root/$rel").toEntry(rel))
      // READ BASE: materialization is a pure move of the external entries'
      // live rows — a winner since the consumed snapshot that touched one
      // (DV DELETE, CoW rewrite) conflicts loudly (the localized copy
      // would undo it); add-only winners rebase
      PjCompaction.testHookBeforeCommit()
      val v =
        try PjCommitLog.commit(fs, rootPath, "materialize",
          addEntries, ext.map(_.path).toSet,
          operation = Some(s"MATERIALIZE ${ext.size} external file(s)"),
          readVersion = Some(snap.version), maintenance = true)
        catch {
          case e: PJException =>
            PjCompaction.unpublish(fs, rootPath, newRels)
            throw e
        }
      PjParquetTable.clearLayoutCache()
      MaterializeReport(ext.size.toLong, extBytes, newRels.size.toLong, v)
    } finally {
      fs.delete(tmp, true)
    }
  }
}
