package graft.sources.pjparquet

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.PjSparkShims

import graft.core.{PJIndex, PJSplice, PalletJack}

/** Everything a write commit wants to know about one file it just wrote,
  * computed executor-side from the footer it already parsed to build the
  * sidecar: the commit-log [[PjCommitLog.FileEntry]] facts (rows, row
  * groups, fingerprint, column names, stats envelope) plus the file's
  * Spark-visible data schema — so the log can plan the table with zero
  * per-file opens later.
  */
final case class PjFileFacts(
    path: String,
    size: Long,
    rows: Long,
    rowGroups: Int,
    fingerprint: Long,
    zeroRowGroups: Boolean,
    cols: Seq[String],
    dataSchemaJson: String,
    stats: Map[String, PjCommitLog.ColStat],
    sidecarWritten: Boolean) {

  def toEntry(relPath: String): PjCommitLog.FileEntry =
    if (zeroRowGroups)
      PjCommitLog.FileEntry(relPath, size, 0L, 0, Some(fingerprint), Some(cols))
    else
      PjCommitLog.FileEntry(relPath, size, rows, rowGroups, Some(fingerprint), Some(cols), stats)
}

/** Fleet-scale index lifecycle (SURVEY.md §7 step 4): build `.index`
  * sidecars for every parquet file under a directory, executor-parallel —
  * the Spark analogue of running O2 per file, with the per-file work pushed
  * off the driver (the reference's GIL-release parallelism,
  * `palletjack_cython.pyx:18-23`, maps to executor tasks here).
  */
object PjIndexJob {

  /** Largest commit whose sidecars [[generateForPaths]] builds on the
    * driver; larger ones run as an executor job.
    */
  val LocalMaxPaths = 32

  /** Returns the number of sidecars written. Skips files whose sidecar is
    * already newer than the data file; `overwrite=true` forces regeneration.
    */
  def generateAll(spark: SparkSession, dir: String, overwrite: Boolean = false): Long = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    // internal-dir-skipping walk: covers Hive-partitioned key=value
    // layouts, never enters a concurrent maintenance op's live scratch
    val files = PjBatchWrite.walkDataFiles(fs, root)
      .filterNot(s => PjBatchWrite.isInternalRel(
        PjCommitLog.relativize(fs, root, s.getPath)))
      .map(s => (s.getPath.toString, s.getModificationTime))
    if (files.isEmpty) return 0L
    val shipped = PjHadoopConf.ship(spark)
    spark.sparkContext
      .parallelize(files, math.min(files.size, 1024))
      .mapPartitions { it =>
        val conf = shipped.newConf()
        it.map { case (pathStr, dataMtime) =>
          val path = new Path(pathStr)
          val pfs = path.getFileSystem(conf)
          // hidden dot-file: invisible to stock Spark directory listings
          val indexPath = PjParquetTable.hiddenSidecar(path)
          val fresh = !overwrite && pfs.exists(indexPath) &&
            pfs.getFileStatus(indexPath).getModificationTime >= dataMtime
          if (fresh) 0L else { if (buildOne(conf, pathStr).sidecarWritten) 1L else 0L }
        }
      }
      .sum().toLong
  }

  /** Build `.index` sidecars for an EXPLICIT file list — the write-commit
    * path: the commit manifest is the exact new-file set, so index
    * maintenance is sized to the commit instead of re-walking (and
    * re-statting) the whole table root per commit/epoch. No freshness probe:
    * new files never have one. Returns the per-file facts (keyed by the
    * input path string) so a logged commit records them with zero extra
    * reads.
    */
  def generateForPaths(spark: SparkSession, paths: Seq[String]): Seq[PjFileFacts] = {
    if (paths.isEmpty) return Nil
    // r18 opt: a steady-state commit adds a handful of files, and per-file
    // work is one footer read + one small sidecar write (driver-bounded by
    // construction — footers are KBs). Launching a cluster job for that
    // costs far more than the work itself: task scheduling, closure
    // serialization, and a ~100 KB Hadoop-conf broadcast per commit
    // (sampled at ~240 ms/query on the DML-heavy bench queries). Small
    // commits run on the driver over a bounded thread pool; bulk backfills
    // (CONVERT, compaction fan-ins past the threshold) keep the
    // executor-parallel job.
    if (paths.size <= LocalMaxPaths) {
      val conf = spark.sessionState.newHadoopConf()
      if (paths.size == 1) return Seq(buildOne(conf, paths.head))
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(paths.size, 8))
      try {
        val futs = paths.map(p => pool.submit(
          new java.util.concurrent.Callable[PjFileFacts] {
            def call(): PjFileFacts = buildOne(conf, p)
          }))
        futs.map(_.get())
      } finally pool.shutdown()
    } else {
      val shipped = PjHadoopConf.ship(spark)
      spark.sparkContext
        .parallelize(paths, math.min(paths.size, 1024))
        .mapPartitions { it =>
          val conf = shipped.newConf()
          it.map(buildOne(conf, _))
        }
        .collect().toSeq
    }
  }

  private def buildOne(conf: org.apache.hadoop.conf.Configuration, pathStr: String): PjFileFacts = {
    val path = new Path(pathStr)
    val pfs = path.getFileSystem(conf)
    val indexPath = PjParquetTable.hiddenSidecar(path)
    val status = pfs.getFileStatus(path)
    val footerBytes = HadoopFooter.readFooterBytes(pfs, status)
    val fp = PJSplice.fnv64(footerBytes, 0, footerBytes.length)
    try {
      val bytes = PJIndex.generateFromFooter(footerBytes, pathStr)
      val out = pfs.create(indexPath, true)
      try out.write(bytes) finally out.close()
      val entry = PjCommitLog.entryFromIndex("", status.getLen, bytes)
      val schemaJson =
        PjSparkShims.toSparkSchema(PalletJack.readSchemaFromIndexData(bytes)).json
      PjFileFacts(pathStr, status.getLen, entry.rows, entry.rowGroups, fp,
        zeroRowGroups = false, entry.cols.getOrElse(Nil), schemaJson,
        entry.stats, sidecarWritten = true)
    } catch {
      // zero-row-group files are legal parquet (Spark writes one for
      // an empty partition) but un-indexable by design
      // (`palletjack.cc:241-246`): skip them, never fail the fleet
      case e: graft.core.PJException
          if e.getMessage == "Number of row groups is not set!" =>
        val pm = PalletJack.materialize(footerBytes)
        val mt = pm.getFileMetaData.getSchema
        PjFileFacts(pathStr, status.getLen, 0L, 0, fp, zeroRowGroups = true,
          (0 until mt.getFieldCount).map(i => mt.getFields.get(i).getName),
          PjSparkShims.toSparkSchema(mt).json, Map.empty, sidecarWritten = false)
      // nested schema: the PJ_2 compat format can't index it (reference
      // restriction) — write the PJ_3 subtree-offset extension sidecar
      // instead, so nested files get the same spliced planning, lazy
      // loading, and (single-leaf-field) stats as flat ones
      case _: graft.core.PJException
          if PJIndex.footerHasNestedSchema(footerBytes) =>
        val bytes = PJIndex.generateNestedFromFooter(footerBytes, pathStr)
        val out = pfs.create(indexPath, true)
        try out.write(bytes) finally out.close()
        val entry = PjCommitLog.entryFromIndex("", status.getLen, bytes)
        val schemaJson =
          PjSparkShims.toSparkSchema(PalletJack.readSchemaFromIndexData(bytes)).json
        PjFileFacts(pathStr, status.getLen, entry.rows, entry.rowGroups, fp,
          zeroRowGroups = false, entry.cols.getOrElse(Nil), schemaJson,
          entry.stats, sidecarWritten = true)
    }
  }
}
