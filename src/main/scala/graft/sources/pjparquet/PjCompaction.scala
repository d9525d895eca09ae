package graft.sources.pjparquet

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.PJException

/** Small-file compaction for (optionally Hive-partitioned) parquet/pjparquet
  * table directories — the standard table-maintenance pass that keeps a
  * 100 TB table healthy: streaming/incremental writers accumulate files far
  * below the row-group sweet spot, and scan planning, footer work, and
  * shuffle-fetch all degrade with file count.
  *
  * The reference's sidecar convention makes this doubly relevant: every
  * data file carries a `.index` sidecar (`python/README.md:49`), so halving
  * the file count halves the sidecar fleet too. Compacted files get fresh
  * sidecars via [[PjIndexJob]]; sidecars of consumed files are deleted with
  * their data files.
  *
  * Scale design:
  *  - ONE bounded recursive driver listing (same shape as
  *    [[PjIndexJob.generateAll]]) — no per-file driver jobs;
  *  - ONE distributed rewrite job for ALL partitions: rows are routed to
  *    `(partition dir, output bin)` and each task writes whole bins, so
  *    output files land at ~`targetBytes` regardless of how many
  *    partitions are touched (a driver loop issuing one job per partition
  *    would serialize at 10k partitions);
  *  - files already >= `smallThreshold` are never read or rewritten — cost
  *    is proportional to the small-file backlog, not table size.
  *
  * Concurrency contract: like Hive-style non-transactional compaction,
  * run single-writer with no concurrent readers of the affected
  * directories — there is a crash window between publishing compacted
  * files and deleting their inputs in which both are visible.
  */
object PjCompaction {

  /** Test-only seam between the rewrite's publish and its commit — the
    * maintenance-concurrency torture specs inject a racing DML/append in
    * exactly the window the read-base validation protects. Production
    * never replaces it.
    */
  private[sources] var testHookBeforeCommit: () => Unit = () => ()

  /** Drop published-but-uncommitted rewrite outputs (and their sidecars):
    * a maintenance commit that lost its conflict validation must not
    * leave orphan data files accumulating under the table — at 100 TB a
    * busy table's auto-compaction retries would otherwise shed orphans
    * every race.
    */
  private[pjparquet] def unpublish(fs: org.apache.hadoop.fs.FileSystem, rootPath: Path,
      rels: Seq[String]): Unit =
    rels.foreach(rel => PjBatchWrite.deleteWithSidecars(fs, new Path(rootPath, rel)))

  /** Live data files a maintenance rewrite plans over. A snapshot with
    * recorded sizes supplies the set directly — ZERO directory I/O on a
    * million-file table (Delta parity; the walk was O(table) per pass).
    * Excluded exactly like the walk excluded them: empty-file logical
    * entries (no physical file) and shallow-clone external entries
    * (absolute paths outside the root — [[materialize]] owns those).
    * Unlogged dirs (and snapshots missing a size) keep the
    * internal-dir-skipping walk (PjBatchWrite.walkDataFiles): a plain
    * recursive listFiles would descend into a CONCURRENT maintenance
    * op's live .compact_tmp_* scratch and race its committer's deletes.
    */
  private def liveDataFiles(fs: org.apache.hadoop.fs.FileSystem, rootPath: Path,
      prevSnap: Option[PjCommitLog.Snapshot]): Seq[DataFile] = {
    val fromSnapshot: Option[Seq[DataFile]] = prevSnap
      .filter(_.entries.forall(e =>
        e.size >= 0 || e.isEmptyFile || e.path.startsWith("/")))
      .map(_.entries
        .filterNot(e => e.isEmptyFile || e.path.startsWith("/"))
        .map { e =>
          val p = new Path(rootPath, e.path)
          DataFile(p.toString, p.getParent.toString, e.size)
        })
    fromSnapshot.getOrElse {
      val baseSnapshot: Option[Set[String]] = prevSnap.map(_.files.toSet)
      PjBatchWrite.walkDataFiles(fs, rootPath).flatMap { s =>
        val rel = PjCommitLog.relativize(fs, rootPath, s.getPath)
        if (!PjBatchWrite.isInternalRel(rel) && baseSnapshot.forall(_.contains(rel)))
          Some(DataFile(s.getPath.toString, s.getPath.getParent.toString, s.getLen))
        else None
      }
    }
  }

  /** Publish a rewrite's outputs: rename each data file under `tmp` into
    * its real directory (names carry a fresh task UUID — collision-free).
    * Returns the published root-relative paths, sorted; `op` names the
    * rewrite in the failure message.
    */
  private[pjparquet] def publishFromTemp(fs: org.apache.hadoop.fs.FileSystem, rootPath: Path,
      tmp: Path, op: String): Seq[String] = {
    val tmpPrefix = fs.makeQualified(tmp).toString
    val newRels = scala.collection.mutable.ArrayBuffer.empty[String]
    val it = fs.listFiles(tmp, true)
    while (it.hasNext) {
      val s = it.next()
      val n = s.getPath.getName
      if (s.isFile && n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")) {
        val rel = s.getPath.getParent.toString.stripPrefix(tmpPrefix).stripPrefix("/")
        val destDir = if (rel.isEmpty) rootPath else new Path(rootPath, rel)
        fs.mkdirs(destDir)
        require(fs.rename(s.getPath, new Path(destDir, n)),
          s"$op publish failed: could not move ${s.getPath} to $destDir")
        newRels += (if (rel.isEmpty) n else s"$rel/$n")
      }
    }
    newRels.toSeq.sorted
  }

  /** What the pass did, for observability and assertions. */
  final case class Report(
      filesBefore: Long,
      smallFiles: Long,
      compactedInto: Long,
      filesAfter: Long,
      bytesSmall: Long,
      dirsTouched: Long)

  private final case class DataFile(path: String, dir: String, bytes: Long)

  /** `OPTIMIZE ... WHERE`: restrict the candidate files to the partition
    * directories a PARTITION predicate admits — at 100 TB nobody compacts
    * the whole table in one maintenance window; the operational unit is
    * "yesterday's partition". File granularity means the predicate may
    * reference PARTITION columns only: the predicate is evaluated with
    * Spark itself over one tiny per-directory row, so every comparison /
    * cast / function Spark supports works, and a reference to any
    * non-partition column fails analysis loudly (never a silent
    * full-table compaction).
    */
  private def filterByPartitionPredicate(
      spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      rootPath: Path,
      files: Seq[DataFile],
      where: Option[String]): Seq[DataFile] = where match {
    case None => files
    case Some(sql) if sql.trim.isEmpty => files
    case Some(sql) =>
      val byDir: Map[String, Map[String, Option[String]]] = files
        .map(f => f.dir -> PjBatchWrite.partsOfRel(
          PjCommitLog.relativize(fs, rootPath, new Path(f.path))))
        .toMap
      if (byDir.values.forall(_.isEmpty))
        throw new PJException(
          "pjparquet: compaction WHERE predicate on an unpartitioned table " +
            "(file-granularity maintenance can only scope by partition)")
      val keys: Seq[String] = byDir.values.flatMap(_.keys).toSeq.distinct.sorted
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types.{StringType, StructField, StructType}
      val rows = byDir.toSeq.map { case (dir, kv) =>
        Row.fromSeq(dir +: keys.map(k => kv.get(k).flatten.orNull))
      }
      val schema = StructType(
        StructField("_pj_dir", StringType, nullable = false) +:
          keys.map(k => StructField(k, StringType, nullable = true)))
      val kept =
        try {
          spark.createDataFrame(
            spark.sparkContext.parallelize(rows, 1), schema)
            .filter(org.apache.spark.sql.functions.expr(sql))
            .select("_pj_dir").collect().map(_.getString(0)).toSet
        } catch {
          case e: org.apache.spark.sql.AnalysisException =>
            throw new PJException(
              s"pjparquet: compaction WHERE predicate must reference partition " +
                s"columns only (${keys.mkString(", ")}): ${e.getMessage}")
        }
      files.filter(f => kept.contains(f.dir))
  }

  /** Canonical form of a raw scan's file name for the broadcast lookups:
    * ONE URI decode yields the raw on-disk path (`file:///x`, `file:/x`
    * and plain `/x` all canonicalize identically; a dir named `p=a%20b` —
    * the writer's URL-encoded partition value — arrives as `p=a%2520b`
    * and decodes back to the literal dir name).
    */
  private def canonScanPath(s: String): String =
    try {
      val u = new java.net.URI(s)
      Option(u.getAuthority).getOrElse("") + Option(u.getPath).getOrElse(s)
    } catch { case _: java.net.URISyntaxException => s }

  /** Filter each consumed file's deletion-vector positions out of a raw
    * rewrite scan (no-op when no consumed file carries a vector):
    * `_metadata.file_path`/`row_index` resolve the row's (file, position),
    * a broadcast (canonical path → vector path) lookup decides membership
    * with executor-cached decoded vectors. Used by [[compact]] and
    * [[optimize]] — the rewrites that MATERIALIZE vectors away.
    */
  /** Raw-read data files that may span partitioning GENERATIONS (an
    * in-flight partition-spec evolution): Spark's directory inference
    * refuses mixed key sets under one basePath, so group the files by
    * their directory key sequence, read each generation separately, and
    * union by name — a generation's missing partition columns null-fill,
    * which is exactly their row-level semantics.
    */
  private def readGenerations(
      spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      rootPath: Path, rootUri: String, files: Seq[DataFile],
      dvByRel: Map[String, String],
      mergeSchema: Boolean,
      /** ROW TRACKING (Some = materialize): canonical file path →
        * baseRowId for entries whose ids are positional; rewritten rows
        * carry their stable id in the hidden [[PjCommitLog.RowIdColName]]
        * column (already-materialized inputs pass it through; untracked
        * inputs yield null).
        */
      rowIdBases: Option[Map[String, Long]] = None,
      /** EXISTENCE defaults (physical name → frozen ADD-time default):
        * files that predate an ADD COLUMN ... DEFAULT carry no trace of
        * the column, so the union's null-fill would rewrite the promised
        * default into stored NULLs. Groups sub-split by physical presence
        * (below) so the fill applies exactly to the pre-add sub-groups —
        * never relying on footer-carried default metadata, which files
        * written by earlier rewrites (or foreign writers) don't have.
        */
      existenceFill: Seq[(String, org.apache.spark.sql.Column)] = Nil,
      /** Recorded physical column names per file path (snapshot entry
        * facts) — what the presence sub-grouping keys on. Files with no
        * recorded cols (legacy adoption entries) isolate per-path, so
        * presence stays uniform within every sub-group.
        */
      colsOfPath: Map[String, Option[Seq[String]]] = Map.empty,
      /** id column-mapping mode: per-file rename map (the FILE's own
        * column name → live physical name) for consumed files written by
        * an id-keyed foreign engine whose names differ
        * ([[foreignIdRenames]]) — without it the recorded-schema select
        * below would silently null-fill live foreign columns.
        */
      renameOfPath: Map[String, Map[String, String]] = Map.empty)
      : org.apache.spark.sql.DataFrame = {
    def keySeq(f: DataFile): Seq[String] = {
      val rel = PjCommitLog.relativize(fs, rootPath, new Path(f.path))
      PjBatchWrite.relDirOf(rel).split("/").iterator.filter(_.nonEmpty)
        .flatMap(_.split("=", 2) match {
          case Array(k, _) if k.nonEmpty => Some(k)
          case _ => None
        }).toSeq
    }
    // EXISTENCE-fill sub-grouping: one partition-key group may mix
    // pre-add and post-add files (the common case on an unpartitioned
    // table, and across partitions of one spec). A merged read would
    // null-fill the missing column for the pre-add files whenever no
    // footer in the group carries Spark's default metadata — rewrites
    // strip field metadata from their outputs, so relying on it rots.
    // Sub-group by recorded physical presence instead: presence is then
    // uniform per sub-group and the fill below is exact.
    def fillKey(f: DataFile): Seq[String] =
      if (existenceFill.isEmpty) Nil
      else colsOfPath.getOrElse(f.path, None) match {
        case Some(cs) => existenceFill.map { case (phys, _) =>
          if (cs.exists(_.equalsIgnoreCase(phys))) "1" else "0"
        }
        case None => Seq(f.path) // unknown cols: its own sub-group
      }
    // the DV filter and row-id derivation read `_metadata` columns, which
    // do not survive a Union — apply both per generation group BEFORE
    // unioning
    // raw parquet (pjAutoSubstitute off): _metadata needed
    def readGrp(paths: Seq[String]): org.apache.spark.sql.DataFrame = {
      val r = spark.read.option("basePath", rootUri)
        .option("pjAutoSubstitute", "false")
      (if (mergeSchema) r.option("mergeSchema", "true") else r).parquet(paths: _*)
    }
    files.groupBy(f =>
      (keySeq(f), fillKey(f), renameOfPath.getOrElse(f.path, Map.empty[String, String])))
      .toSeq
      .sortBy { case ((ks, fk, rn), _) =>
        (ks.mkString("/"), fk.mkString(","), rn.toSeq.sorted.mkString(",")) }
      .flatMap { case (_, grp0) =>
        // a group spanning a TYPE WIDENING holds both INT32 and INT64
        // files for the same column — parquet's schema merge refuses
        // (CANNOT_MERGE_SCHEMAS; schema-evolution fuzzer, seed 13063).
        // The read's own analysis-time schema inference IS the merge
        // probe (footer reads only): groups that refuse split into
        // per-file frames — each keeps its own _metadata-dependent
        // DV/row-id handling, and the final unionByName's type coercion
        // performs the widening. Building the DataFrame here (instead of
        // a separate probe read + re-read) runs the footer-merge
        // inference job once per group, not twice.
        if (!mergeSchema || grp0.size == 1)
          Seq(grp0 -> readGrp(grp0.map(_.path)))
        else try Seq(grp0 -> readGrp(grp0.map(_.path)))
        catch {
          case e: Throwable if Option(e.getMessage)
              .exists(_.contains("CANNOT_MERGE_SCHEMAS")) =>
            grp0.map(f => Seq(f) -> readGrp(Seq(f.path)))
        }
      }
      .map { case (grp, raw0) =>
      val raw = rowIdBases match {
        case None => raw0
        case Some(bases) =>
          val bb = spark.sparkContext.broadcast(bases)
          val baseOf = udf((f: String) => bb.value.get(canonScanPath(f)))
          val existing =
            if (raw0.columns.exists(_.equalsIgnoreCase(PjCommitLog.RowIdColName)))
              col(PjCommitLog.RowIdColName)
            else lit(null).cast("long")
          raw0.withColumn(PjCommitLog.RowIdColName,
            coalesce(existing,
              baseOf(col("_metadata.file_path")) + col("_metadata.row_index")))
      }
      val masked = applyDvFilter(spark, fs, rootPath, rootUri, grp, dvByRel, raw)
      // id mode, foreign files: rename the file's own column names to the
      // live physical names (paired by field id) BEFORE existence fill
      // and union — groups are keyed by their rename map, so one map
      // covers the whole group
      val renamed = renameOfPath.getOrElse(grp.head.path, Map.empty)
        .foldLeft(masked) { case (d, (from, to)) => d.withColumnRenamed(from, to) }
      existenceFill.foldLeft(renamed) { case (df, (phys, default)) =>
        if (df.columns.exists(_.equalsIgnoreCase(phys))) df
        else df.withColumn(phys, default)
      }
    }.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** The frozen ADD-time (EXISTENCE) defaults of a recorded schema, keyed
    * by physical column name — what pre-add rows must read forever
    * ([[PjCatalog]] ADD COLUMN ... DEFAULT records them).
    */
  /** id column-mapping mode: per-file rename map (the FILE's own column
    * name → live physical name) for consumed files written by an id-keyed
    * foreign engine whose NAMES differ from the table's physical names —
    * paired through the parquet field ids, one footer parse per suspect
    * file (a file whose recorded cols miss some live physical name; our
    * own files always name-match, so they never parse). Without the
    * rename, the rewrite's recorded-schema select would silently
    * null-fill a live foreign column.
    */
  private def foreignIdRenames(
      hconf: org.apache.hadoop.conf.Configuration,
      recorded: Option[org.apache.spark.sql.types.StructType],
      files: Seq[DataFile],
      colsOfPath: Map[String, Option[Seq[String]]])
      : Map[String, Map[String, String]] = {
    val ids = PjColumnMapping.fieldIdsByPhysical(recorded)
    if (ids.isEmpty) return Map.empty
    def fold(n: String) = n.toLowerCase(java.util.Locale.ROOT)
    val livePhys = recorded.toSeq.flatMap(_.fields)
      .map(f => PjColumnMapping.physicalName(f))
    val liveFolded = livePhys.map(fold).toSet
    files.flatMap { f =>
      val missesLive = colsOfPath.getOrElse(f.path, None) match {
        case Some(cs) =>
          val have = cs.map(fold).toSet
          liveFolded.exists(p => !have.contains(p))
        case None => true
      }
      if (!missesLive) None
      else {
        val idToName =
          try PjColumnMapping.fileFieldIdNames(hconf, f.path)
          catch { case scala.util.control.NonFatal(_) => Map.empty[Long, String] }
        val renames = livePhys.flatMap { p =>
          ids.get(fold(p)).flatMap(idToName.get)
            .filter(!_.equalsIgnoreCase(p)).map(_ -> p)
        }.toMap
        if (renames.isEmpty) None else Some(f.path -> renames)
      }
    }.toMap
  }

  /** Stock `df.write.parquet` rewrites copy the session's
    * `fieldId.write.enabled` (default true) into the job conf — an id-mode
    * rewrite must write ids even if the session disabled it.
    */
  private def withFieldIdWrite[T](
      spark: SparkSession, needed: Boolean)(body: => T): T =
    if (!needed) body
    else {
      val k = "spark.sql.parquet.fieldId.write.enabled"
      val prev = spark.conf.get(k, "true")
      spark.conf.set(k, "true")
      try body finally spark.conf.set(k, prev)
    }

  private def existenceFills(
      recorded: Option[org.apache.spark.sql.types.StructType])
      : Seq[(String, org.apache.spark.sql.Column)] = {
    import org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
    recorded.toSeq.flatMap(_.fields.toSeq).flatMap { f =>
      if (f.metadata.contains(ResolveDefaultColumns.EXISTS_DEFAULT_COLUMN_METADATA_KEY))
        Some(PjColumnMapping.physicalName(f) ->
          expr(f.metadata.getString(
            ResolveDefaultColumns.EXISTS_DEFAULT_COLUMN_METADATA_KEY))
            .cast(f.dataType))
      else None
    }
  }

  /** Surface every declared partition column on a rewrite frame with its
    * DECLARED type: a generation that predates the column yields nothing
    * (fill a typed null), and a directory tree holding only
    * `__HIVE_DEFAULT_PARTITION__` values infers the column as VOID under
    * the stock parquet reader — `partitionBy` refuses VOID outright
    * (found by the schema-evolution fuzzer lane, seed 10002: compaction
    * racing a partition-spec evolution whose new key no row had set yet).
    */
  private def alignPartitionCols(
      df: org.apache.spark.sql.DataFrame,
      partCols: Seq[String],
      propsJson: Option[String]): org.apache.spark.sql.DataFrame = {
    val declared = PjTableProperties.partitionColumns(propsJson)
    partCols.foldLeft(df) { (d, pc) =>
      val t = declared.find(_._1.equalsIgnoreCase(pc)).map(_._2)
        .getOrElse(org.apache.spark.sql.types.StringType)
      d.schema.fields.find(_.name.equalsIgnoreCase(pc)) match {
        case None => d.withColumn(pc, lit(null).cast(t))
        case Some(f) if f.dataType == org.apache.spark.sql.types.NullType =>
          d.withColumn(f.name, col(f.name).cast(t))
        case _ => d
      }
    }
  }

  private def applyDvFilter(
      spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      rootPath: Path,
      rootUri: String,
      consumed: Seq[DataFile],
      dvByRel: Map[String, String],
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    if (dvByRel.isEmpty) return df
    val consumedDvs: Seq[(String, String)] = consumed.iterator.flatMap { f =>
      val rel = PjCommitLog.relativize(fs, rootPath, new Path(f.path))
      dvByRel.get(rel).map(rel -> _)
    }.toSeq
    if (consumedDvs.isEmpty) return df
    val rootKey = canonScanPath(rootUri)
    val byPath: Map[String, String] = consumedDvs.map { case (rel, dvRel) =>
      s"$rootKey/$rel" -> s"$rootUri/$dvRel"
    }.toMap
    val hb = spark.sparkContext.broadcast(byPath)
    val shipped = PjHadoopConf.ship(spark)
    val live = udf((file: String, idx: Long) => {
      hb.value.get(canonScanPath(file)) match {
        case Some(dvAbs) =>
          !PjDeletionVector.contains(PjDeletionVector.cached(shipped.newConf(), dvAbs), idx)
        case None => true
      }
    })
    df.withColumn("_pj_mf", col("_metadata.file_path"))
      .withColumn("_pj_mi", col("_metadata.row_index"))
      .filter(live(col("_pj_mf"), col("_pj_mi")))
      .drop("_pj_mf", "_pj_mi")
  }

  /** Compact every directory under `root` whose small files (< `smallThreshold`,
    * default `targetBytes / 2`) number at least `minFilesPerDir`. Rows from
    * consumed files are rewritten into ~`ceil(smallBytes / targetBytes)`
    * files per directory; all other files are untouched byte-for-byte.
    */
  /** For each bin b in [0, n): a long v whose Spark hash-partitioning
    * placement `pmod(murmur3(v), n)` is exactly b. Routing rows through
    * the preimage lets `repartition(n, key)` place every bin on its own
    * task deterministically — the property compaction needs for whole
    * ~targetBytes output files — without `repartitionByRange`'s sampling
    * pass over the full rewrite input. The search uses the same Murmur3
    * the codegen'd hash calls; the result is then verified on a sample
    * against Spark's REAL partition-id expression (Pmod∘Murmur3Hash), so
    * an internals drift degrades to `None` (caller falls back to range
    * partitioning) rather than to misrouted bins.
    */
  private[pjparquet] def hashPreimages(n: Int): Option[Map[Long, Long]] = {
    if (n <= 0) return None
    import org.apache.spark.sql.catalyst.expressions.{Literal => CatLiteral, Murmur3Hash, Pmod}
    val found = new Array[Long](n)
    val have = new Array[Boolean](n)
    var v = 0L
    var remaining = n
    val bound = 1000L + 64L * n // coupon-collector with huge headroom
    while (remaining > 0 && v < bound) {
      val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashLong(v, 42)
      val b = ((h % n) + n) % n
      if (!have(b)) { have(b) = true; found(b) = v; remaining -= 1 }
      v += 1
    }
    if (remaining > 0) return None
    val ok = (0 until math.min(n, 17)).forall { i =>
      val b = ((i.toLong * 977) % n).toInt
      Pmod(new Murmur3Hash(Seq(CatLiteral(found(b)))), CatLiteral(n))
        .eval(null) == b
    }
    if (ok) Some((0 until n).map(b => b.toLong -> found(b)).toMap) else None
  }

  def compact(
      spark: SparkSession,
      root: String,
      targetBytes: Long = 128L * 1024 * 1024,
      smallThreshold: Long = 0L,
      minFilesPerDir: Int = 2,
      /** Optional PARTITION predicate scoping the maintenance window
        * ([[filterByPartitionPredicate]]) — `OPTIMIZE ... WHERE`.
        */
      where: Option[String] = None): Report = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val threshold = if (smallThreshold > 0) smallThreshold else targetBytes / 2
    val hconf = spark.sessionState.newHadoopConf()
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(hconf)
    val rootUri = fs.makeQualified(rootPath).toString

    // commit-log tables: compaction operates on the LIVE snapshot only —
    // files retired by earlier logged overwrites still sit on disk for
    // time travel and must not be merged back in. A log directory with no
    // commits yet means "not yet logged": the directory listing is live
    // (same semantics as batch resolution and the write commits).
    val logging = PjCommitLog.isEnabled(fs, rootPath)
    val prevSnap = if (logging) PjCommitLog.latest(fs, rootPath) else None
    // deletion-vector rel per live file: compaction is where vectors get
    // MATERIALIZED — a dv-carrying file is always consumed (regardless of
    // size), its deleted rows dropped from the rewrite, and the
    // replacement entries carry no vector
    val dvByRel: Map[String, String] = prevSnap.toSeq.flatMap(_.entries)
      .flatMap(e => e.dv.map(d => e.path -> d.path)).toMap
    val all = liveDataFiles(fs, rootPath, prevSnap)
    // OPTIMIZE ... WHERE: only partitions the predicate admits are
    // candidates; `all` (the full live set) still backs first-commit
    // adoption so out-of-scope files are never dropped from the snapshot
    val candidates = filterByPartitionPredicate(spark, fs, rootPath, all, where)

    // scheme-insensitive key: Hadoop renders "file:/tmp/x" where
    // input_file_name() may render "file:///tmp/x" — compare path-only
    def normDir(s: String): String = s.replaceFirst("^[a-zA-Z0-9+.-]+:/+", "/")

    def hasDv(f: DataFile): Boolean =
      dvByRel.contains(PjCommitLog.relativize(fs, rootPath, new Path(f.path)))
    val smallByDir = candidates.filter(f => f.bytes < threshold || hasDv(f))
      .groupBy(f => normDir(f.dir))
      .filter { case (_, fsz) => fsz.size >= minFilesPerDir || fsz.exists(hasDv) }
    if (smallByDir.isEmpty)
      return Report(all.size, 0, 0, all.size, 0, 0)

    // per-directory output bin count (enough bins that each lands ~target),
    // plus a GLOBAL bin index base per directory: routing on the global
    // index with a range partitioner gives (nearly) one bin per task, so
    // every output file is written whole at ~targetBytes. Hashing
    // (dir, bin) instead would birthday-collide two bins of one directory
    // into a single task, which partitionBy would merge into one 2x file.
    val binsByDir: Map[String, Int] = smallByDir.map { case (d, fsz) =>
      d -> math.max(1, math.ceil(fsz.map(_.bytes).sum.toDouble / targetBytes).toInt)
    }
    val binBase: Map[String, Int] = {
      var acc = 0
      binsByDir.toSeq.sortBy(_._1).map { case (d, n) =>
        val b = d -> acc; acc += n; b
      }.toMap
    }
    val consumed = smallByDir.values.flatten.toSeq
    val totalBins = binsByDir.values.sum

    // basePath recovers Hive partition columns, so the rewrite reproduces
    // the key=value layout; the files themselves (like the inputs) do not
    // store the partition columns. Partition column NAMES come from the
    // table's DECLARED partitioning when recorded (so a compaction across
    // an in-flight partition-spec evolution rewrites into the CURRENT
    // spec, unifying the layout), else from the directory layout itself.
    val declaredPartCols: Seq[String] =
      PjTableProperties.partitionColumns(prevSnap.flatMap(_.propertiesJson)).map(_._1)
    val partCols: Seq[String] =
      if (declaredPartCols.nonEmpty) declaredPartCols
      else {
        val rel = PjCommitLog.relativize(fs, rootPath, new Path(consumed.head.path))
        PjBatchWrite.relDirOf(rel).split("/").iterator.filter(_.nonEmpty)
          .flatMap(_.split("=", 2) match {
            case Array(k, _) if k.nonEmpty => Some(k)
            case _ => None
          }).toSeq
      }
    // ROW TRACKING: a logged, schema-recorded table's rewrite preserves
    // stable row ids by materializing them into the hidden id column;
    // the commit is then a provable pure-move for the change feed
    val rootKey = canonScanPath(rootUri)
    val entryByRel: Map[String, PjCommitLog.FileEntry] =
      prevSnap.toSeq.flatMap(_.entries).map(e => e.path -> e).toMap
    val materializeIds = logging && prevSnap.exists(_.dataSchemaJson.isDefined)
    val rowIdBases: Option[Map[String, Long]] =
      if (!materializeIds) None
      else Some(entryByRel.collect {
        case (rel, e) if e.baseRowId >= 0 => s"$rootKey/$rel" -> e.baseRowId
      })
    val recordedPre = prevSnap.flatMap(_.dataSchemaJson).map(j =>
      org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    val consumedCols: Map[String, Option[Seq[String]]] =
      consumed.map(f => f.path -> entryByRel.get(
        PjCommitLog.relativize(fs, rootPath, new Path(f.path))).flatMap(_.cols)).toMap
    val idRenames = foreignIdRenames(hconf, recordedPre, consumed, consumedCols)
    val rawGen = readGenerations(spark, fs, rootPath, rootUri, consumed,
      dvByRel, mergeSchema = true, rowIdBases,
      existenceFill = existenceFills(recordedPre),
      colsOfPath = consumedCols,
      renameOfPath = idRenames)
    // a generation that predates an ADDED partition column may be the only
    // one consumed — surface the column as typed nulls so the select below
    // and partitionBy still resolve
    val raw0 = alignPartitionCols(rawGen, partCols, prevSnap.flatMap(_.propertiesJson))
    // deletion vectors already applied DURING the per-generation read
    // (readGenerations): consumed files' deleted positions never reach
    // the replacement files — the rewrite IS the purge
    val raw = raw0
    // logged tables rewrite through the RECORDED schema: a compacted file
    // sheds dropped columns' bytes (Delta REORG PURGE semantics — re-ADD
    // of the name becomes legal again), upcasts type-widened columns to
    // the recorded width, and null-fills late-ADDed ones; unlogged
    // directories rewrite verbatim
    val recorded = recordedPre
    val df = recorded match {
      case Some(ds) =>
        val have = raw.columns.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
        // column mapping: files store PHYSICAL names — select by the
        // field's physical name and KEEP it, so compacted files stay
        // physically uniform with the rest of the table. DECLARED
        // partition fields may ride the recorded schema (their metadata
        // carries generation expressions) but are directory values, not
        // file columns — the partCols tail serves them.
        val dataSel = ds.fields.toSeq
          .filterNot(f => partCols.exists(_.equalsIgnoreCase(f.name)))
          .map { f =>
          val phys = PjColumnMapping.physicalName(f)
          if (have(phys.toLowerCase(java.util.Locale.ROOT)))
            col(phys).cast(f.dataType).as(phys)
          else lit(null).cast(f.dataType).as(phys)
        }
        val idTail =
          if (materializeIds) Seq(col(PjCommitLog.RowIdColName)) else Nil
        raw.select(dataSel ++ idTail ++ partCols.map(col): _*)
      case None => raw
    }

    // Row routing, all codegen'd literal-map lookups (no UDF, no extra
    // join): global_bin = base(dir) + mii % bins(dir), where
    // monotonically_increasing_id spreads rows evenly within each split.
    val dirCol = regexp_replace(
      regexp_replace(input_file_name(), "/[^/]*$", ""),
      "^[a-zA-Z0-9+.-]+:/+", "/")
    val baseM = typedLit(binBase)
    val nM = typedLit(binsByDir)
    val routed0 = df
      .withColumn("_dir", dirCol)
      .withColumn("_pid",
        coalesce(element_at(baseM, col("_dir")), lit(0)).cast("long") +
          pmod(monotonically_increasing_id(),
            coalesce(element_at(nM, col("_dir")), lit(1)).cast("long")))
    // One-bin-per-task placement WITHOUT RangePartitioner's sampling pass:
    // `repartitionByRange` reads the whole rewrite input an extra time just
    // to learn bounds that are known a priori here (the routing key is a
    // dense [0, totalBins) integer — guide §2.4, remove redundant passes).
    // Mapping each bin through a hash PREIMAGE makes plain hash
    // repartitioning place exactly one bin per task (no birthday
    // collisions), so output files still come out whole at ~targetBytes.
    val routed = hashPreimages(totalBins) match {
      case Some(pre) =>
        routed0
          .withColumn("_hkey", element_at(typedLit(pre), col("_pid")))
          .repartition(totalBins, col("_hkey"))
          .drop("_dir", "_pid", "_hkey")
      case None => // hash internals drifted: keep the sampling pass
        routed0.repartitionByRange(totalBins, col("_pid")).drop("_dir", "_pid")
    }

    // A sorted-layout claim (`_pj_sort`) must survive compaction: the bin
    // routing interleaves input files, so re-sort each task's rows by
    // (partition cols, sort cols) — partition-col prefix also lets the
    // stock writer skip its own dynamic-partition sort.
    val sortClaim = {
      val logical = PjSortMarker.read(fs, rootPath).getOrElse(Nil)
      val m = PjColumnMapping.nameMap(recorded)
      logical.map(PjColumnMapping.toPhysical(m, _))
    }
    val writeDf =
      if (sortClaim.isEmpty) routed
      else routed.sortWithinPartitions((partCols ++ sortClaim).map(col): _*)

    // id column-mapping mode: compacted files must physically carry the
    // table's field ids like every other writer's outputs
    val rewriteIds = PjColumnMapping.fieldIdsByPhysical(recorded)
    val stampedDf = PjColumnMapping.stampRewriteIds(writeDf, rewriteIds)

    val tmp = new Path(rootPath, s".compact_tmp_${java.util.UUID.randomUUID().toString.take(8)}")
    try {
      val w = stampedDf.write.mode("overwrite")
      withFieldIdWrite(spark, rewriteIds.nonEmpty) {
        (if (partCols.nonEmpty) w.partitionBy(partCols: _*) else w).parquet(tmp.toString)
      }

      // publish the compacted files, then drop the inputs
      val newRels = publishFromTemp(fs, rootPath, tmp, "compaction")
      val newFiles = newRels.size.toLong
      // fresh sidecars for the compacted outputs, commit-scoped (never a
      // whole-table rewalk); the facts feed the logged commit's entries
      val newPaths = newRels.map(rel => s"$root/$rel")
      val facts = PjIndexJob.generateForPaths(spark, newPaths).map(f => f.path -> f).toMap
      if (logging) {
        // logged table: consumed files retire via the snapshot, bytes stay
        // for time travel until PjVacuum.expireVersions reclaims them
        val consumedRel = consumed.map(f =>
          PjCommitLog.relativize(fs, rootPath, new Path(f.path))).toSet
        val addEntries = newRels.map(rel => facts(s"$root/$rel").toEntry(rel))
        // pure-move proof: every consumed entry was row-tracked and the
        // rewrite materialized the SAME ids — the change feed may then
        // skip this version outright (no diff, no scan)
        val preserved = materializeIds && consumed.nonEmpty && consumed.forall { f =>
          entryByRel.get(PjCommitLog.relativize(fs, rootPath, new Path(f.path)))
            .exists(_.rowTracked)
        }
        prevSnap match {
          case Some(s) =>
            // READ BASE: the consumed snapshot's version — the commit
            // validates that no winner since then retired or re-added a
            // consumed file (a racing DV DELETE or CoW rewrite would be
            // silently undone by this rewrite); add-only winners rebase
            testHookBeforeCommit()
            try PjCommitLog.commit(fs, rootPath, "compact", addEntries, consumedRel,
              readVersion = Some(s.version), maintenance = true,
              preservedRows = preserved)
            catch {
              case e: PJException =>
                unpublish(fs, rootPath, newRels); throw e
            }
          case None =>
            // first logged commit: adopt the untouched survivors
            val adopted = all.filterNot(f => consumed.contains(f))
              .map(f => PjCommitLog.FileEntry(
                PjCommitLog.relativize(fs, rootPath, new Path(f.path)), f.bytes))
            PjCommitLog.commit(fs, rootPath, "compact", adopted ++ addEntries, Set.empty)
        }
      } else consumed.foreach(f => PjBatchWrite.deleteWithSidecars(fs, new Path(f.path)))
      // compaction rewrote source files: reconcile a persisted ANN index
      // (stale-by-content keys drop, compacted files encode)
      graft.operators.PqIndex.maintainIfPresent(spark, root)

      Report(
        filesBefore = all.size,
        smallFiles = consumed.size,
        compactedInto = newFiles,
        filesAfter = all.size - consumed.size + newFiles,
        bytesSmall = consumed.map(_.bytes).sum,
        dirsTouched = binsByDir.size)
    } finally {
      fs.delete(tmp, true)
    }
  }

  /** OPTIMIZE-style re-clustering (Delta's `OPTIMIZE ... ZORDER BY`):
    * rewrite EVERY data file of the table into ~`targetBytes` files
    * z-order-clustered on `zorderCols`, so scans filtered on ANY
    * participating dimension skip most row groups afterwards — the
    * standard maintenance pass that keeps a 100 TB table prunable as
    * ingestion order diverges from query order.
    *
    * Hive partition layout is preserved: rows range-partition on
    * (partition dirs, Morton value), so each directory's output is a run
    * of contiguous Morton intervals (at most one boundary task spans two
    * directories). Publishing reuses [[compact]]'s temp-dir + rename
    * protocol; consumed files, their `.index` and `.bloom` sidecars drop;
    * fresh sidecars cover the new files; a persisted ANN index
    * reconciles; and any `_pj_sort` natural-order claim is DELETED (the
    * Morton order provably breaks it).
    *
    * Same single-writer concurrency contract as [[compact]].
    */
  def optimize(
      spark: SparkSession,
      root: String,
      zorderCols: Seq[String],
      targetBytes: Long = 128L * 1024 * 1024,
      bits: Int = 12,
      /** Optional PARTITION predicate scoping the rewrite
        * ([[filterByPartitionPredicate]]) -- `OPTIMIZE ... WHERE`.
        */
      where: Option[String] = None,
      /** Space-filling curve: `zorder` (Morton) or `hilbert` (Skilling,
        * [[graft.functions.HilbertCurve]]) — Hilbert's unit-step walk
        * gives tighter row-group hyper-rectangles (Delta's default
        * clustering curve); the provenance tag records the curve, so
        * switching re-clusters everything once.
        */
      curve: String = "zorder",
      /** `OPTIMIZE ... FULL` (Delta parity): ignore the per-file
        * clustering provenance and re-rewrite everything in scope — the
        * escape hatch when global clustering quality has degraded from
        * many incremental passes (each pass clusters its own candidates
        * well but only against each other).
        */
      force: Boolean = false): Report = {
    require(zorderCols.size >= 2, s"optimize needs >= 2 zorder columns, got $zorderCols")
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    require(curve == "zorder" || curve == "hilbert",
      s"unknown clustering curve '$curve' (zorder | hilbert)")
    val hconf = spark.sessionState.newHadoopConf()
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(hconf)
    val rootUri = fs.makeQualified(rootPath).toString

    val logging = PjCommitLog.isEnabled(fs, rootPath)
    val prevSnap = if (logging) PjCommitLog.latest(fs, rootPath) else None
    val all = liveDataFiles(fs, rootPath, prevSnap)
    if (all.isEmpty) return Report(0, 0, 0, 0, 0, 0)
    // OPTIMIZE ... WHERE: rewrite only the admitted partitions; the full
    // live set still backs first-commit adoption and the report's totals
    val scoped = filterByPartitionPredicate(spark, fs, rootPath, all, where)
    if (scoped.isEmpty) return Report(all.size, 0, 0, all.size, 0, 0)

    // column mapping: user-facing zorder columns are LOGICAL; files (and
    // the provenance tag) carry PHYSICAL names — stable across renames
    val zorderPhys = {
      val m = PjColumnMapping.nameMap(prevSnap.flatMap(_.dataSchemaJson).map(j =>
        org.apache.spark.sql.types.DataType.fromJson(j)
          .asInstanceOf[org.apache.spark.sql.types.StructType]))
      zorderCols.map(PjColumnMapping.toPhysical(m, _))
    }
    // CLUSTERING PROVENANCE: skip files already clustered under exactly
    // this spec (and carrying no deletion vector to materialize) —
    // re-running OPTIMIZE after an append then rewrites O(new files),
    // not the whole table; a changed spec (columns or bits) re-clusters
    // everything, since the tag no longer matches
    val clusterSpec = s"$curve:${zorderPhys.mkString(",")}:bits=$bits"
    val entryByRelPre: Map[String, PjCommitLog.FileEntry] =
      prevSnap.toSeq.flatMap(_.entries).map(e => e.path -> e).toMap
    val candidates =
      if (force) scoped
      else scoped.filter { f =>
        entryByRelPre.get(PjCommitLog.relativize(fs, rootPath, new Path(f.path))) match {
          case Some(e) => !(e.clusteredBy.contains(clusterSpec) && e.dv.isEmpty)
          case None => true
        }
      }
    if (candidates.isEmpty) return Report(all.size, 0, 0, all.size, 0, 0)

    val dvByRel: Map[String, String] = prevSnap.toSeq.flatMap(_.entries)
      .flatMap(e => e.dv.map(d => e.path -> d.path)).toMap
    // ROW TRACKING: materialize stable ids through the rewrite (mergeSchema
    // on: earlier compactions may have materialized ids into SOME files)
    val rootKey = canonScanPath(rootUri)
    val entryByRel: Map[String, PjCommitLog.FileEntry] = entryByRelPre
    val materializeIds = logging && prevSnap.exists(_.dataSchemaJson.isDefined)
    val rowIdBases: Option[Map[String, Long]] =
      if (!materializeIds) None
      else Some(entryByRel.collect {
        case (rel, e) if e.baseRowId >= 0 => s"$rootKey/$rel" -> e.baseRowId
      })
    // mergeSchema only when ids materialize: earlier compactions may have
    // written the hidden id column into SOME files (logged tables only);
    // unlogged reads keep the exact pre-row-tracking plan
    val zRecorded = prevSnap.flatMap(_.dataSchemaJson).map(j =>
      org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    val fills = existenceFills(zRecorded)
    val candidateCols: Map[String, Option[Seq[String]]] =
      candidates.map(f => f.path -> entryByRel.get(
        PjCommitLog.relativize(fs, rootPath, new Path(f.path))).flatMap(_.cols)).toMap
    val idRenames = foreignIdRenames(hconf, zRecorded, candidates, candidateCols)
    val df = readGenerations(spark, fs, rootPath, rootUri, candidates,
      dvByRel, mergeSchema = materializeIds, rowIdBases, existenceFill = fills,
      colsOfPath = candidateCols,
      renameOfPath = idRenames)
    val headRenames = idRenames.getOrElse(candidates.head.path, Map.empty)
    val dataCols = spark.read.option("pjAutoSubstitute", "false")
      .parquet(candidates.head.path).columns.toSeq
      // id mode, foreign head file: surface the LIVE physical names the
      // rewrite frame actually carries, not the file's own
      .map(c => headRenames.getOrElse(c, c))
      .filterNot(_.equalsIgnoreCase(PjCommitLog.RowIdColName))
    // partition column NAMES come from the DECLARED partitioning when
    // recorded — subtractive inference (df columns minus one head file's
    // columns) misclassifies a freshly ADDed, not-yet-materialized DATA
    // column as a partition key and routes the rewrite into
    // c=__HIVE_DEFAULT_PARTITION__ dirs (found by the concurrency
    // fuzzer's DDL-racing-ZORDER schedules)
    val declaredPartCols: Seq[String] =
      PjTableProperties.partitionColumns(prevSnap.flatMap(_.propertiesJson)).map(_._1)
    // on a table with a recorded schema but NO declared partitioning
    // (an unpartitioned catalog table), every recorded field is a data
    // column — the fallback must not invent partition keys from freshly
    // ADDed columns the head file predates
    val recordedNames: Set[String] = prevSnap.flatMap(_.dataSchemaJson).map { j =>
      org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
        .fieldNames.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    }.getOrElse(Set.empty)
    val partCols: Seq[String] =
      if (declaredPartCols.nonEmpty) declaredPartCols
      else df.columns.filterNot(dataCols.contains)
        .filterNot(_.equalsIgnoreCase(PjCommitLog.RowIdColName))
        // an existence-default fill is a DATA column the head file may lack
        .filterNot(c => fills.exists(_._1.equalsIgnoreCase(c)))
        .filterNot(c => recordedNames.contains(c.toLowerCase(java.util.Locale.ROOT)))
        .toSeq
    // declared keys the consumed generations never materialized (an
    // in-flight partition-spec evolution) surface as typed nulls; VOID
    // inference from all-null dirs casts back to the declared type
    val dfAligned = alignPartitionCols(df, partCols, prevSnap.flatMap(_.propertiesJson))
    require(zorderPhys.forall(dataCols.contains),
      s"zorder columns $zorderCols must be data columns of $dataCols")

    val totalBytes = candidates.map(_.bytes).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    // ZOrder.zorderBy handles the Morton math; partition dirs prefix the
    // range key so the clustered runs stay within their directories
    val clustered = graft.operators.ZOrder.zorderByWithPrefix(
      dfAligned, partCols, zorderPhys, nOut, bits, curve = curve)

    // id column-mapping mode: clustered rewrite files carry the ids too
    val rewriteIds = PjColumnMapping.fieldIdsByPhysical(zRecorded)
    val stampedDf = PjColumnMapping.stampRewriteIds(clustered, rewriteIds)

    val tmp = new Path(rootPath, s".compact_tmp_${java.util.UUID.randomUUID().toString.take(8)}")
    try {
      val w = stampedDf.write.mode("overwrite")
      withFieldIdWrite(spark, rewriteIds.nonEmpty) {
        (if (partCols.nonEmpty) w.partitionBy(partCols: _*) else w).parquet(tmp.toString)
      }
      val newRels = publishFromTemp(fs, rootPath, tmp, "optimize")
      val newFiles = newRels.size.toLong
      val newPaths = newRels.map(rel => s"$root/$rel")
      val facts = PjIndexJob.generateForPaths(spark, newPaths).map(f => f.path -> f).toMap
      if (logging) {
        val consumedRel = candidates.map(f =>
          PjCommitLog.relativize(fs, rootPath, new Path(f.path))).toSet
        // outputs carry the provenance tag — the next same-spec OPTIMIZE
        // skips them outright
        val addEntries = newRels.map(rel =>
          facts(s"$root/$rel").toEntry(rel).copy(clusteredBy = Some(clusterSpec)))
        val preserved = materializeIds && candidates.nonEmpty &&
          candidates.forall(f => entryByRel.get(
            PjCommitLog.relativize(fs, rootPath, new Path(f.path))).exists(_.rowTracked))
        if (prevSnap.isDefined) {
          // same read-base discipline as compact(): conflict iff a winner
          // since the consumed snapshot touched a consumed file
          testHookBeforeCommit()
          try PjCommitLog.commit(fs, rootPath, "optimize-zorder", addEntries, consumedRel,
            readVersion = prevSnap.map(_.version), maintenance = true,
            preservedRows = preserved)
          catch {
            case e: PJException =>
              unpublish(fs, rootPath, newRels); throw e
          }
        }
        else {
          // first logged commit: adopt the out-of-scope survivors so a
          // scoped rewrite never drops them from the snapshot
          val adopted = all.filterNot(f => candidates.contains(f))
            .map(f => PjCommitLog.FileEntry(
              PjCommitLog.relativize(fs, rootPath, new Path(f.path)), f.bytes))
          PjCommitLog.commit(fs, rootPath, "optimize-zorder",
            adopted ++ addEntries, Set.empty)
        }
      } else candidates.foreach(f => PjBatchWrite.deleteWithSidecars(fs, new Path(f.path)))
      // a natural-column sort claim cannot survive a Morton reorder
      PjSortMarker.delete(fs, rootPath)
      graft.operators.PqIndex.maintainIfPresent(spark, root)
      Report(
        filesBefore = all.size,
        smallFiles = candidates.size,
        compactedInto = newFiles,
        filesAfter = all.size - candidates.size + newFiles,
        bytesSmall = totalBytes,
        dirsTouched = candidates.map(f => f.dir).distinct.size.toLong)
    } finally {
      fs.delete(tmp, true)
    }
  }
}
