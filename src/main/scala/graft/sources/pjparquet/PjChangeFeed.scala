package graft.sources.pjparquet

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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
    * commit wrote them, else computed by read-time diff.
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
    // ROW TRACKING pure-move short-circuit: an id-preserving rewrite
    // (compaction / OPTIMIZE that materialized every consumed row's
    // stable id) recorded `preservedRows` — the version changed NO row,
    // so the feed is empty at METADATA rate: no multiset diff, no data
    // file is read (the plan below folds to an empty local relation)
    if (d.preservedRows)
      return spark.read.format("pjparquet").option("versionAsOf", version.toString)
        .load(root).where(lit(false)).withColumn("_change_type", lit(""))
        .withColumn("_commit_version", lit(version))
    val readded = d.add.map(_.path).toSet
    // idempotent replays may re-add an already-live path: not a change —
    // UNLESS the re-add changed the entry's DELETION VECTOR, in which case
    // the change rows are exactly the file's newly-deleted positions.
    // A checkpoint-only version records the full state as `add`.
    val dvTrans: Seq[(String, Option[String], String)] = d.add.flatMap { e =>
      prevEntries.get(e.path) match {
        case Some(p) if e.dv.map(_.path) != p.dv.map(_.path) && e.dv.isDefined =>
          Some((e.path, p.dv.map(_.path), e.dv.get.path))
        case _ => None
      }
    }
    val added: Seq[(String, Option[String])] =
      d.add.filterNot(e => prevFiles.contains(e.path)).map(e => e.path -> e.dv.map(_.path))
    val removed: Seq[(String, Option[String])] =
      (if (d.fullState) (prevFiles -- readded).toSeq.sorted
      else d.remove.filter(prevFiles.contains).filterNot(readded.contains))
        .map(r => r -> prevEntries.get(r).flatMap(_.dv).map(_.path))

    val (preLabel, postLabel) = labelsOf(d.operation)

    val rootQ = fs.makeQualified(rootPath).toString
    val pre = readRels(spark, rootQ, removed)
    val post = readRels(spark, rootQ, added)
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
      else Some(dvDiffRows(spark, rootQ, dvTrans).withColumn("_change_type", lit(preLabel)))
    val out = (base, dvPart) match {
      case (None, None) =>
        // metadata-only commit: schema from the version itself, zero rows
        spark.read.format("pjparquet").option("versionAsOf", version.toString)
          .load(root).where(lit(false)).withColumn("_change_type", lit(""))
      case (Some(b), None) => b
      case (None, Some(dv)) => dv
      case (Some(b), Some(dv)) => b.unionByName(dv, allowMissingColumns = true)
    }
    out.withColumn("_commit_version", lit(version))
  }

  /** Raw scan of table-relative files, each filtered to its LIVE rows (its
    * deletion vector's positions removed), partition-column types aligned
    * with the pjparquet read convention. None when `rels` is empty.
    */
  private[pjparquet] def readRels(
      spark: SparkSession, rootQ: String,
      rels: Seq[(String, Option[String])]): Option[DataFrame] =
    if (rels.isEmpty) None
    else {
      val df0 = readByKeys(spark, rootQ, rels.map(_._1))
      // the hidden materialized row-id column (id-preserving rewrites) is
      // engine-internal: never part of a change row, and its presence on
      // only ONE side of a rewrite diff would break the union
      val df =
        if (df0.columns.exists(_.equalsIgnoreCase(PjCommitLog.RowIdColName)))
          df0.drop(PjCommitLog.RowIdColName)
        else df0
      // partition columns come from directory inference; align their
      // types with the pjparquet convention (LONG when every value
      // parses, else STRING) so the feed's schema matches table reads
      val partVals: Map[String, Seq[String]] = rels
        .flatMap(r => PjBatchWrite.partsOfRel(r._1).toSeq)
        .groupBy(_._1).map { case (k, vs) => k -> vs.flatMap(_._2) }
      val aligned = partVals.foldLeft(df) { case (acc, (k, vals)) =>
        if (!acc.columns.exists(_.equalsIgnoreCase(k))) acc
        else {
          val allLong = vals.nonEmpty &&
            vals.forall(v => scala.util.Try(v.toLong).isSuccess)
          acc.withColumn(k, col(k).cast(if (allLong) "long" else "string"))
        }
      }
      Some(filterDeleted(spark, rootQ, aligned, rels))
    }

  /** Drop each file's deletion-vector positions from a raw multi-file scan
    * (no-op when no file carries a vector): `_metadata.file_path` +
    * `_metadata.row_index` resolve the row's (file, position), and a
    * broadcast (canonical path → vector) lookup decides membership with
    * executor-cached decoded vectors.
    */
  private def filterDeleted(
      spark: SparkSession, rootQ: String, df: DataFrame,
      rels: Seq[(String, Option[String])]): DataFrame =
    if (rels.forall(_._2.isEmpty)) df
    else {
      val rootKey = canonRootKey(rootQ)
      val byPath: Map[String, String] = rels.collect {
        case (rel, Some(dvRel)) => keyOf(rootKey, rel) -> absOf(rootQ, dvRel)
      }.toMap
      val bc = spark.sparkContext.broadcast(byPath)
      val shipped = PjHadoopConf.ship(spark)
      val live = udf((file: String, idx: Long) => {
        bc.value.get(canonScanPath(file)) match {
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

  /** The rows a deletion-vector transition deleted: each file's positions
    * in (new vector ∖ old vector), read from the file's bytes — labeled by
    * the caller. `trans` = (rel, old vector rel if any, new vector rel).
    */
  private def dvDiffRows(
      spark: SparkSession, rootQ: String,
      trans: Seq[(String, Option[String], String)]): DataFrame = {
    val rootKey = canonRootKey(rootQ)
    val byPath: Map[String, (String, String)] = trans.map { case (rel, oldDv, newDv) =>
      keyOf(rootKey, rel) -> ((oldDv.map(absOf(rootQ, _)).orNull, absOf(rootQ, newDv)))
    }.toMap
    val bc = spark.sparkContext.broadcast(byPath)
    val shipped = PjHadoopConf.ship(spark)
    val newlyDeleted = udf((file: String, idx: Long) => {
      bc.value.get(canonScanPath(file)) match {
        case Some((oldDv, newDv)) =>
          PjDeletionVector.contains(PjDeletionVector.cached(shipped.newConf(), newDv), idx) &&
            (oldDv == null ||
              !PjDeletionVector.contains(PjDeletionVector.cached(shipped.newConf(), oldDv), idx))
        case None => false
      }
    })
    val df0 = readByKeys(spark, rootQ, trans.map(_._1))
    // the hidden materialized row-id column (id-preserving rewrites) is
    // engine-internal: never part of a change row — a DV transition on a
    // rewritten (row-id-carrying) file would otherwise emit a feed branch
    // whose arity differs from every other branch and break the union
    // (found by PjConcurrencyFuzzSpec's CDF lane)
    val df =
      if (df0.columns.exists(_.equalsIgnoreCase(PjCommitLog.RowIdColName)))
        df0.drop(PjCommitLog.RowIdColName)
      else df0
    val partVals: Map[String, Seq[String]] = trans
      .flatMap(t => PjBatchWrite.partsOfRel(t._1).toSeq)
      .groupBy(_._1).map { case (k, vs) => k -> vs.flatMap(_._2) }
    val aligned = partVals.foldLeft(df) { case (acc, (k, vals)) =>
      if (!acc.columns.exists(_.equalsIgnoreCase(k))) acc
      else {
        val allLong = vals.nonEmpty &&
          vals.forall(v => scala.util.Try(v.toLong).isSuccess)
        acc.withColumn(k, col(k).cast(if (allLong) "long" else "string"))
      }
    }
    aligned
      .withColumn("_pj_mf", col("_metadata.file_path"))
      .withColumn("_pj_mi", col("_metadata.row_index"))
      .filter(newlyDeleted(col("_pj_mf"), col("_pj_mi")))
      .drop("_pj_mf", "_pj_mi")
  }

  private def canonRootKey(rootQ: String): String =
    try {
      val u = new java.net.URI(rootQ)
      Option(u.getAuthority).getOrElse("") + Option(u.getPath).getOrElse(rootQ)
    } catch { case _: java.net.URISyntaxException => rootQ }

  /** Absolute URI of a snapshot-membership key ([[PjCommitLog.relOrAbs]]):
    * SHALLOW-CLONE entries are already absolute and adopt the table
    * root's scheme/authority; everything else joins under the root.
    */
  private def absOf(rootQ: String, rel: String): String =
    if (rel.startsWith("/")) new Path(new Path(rootQ), rel).toString
    else s"$rootQ/$rel"

  /** Broadcast-map key for a membership key — must equal
    * [[canonScanPath]] of the file's scan-rendered path.
    */
  private def keyOf(rootKey: String, rel: String): String =
    if (rel.startsWith("/")) rel else s"$rootKey/$rel"

  /** Raw multi-file read over membership keys that tolerates
    * clone-external (absolute) entries: files group by the base path
    * that makes their Hive partition inference work (the table root for
    * relative keys; the prefix above the first `key=value` segment for
    * absolute ones), each group reads with its own `basePath`, inferred
    * partition columns normalize to STRING, and groups union by name —
    * the callers' value-driven alignment then settles LONG vs STRING.
    */
  private def readByKeys(
      spark: SparkSession, rootQ: String, rels: Seq[String]): DataFrame = {
    def baseOf(rel: String): String =
      if (!rel.startsWith("/")) rootQ
      else {
        val segs = rel.split("/").toSeq
        val i = segs.indexWhere(_.contains("="))
        val prefix = if (i < 0) segs.dropRight(1) else segs.take(i)
        new Path(new Path(rootQ), prefix.mkString("/")).toString
      }
    val groups = rels.groupBy(baseOf).toSeq.sortBy(_._1)
    groups.map { case (base, group) =>
      val df = spark.read.option("basePath", base)
        .option("pjAutoSubstitute", "false") // raw parquet: _metadata needed
        .parquet(group.map(absOf(rootQ, _)): _*)
      val partKeys = group.flatMap(r => PjBatchWrite.partsOfRel(r).keySet).distinct
      partKeys.foldLeft(df)((acc, k) =>
        if (acc.columns.exists(_.equalsIgnoreCase(k)))
          acc.withColumn(k, col(k).cast("string"))
        else acc)
    }.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** What one commit contributes to the feed — the planning unit shared by
    * the batch range read ([[changes]]) and the streaming source
    * ([[PjCdfMicroBatchStream]]). Classification is metadata-rate (log
    * deltas only, no data I/O).
    */
  private[pjparquet] sealed trait VersionClass { def version: Long }
  /** Change rows persisted at commit time under `_pj_cdc/v=<version>/`. */
  private[pjparquet] final case class Persisted(version: Long) extends VersionClass
  /** Every LIVE row of `rels` (each with its deletion vector, if any)
    * enters the feed labeled `label` (pure add).
    */
  private[pjparquet] final case class PureAdd(
      version: Long, rels: Seq[(String, Option[String])], label: String) extends VersionClass
  /** Every LIVE row of `rels` enters the feed labeled `label` (pure remove). */
  private[pjparquet] final case class PureRemove(
      version: Long, rels: Seq[(String, Option[String])], label: String) extends VersionClass
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
          val added = d.add.filterNot(e => live.contains(e.path))
            .map(e => e.path -> e.dv.map(_.path))
          val removed: Seq[(String, Option[String])] =
            (if (d.fullState) (live.keySet -- readded).toSeq.sorted
            else d.remove.filter(live.contains).filterNot(readded.contains))
              .map(r => r -> live(r))
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

  /** The feed over `[fromVersion, toVersion]` — the batch CDF read
    * (`startingVersion`/`endingVersion` semantics) — as ONE bounded plan:
    *
    *  - all PERSISTED versions read as one partition-pruned scan over
    *    `_pj_cdc/v=*` (the `v` directory key carries `_commit_version`);
    *  - all PURE-ADD versions read as one scan over every added file, the
    *    per-file label/version attached from a broadcast path lookup;
    *  - all PURE-REMOVE versions likewise;
    *  - only REWRITE versions without persisted change files union an
    *    individual multiset-diff subplan each (the one class whose rows
    *    genuinely need the engine to diff).
    *
    * A year of streaming epochs (thousands of append versions) therefore
    * plans as ~one scan, not one union branch per version.
    */
  def changes(spark: SparkSession, root: String, fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion,
      s"pjparquet: fromVersion $fromVersion > toVersion $toVersion")
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    val all = PjCommitLog.versions(fs, rootPath)
    val vs = all.filter(v => v >= fromVersion && v <= toVersion)
    require(vs.nonEmpty, s"pjparquet: no versions in [$fromVersion, $toVersion]")
    val classes = classifyRange(fs, rootPath, vs, all)

    val persisted = classes.collect { case Persisted(v) => v }
    val adds = classes.collect { case a: PureAdd => a }
    val removes = classes.collect { case r: PureRemove => r }
    val rewrites = classes.collect { case Rewrite(v) => v }

    val rootQ = fs.makeQualified(rootPath).toString
    val parts = Seq.newBuilder[DataFrame]

    if (persisted.nonEmpty) {
      // one scan, `v=` partition-pruned to the range — UNLESS the data
      // itself has a column named `v`, which would collide with the
      // directory key: fall back to per-version leaf-dir scans there
      val tableHasV = spark.read.format("pjparquet")
        .option("versionAsOf", persisted.head.toString).load(root)
        .columns.exists(_.equalsIgnoreCase("v"))
      if (tableHasV)
        persisted.foreach(v => parts += changesAt(spark, root, v))
      else {
        val base = new Path(rootPath, "_pj_cdc")
        val baseQ = fs.makeQualified(base).toString
        parts += spark.read.option("basePath", baseQ)
          .parquet(persisted.map(v => s"$baseQ/v=$v"): _*)
          .withColumn("_commit_version", col("v").cast("long"))
          .drop("v")
      }
    }
    if (adds.nonEmpty)
      parts += labeledScan(spark, rootQ,
        adds.flatMap(a => a.rels.map { case (rel, dv) => (rel, a.version, a.label, dv) }))
    if (removes.nonEmpty)
      parts += labeledScan(spark, rootQ,
        removes.flatMap(r => r.rels.map { case (rel, dv) => (rel, r.version, r.label, dv) }))
    rewrites.foreach(v => parts += changesAt(spark, root, v))

    val built = parts.result()
    if (built.isEmpty) changesAt(spark, root, vs.head) // all metadata-only: typed empty feed
    // allowMissingColumns: a column ADDed mid-range exists only in the
    // branches whose commits postdate it — earlier branches read null
    else built.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Canonical form of the scan's `input_file_name` for the broadcast
    * lookup: ONE URI decode yields the raw on-disk path (`file:///x`,
    * `file:/x` and plain `/x` all canonicalize identically; a dir named
    * `p=a%20b` — the writer's URL-encoded partition value — arrives as
    * `p=a%2520b` and decodes back to the literal dir name).
    */
  private[pjparquet] def canonScanPath(s: String): String =
    try {
      val u = new java.net.URI(s)
      Option(u.getAuthority).getOrElse("") + Option(u.getPath).getOrElse(s)
    } catch { case _: java.net.URISyntaxException => s }

  /** One scan over many versions' files, each row labeled with its file's
    * commit version and change type from a broadcast (path → (version,
    * label)) map — constant per file, resolved at read time from the
    * scan's own input file name. Both sides canonicalize to the RAW
    * on-disk path: snapshot rels already ARE raw directory/file names, so
    * the map key is authority + root path + rel verbatim (no decode — a
    * `%20` in a rel is a literal three-character dir-name substring), and
    * the scan side decodes its URI-encoded file name exactly once. An
    * unmapped file fails the task loudly (it would mean the scan read a
    * file planning never labeled).
    */
  private def labeledScan(
      spark: SparkSession, rootQ: String,
      fileMeta: Seq[(String, Long, String, Option[String])]): DataFrame = {
    val rels = fileMeta.map(_._1)
    val rootKey = canonRootKey(rootQ)
    val byPath: Map[String, (Long, String)] =
      fileMeta.map { case (rel, v, l, _) => keyOf(rootKey, rel) -> ((v, l)) }.toMap
    val bc = spark.sparkContext.broadcast(byPath)
    val metaU = udf((p: String) => bc.value.getOrElse(canonScanPath(p),
      throw new graft.core.PJException(
        s"pjparquet: change feed read an input file planning never labeled: $p")))
    val df1 = readByKeys(spark, rootQ, rels)
    // engine-internal materialized row ids never enter the feed (same
    // drop as readRels/dvDiffRows — a rewritten file in a pure-add or
    // pure-remove batch carries the hidden column)
    val df =
      if (df1.columns.exists(_.equalsIgnoreCase(PjCommitLog.RowIdColName)))
        df1.drop(PjCommitLog.RowIdColName)
      else df1
    // the same partition-column type alignment as the single-version path
    val partVals: Map[String, Seq[String]] = rels
      .flatMap(rel => PjBatchWrite.partsOfRel(rel).toSeq)
      .groupBy(_._1).map { case (k, vs) => k -> vs.flatMap(_._2) }
    val aligned = partVals.foldLeft(df) { case (acc, (k, vals)) =>
      if (!acc.columns.exists(_.equalsIgnoreCase(k))) acc
      else {
        val allLong = vals.nonEmpty &&
          vals.forall(v => scala.util.Try(v.toLong).isSuccess)
        acc.withColumn(k, col(k).cast(if (allLong) "long" else "string"))
      }
    }
    filterDeleted(spark, rootQ, aligned, fileMeta.map(m => (m._1, m._4)))
      .withColumn("_pj_m", metaU(input_file_name()))
      .withColumn("_change_type", col("_pj_m._2"))
      .withColumn("_commit_version", col("_pj_m._1"))
      .drop("_pj_m")
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
