package graft.sources.pjparquet

import java.util

import org.apache.spark.sql.connector.catalog.{CatalogPlugin, Identifier, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.core.PJException

/** Path-based catalog exposing pjparquet tables to SQL — the Delta-style
  * `` SELECT * FROM pj.`/path/to/table` `` form, registered via
  * `spark.sql.catalog.pj=graft.sources.pjparquet.PjCatalog`. Its reason to
  * exist is the SQL time-travel syntax: Spark routes `VERSION AS OF` /
  * `TIMESTAMP AS OF` clauses to the catalog's versioned `loadTable`
  * overloads, which map straight onto the source's `versionAsOf` /
  * `timestampAsOf` options (commit-log tables, [[PjCommitLog]]):
  *
  * {{{
  *   SELECT * FROM pj.`/data/events` VERSION AS OF 3
  *   SELECT * FROM pj.`/data/events` TIMESTAMP AS OF '2026-08-14 10:00:00'
  * }}}
  *
  * The identifier IS the table root path (single-part, no namespaces);
  * everything else — schema, partitioning, writes, DML — is the ordinary
  * [[PjParquetTable]]. DDL is intentionally unsupported: pjparquet tables
  * are defined by their directories, created by writes, and dropped by
  * deleting the directory.
  */
class PjCatalog extends CatalogPlugin with TableCatalog
    with org.apache.spark.sql.connector.catalog.StagingTableCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog
    with org.apache.spark.sql.connector.catalog.SupportsNamespaces {

  private var catalogName: String = "pj"

  /** METASTORE-NAMED TABLES (`spark.sql.catalog.<name>.warehouse=<dir>`):
    * with a warehouse configured, namespaced identifiers map onto the
    * filesystem by convention — `cat.db.tbl` ⇒ `<warehouse>/db/tbl` — so
    * users get `CREATE TABLE prod.events`, `df.writeTo("prod.events")`,
    * `SHOW TABLES IN prod`, and `USE prod` without a metastore service:
    * the directory tree IS the catalog, exactly like a Hive warehouse
    * dir. Path addressing (`` cat.`/abs/path` ``) keeps working
    * byte-identically; without a warehouse, namespaces refuse as before.
    */
  private var warehouse: Option[String] = None

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).map(_.stripSuffix("/")).filter(_.nonEmpty)
  }

  override def name(): String = catalogName

  /** [[org.apache.spark.sql.connector.catalog.FunctionCatalog]]: serves
    * the `bucket` partition-transform function so Spark's
    * `V2ExpressionUtils` can bind the scan-reported
    * `KeyGroupedPartitioning(bucket(n, col))` — the storage-partitioned
    * join path for declared bucket transforms ([[PjBucketFunction]]).
    */
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(namespace, "bucket"))

  override def loadFunction(
      ident: Identifier): org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.name().equalsIgnoreCase("bucket")) PjBucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)

  /** SQL `ALTER TABLE ... ADD/DROP CONSTRAINT`, `GENERATED ALWAYS AS`,
    * identity columns and column DEFAULTs route through this catalog
    * only when it advertises the capability (Spark validates the
    * generation/identity/default clauses at CREATE; [[PjBatchWrite]]
    * computes them at write time).
    */
  override def capabilities(): util.Set[
      org.apache.spark.sql.connector.catalog.TableCatalogCapability] = {
    import org.apache.spark.sql.connector.catalog.TableCatalogCapability._
    util.EnumSet.of(
      SUPPORT_TABLE_CONSTRAINT,
      SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS,
      SUPPORTS_CREATE_TABLE_WITH_IDENTITY_COLUMNS,
      SUPPORT_COLUMN_DEFAULT_VALUE)
  }

  /** One path component of a named identifier: no separators, no dot-dot
    * escapes — a name must stay inside the warehouse tree.
    */
  private def validComponent(c: String): Boolean =
    c.nonEmpty && !c.contains("/") && !c.contains("\\") && c != "." && c != ".."

  private def pathOf(ident: Identifier): String = {
    if (ident.namespace().isEmpty) return ident.name() // the name IS the path
    warehouse match {
      case None =>
        throw new PJException(
          s"$catalogName: identifiers are table root paths with no namespace, " +
            s"got ${ident.namespace().mkString(".")}.${ident.name()} — set " +
            s"spark.sql.catalog.$catalogName.warehouse=<dir> to address " +
            "tables by name")
      case Some(w) =>
        val parts = ident.namespace().toSeq :+ ident.name()
        parts.filterNot(validComponent).foreach { bad =>
          throw new PJException(
            s"$catalogName: invalid name component '$bad' in " +
              s"${parts.mkString(".")} (names cannot contain path separators)")
        }
        s"$w/${parts.mkString("/")}"
    }
  }

  private def resolve(ident: Identifier, extra: (String, String)*): Table = {
    val path = pathOf(ident)
    // WAREHOUSE-NAMED tables are created through this catalog, so they
    // ALWAYS carry a commit log (CREATE commits v1). A log-less directory
    // under the warehouse is not a table — it is a husk a raced writer's
    // mkdirs recreated mid-rename, or a foreign drop-in (adopt those via
    // CALL convert / path addressing). Without this, a name resolving to
    // a husk silently reads leftover task files as a directory-mode
    // table (maintenance-lane fuzzer, seed window 20000). Path-addressed
    // idents keep full directory-mode compatibility.
    if (ident.namespace().nonEmpty) {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(
        org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf())
      if (PjCommitLog.versions(fs, p).isEmpty)
        throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
    }
    val m = new util.HashMap[String, String]()
    m.put("path", path)
    // catalog-bound relations carry a FunctionCatalog, so the write side
    // may request the bucket(n, col) transform distribution; path-based
    // relations (df.write.save(path)) cannot and fall back
    m.put("pj.internal.catalogBound", "true")
    extra.foreach { case (k, v) => m.put(k, v) }
    try PjParquetTable.resolve(new CaseInsensitiveStringMap(m))
    catch {
      case _: java.io.FileNotFoundException =>
        throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
    }
  }

  override def loadTable(ident: Identifier): Table = resolve(ident)

  /** `VERSION AS OF <v>` — Spark hands the raw version string. */
  override def loadTable(ident: Identifier, version: String): Table =
    resolve(ident, "versionAsOf" -> version)

  /** `TIMESTAMP AS OF <ts>` — Spark hands MICROseconds since epoch. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table =
    resolve(ident, "timestampAsOf" -> (timestampMicros / 1000L).toString)

  /** Only "table is not there" maps to false — a corrupt commit log, a
    * vacuum-expired snapshot, or an FS permission error propagates
    * instead of masquerading as a missing table.
    */
  override def tableExists(ident: Identifier): Boolean =
    try { loadTable(ident); true }
    catch {
      case _: org.apache.spark.sql.catalyst.analysis.NoSuchTableException => false
      case _: java.io.FileNotFoundException => false
    }

  /** A directory is a TABLE when it carries a commit log, or (directory
    * mode) a visible top-level parquet file or hive `key=value` subdir —
    * the same shallow classification dropTable trusts before deleting.
    */
  private def isTableDir(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Boolean =
    PjCommitLog.isEnabled(fs, p) ||
      fs.listStatus(p).exists { st =>
        val n = st.getPath.getName
        !n.startsWith("_") && !n.startsWith(".") &&
          ((st.isFile && n.endsWith(".parquet")) ||
            (st.isDirectory && n.contains("=")))
      }

  private def namespaceDir(namespace: Array[String]): Option[
      (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path)] =
    warehouse.map { w =>
      namespace.filterNot(validComponent).foreach { bad =>
        throw new PJException(
          s"$catalogName: invalid namespace component '$bad'")
      }
      val p = new org.apache.hadoop.fs.Path(
        if (namespace.isEmpty) w else s"$w/${namespace.mkString("/")}")
      (p.getFileSystem(
        org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf()), p)
    }

  override def listTables(namespace: Array[String]): Array[Identifier] =
    namespaceDir(namespace) match {
      case Some((fs, dir)) if namespace.nonEmpty =>
        if (!fs.exists(dir))
          throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(
            namespace)
        fs.listStatus(dir).filter(_.isDirectory)
          .filter(st => !st.getPath.getName.startsWith(".") &&
            !st.getPath.getName.startsWith("_"))
          .filter(st => isTableDir(fs, st.getPath))
          .map(st => Identifier.of(namespace, st.getPath.getName))
      case _ =>
        Array.empty // path-based: there is no namespace to enumerate
    }

  // ------------------------- SupportsNamespaces (warehouse convention)

  override def listNamespaces(): Array[Array[String]] =
    namespaceDir(Array.empty) match {
      case Some((fs, dir)) if fs.exists(dir) =>
        fs.listStatus(dir).filter(_.isDirectory)
          .filter(st => !st.getPath.getName.startsWith(".") &&
            !st.getPath.getName.startsWith("_"))
          .filterNot(st => isTableDir(fs, st.getPath))
          .map(st => Array(st.getPath.getName))
      case _ => Array.empty
    }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (namespace.isEmpty) return listNamespaces()
    namespaceDir(namespace) match {
      case Some((fs, dir)) =>
        if (!fs.exists(dir))
          throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(
            namespace)
        fs.listStatus(dir).filter(_.isDirectory)
          .filter(st => !st.getPath.getName.startsWith(".") &&
            !st.getPath.getName.startsWith("_"))
          .filterNot(st => isTableDir(fs, st.getPath))
          .map(st => namespace :+ st.getPath.getName)
      case None => Array.empty
    }
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || namespaceDir(namespace).exists { case (fs, dir) =>
      fs.exists(dir) && fs.getFileStatus(dir).isDirectory
    }

  override def loadNamespaceMetadata(
      namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(namespace)
    val m = new util.HashMap[String, String]()
    namespaceDir(namespace).foreach { case (_, dir) => m.put("location", dir.toString) }
    m
  }

  override def createNamespace(
      namespace: Array[String], metadata: util.Map[String, String]): Unit =
    namespaceDir(namespace) match {
      case None =>
        throw new PJException(
          s"$catalogName: CREATE NAMESPACE needs a warehouse — set " +
            s"spark.sql.catalog.$catalogName.warehouse=<dir>")
      case Some((fs, dir)) =>
        if (fs.exists(dir))
          throw new org.apache.spark.sql.catalyst.analysis.NamespaceAlreadyExistsException(
            namespace)
        fs.mkdirs(dir)
    }

  override def alterNamespace(
      namespace: Array[String],
      changes: org.apache.spark.sql.connector.catalog.NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      s"$catalogName: namespaces are warehouse directories and carry no metadata")

  /** Non-cascade drop refuses when ANY visible child exists (tables or
    * nested namespaces); cascade deletes the subtree.
    */
  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean =
    namespaceDir(namespace) match {
      case None => false
      case Some((fs, dir)) =>
        if (namespace.isEmpty)
          throw new PJException(s"$catalogName: cannot drop the warehouse root")
        if (!fs.exists(dir)) return false
        // the namespace dir itself classifying as a TABLE means the name
        // points at table data, not a namespace — deleting it here would
        // bypass dropTable's classification guard (DROP TABLE is the verb
        // for that). Cascade deleting table CHILDREN is the cascade
        // contract and stays.
        if (isTableDir(fs, dir))
          throw new PJException(
            s"$catalogName: '$dir' holds table data (commit log or parquet " +
              "files), not a namespace — DROP TABLE it instead")
        if (!cascade && fs.listStatus(dir).exists(st =>
            !st.getPath.getName.startsWith(".") && !st.getPath.getName.startsWith("_")))
          throw new org.apache.spark.sql.catalyst.analysis.NonEmptyNamespaceException(
            namespace)
        val deleted = fs.delete(dir, true)
        PjCommitLog.clearSnapshotCache()
        PjParquetTable.clearLayoutCache()
        deleted
    }

  /** `CREATE TABLE pj.`/path`` (col defs [GENERATED ALWAYS AS ... |
    * GENERATED ... AS IDENTITY | DEFAULT ...]) USING pjparquet
    * [TBLPROPERTIES (...)]` — and the CTAS form: one `create` commit
    * records the schema (generation/identity/default clauses ride the
    * field metadata Spark already validated) and any table properties;
    * the empty table resolves from the log alone, and the first INSERT
    * appends files under the recorded contract. Partition transforms
    * refuse: pjparquet partitioning is directory-driven (write with
    * `partitionBy`), not declared.
    */
  /** The v2-Column variant Spark actually calls: the stock
    * `v2ColumnsToStructType` bridge carries comments and DEFAULTs into
    * field metadata but DROPS generation expressions and identity specs
    * (catalogs are expected to store those themselves) — overlay them
    * into the metadata here so the recorded schema is the single place
    * every write consults ([[PjGenerated]]).
    */
  override def createTable(
      ident: Identifier,
      columns: Array[org.apache.spark.sql.connector.catalog.Column],
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table =
    createTable(ident, schemaOf(columns), partitions, properties)

  /** Connector `Column[]` → recorded `StructType`, preserving the default/
    * generated/identity metadata under Spark's own keys.
    */
  private def schemaOf(
      columns: Array[org.apache.spark.sql.connector.catalog.Column]): StructType = {
    import org.apache.spark.sql.catalyst.util.{GeneratedColumn, IdentityColumn, ResolveDefaultColumns}
    val fields = columns.map { c =>
      val mb = new org.apache.spark.sql.types.MetadataBuilder()
      Option(c.metadataInJSON()).foreach(j =>
        mb.withMetadata(org.apache.spark.sql.types.Metadata.fromJson(j)))
      Option(c.comment()).foreach(mb.putString("comment", _))
      Option(c.defaultValue()).flatMap(dv => Option(dv.getSql)).foreach { sql =>
        // the same metadata keys Spark's own resolver fills INSERTs from
        mb.putString(ResolveDefaultColumns.CURRENT_DEFAULT_COLUMN_METADATA_KEY, sql)
        mb.putString(ResolveDefaultColumns.EXISTS_DEFAULT_COLUMN_METADATA_KEY, sql)
      }
      Option(c.generationExpression()).foreach(g =>
        mb.putString(GeneratedColumn.GENERATION_EXPRESSION_METADATA_KEY, g))
      Option(c.identityColumnSpec()).foreach { sp =>
        mb.putLong(IdentityColumn.IDENTITY_INFO_START, sp.getStart)
        mb.putLong(IdentityColumn.IDENTITY_INFO_STEP, sp.getStep)
        mb.putBoolean(IdentityColumn.IDENTITY_INFO_ALLOW_EXPLICIT_INSERT,
          sp.isAllowExplicitInsert)
      }
      org.apache.spark.sql.types.StructField(c.name(), c.dataType(), c.nullable(), mb.build())
    }
    StructType(fields.toIndexedSeq)
  }

  override def createTable(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    createAt(pathOf(ident), ident, schema, partitions, properties)
    loadTable(ident)
  }

  /** [[createTable]]'s body against an explicit root path — shared with the
    * staged CTAS lane ([[stageCreate]]), which materializes the table at a
    * hidden sibling path and publishes by atomic rename.
    */
  private def createAt(
      path: String,
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Unit = {
    // PARTITIONED BY (identity columns only — pjparquet partitioning is
    // Hive directory layout): the partition columns leave the recorded
    // DATA schema (files never store them) and record as the
    // pj.partition.columns property, which the empty table resolves its
    // partition schema from and every populated read takes TYPES from
    // `bucket(n, col)` transforms lower onto the GENERATED-partition-column
    // lane: a synthesized `<col>_bucket BIGINT GENERATED ALWAYS AS
    // (pmod(hash(col), n))` field routes rows into bucket directories at
    // write time, and the recorded pj.partition.bucket property tells the
    // scan to report the bucket transform for SPJ ([[PjBucketFunction]])
    val bucketSpecs: Seq[(String, Int)] = partitions.toSeq.collect {
      case t if t.name == "bucket" =>
        val refs = t.references()
        val nums = t.arguments().collect {
          case l: org.apache.spark.sql.connector.expressions.Literal[_]
              if l.dataType() == org.apache.spark.sql.types.IntegerType =>
            l.value().asInstanceOf[Int]
        }
        if (refs.length != 1 || nums.length != 1 || nums.head <= 0)
          throw new PJException(
            s"$catalogName: bucket transform must be bucket(<positive int>, <one column>), got $t")
        (refs(0).fieldNames().mkString("."), nums.head)
    }
    if (bucketSpecs.size > 1)
      throw new PJException(
        s"$catalogName: at most one bucket(n, col) transform is supported, " +
          s"got ${bucketSpecs.size}")
    val partCols: Seq[String] = partitions.toSeq.map { t =>
      if (t.name == "bucket")
        PjTableProperties.bucketFieldName(t.references()(0).fieldNames().mkString("."))
      else if (t.name != "identity" || t.references().length != 1)
        throw new PJException(
          s"$catalogName: only PARTITIONED BY (col) and bucket(n, col) are " +
            s"supported, got $t")
      else t.references()(0).fieldNames().mkString(".")
    }
    def fold(n: String) = n.toLowerCase(java.util.Locale.ROOT)
    // synthesized bucket fields join the name map so the partition-column
    // resolution below finds them; the source column must exist and hash
    // deterministically (no float/double keys)
    val bucketFields: Seq[org.apache.spark.sql.types.StructField] =
      bucketSpecs.map { case (src, n) =>
        val sf = schema.fields.find(_.name.equalsIgnoreCase(src)).getOrElse(
          throw new PJException(
            s"$catalogName: bucket column '$src' is not in the table schema"))
        if (sf.dataType == org.apache.spark.sql.types.FloatType ||
            sf.dataType == org.apache.spark.sql.types.DoubleType)
          throw new PJException(
            s"$catalogName: bucket column '$src' cannot be floating-point")
        org.apache.spark.sql.types.StructField(
          PjTableProperties.bucketFieldName(src),
          org.apache.spark.sql.types.LongType, nullable = true,
          new org.apache.spark.sql.types.MetadataBuilder()
            .putString(
              org.apache.spark.sql.catalyst.util.GeneratedColumn
                .GENERATION_EXPRESSION_METADATA_KEY,
              s"CAST(pmod(hash(`$src`), $n) AS BIGINT)")
            .build())
      }
    val byName = (schema.fields ++ bucketFields).map(f => fold(f.name) -> f).toMap
    val partFields = partCols.map { c =>
      val f = byName.getOrElse(fold(c), throw new PJException(
        s"$catalogName: PARTITIONED BY column '$c' is not in the table schema"))
      if (f.dataType != org.apache.spark.sql.types.LongType &&
          f.dataType != org.apache.spark.sql.types.StringType &&
          f.dataType != org.apache.spark.sql.types.DateType)
        throw new PJException(
          s"$catalogName: partition column '$c' must be BIGINT, STRING or DATE, " +
            s"got ${f.dataType.simpleString}")
      // GENERATED partition columns are first-class (Delta parity): the
      // write computes them, and [[PjGeneratedPruning]] derives partition
      // predicates from base-column filters. IDENTITY keys stay refused —
      // partitioning on a per-row minted sequence is one dir per row.
      if (PjGenerated.isIdentity(f))
        throw new PJException(
          s"$catalogName: partition column '$c' cannot be an identity column")
      f
    }
    val dataFields = schema.fields.filterNot(f => partCols.exists(_.equalsIgnoreCase(f.name)))
    if (partCols.nonEmpty && dataFields.isEmpty)
      throw new PJException(
        s"$catalogName: a table cannot be partitioned by every column")
    val rootPath = new org.apache.hadoop.fs.Path(path)
    val fs = rootPath.getFileSystem(
      org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf())
    if (PjCommitLog.isEnabled(fs, rootPath) ||
        (fs.exists(rootPath) && fs.listStatus(rootPath).nonEmpty))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
        Seq(catalogName, ident.name()))
    // Spark management keys ride along with user TBLPROPERTIES — only the
    // user's survive into the log (reserved pj.* keys validate like ALTER)
    val managed = Set("provider", "location", "owner", "external", "comment",
      "is_managed_location")
    val user = {
      import scala.jdk.CollectionConverters._
      properties.asScala.toMap.filterNot { case (k, _) =>
        managed.contains(k.toLowerCase(java.util.Locale.ROOT)) ||
          k.startsWith("option.")
      }
    }
    user.foreach { case (k, v) => PjTableProperties.validate(k, v) }
    val canonical = user.map { case (k, v) => PjTableProperties.canonicalKey(k) -> v } ++
      (if (partFields.isEmpty) Map.empty[String, String]
      else Map(PjTableProperties.PartitionColumns ->
        partFields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(","))) ++
      bucketSpecs.headOption.map { case (src, n) =>
        PjTableProperties.PartitionBucket -> s"$src:$n"
      }
    fs.mkdirs(rootPath)
    // The recorded schema keeps the PARTITION fields too (the resolver
    // filters them out of the file schema by name): their field METADATA
    // is load-bearing — a GENERATED partition column's expression lives
    // there, and both the write-side augmentation ([[PjGenerated.plan]])
    // and read-side derived pruning ([[PjGeneratedPruning]]) need it.
    val recordedFields = schema.fields.filter(f =>
      dataFields.exists(_.name == f.name) || partFields.exists(_.name == f.name)) ++
      bucketFields // synthesized: their generation metadata drives the write
    // id column-mapping mode: assign field ids 1..n at CREATE (the only
    // time the mode may be chosen — toggling later would strand id-less
    // files) and record the high-water mark for ADD COLUMN
    val idMode = canonical.get(PjTableProperties.ColumnMappingMode)
      .exists(_.equalsIgnoreCase("id"))
    val (finalFields, finalProps) =
      if (!idMode) (recordedFields, canonical)
      else {
        val withIds = recordedFields.zipWithIndex.map { case (f, i) =>
          f.copy(metadata = PjColumnMapping.withFieldId(f.metadata, i + 1L))
        }
        (withIds, canonical +
          (PjTableProperties.ColumnMappingMaxId -> recordedFields.length.toString))
      }
    PjCommitLog.commit(fs, rootPath, "create", Nil, Set.empty,
      dataSchemaJson = Some(StructType(finalFields).json),
      operation = Some("CREATE TABLE"),
      propertiesJson =
        if (finalProps.nonEmpty) Some(PjTableProperties.render(finalProps)) else None)
  }

  /** `ALTER TABLE t ALTER COLUMN c TYPE <wider>` — the ONE supported DDL:
    * lossless type widening (int→long, float→double) on commit-log
    * tables. The change is a METADATA-ONLY commit recording the widened
    * `dataSchema`; no file is rewritten — existing INT32/FLOAT files keep
    * reading under the widened schema through the vectorized reader's own
    * upcast, and subsequent appends may carry either width
    * ([[PjBatchWrite.widenRecordedSchema]] keeps the wide type). Lossy
    * changes, renames, drops, and non-logged tables refuse loudly.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    import org.apache.spark.sql.types._
    val path = pathOf(ident)
    val spark = org.apache.spark.sql.SparkSession.active
    val rootPath = new org.apache.hadoop.fs.Path(path)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (!PjCommitLog.isEnabled(fs, rootPath))
      throw new PJException(
        s"$catalogName: ALTER TABLE type widening requires a commit-log table " +
          s"('$path' has no ${PjCommitLog.DirName})")
    val snap = PjCommitLog.latest(fs, rootPath).getOrElse(
      throw new PJException(s"$catalogName: '$path' has an empty commit log"))
    // constraint changes travel a separate metadata lane (they touch the
    // recorded constraints, not the recorded schema); SQL never mixes them
    // with column changes in one statement
    if (changes.exists(c => c.isInstanceOf[TableChange.AddConstraint] ||
        c.isInstanceOf[TableChange.DropConstraint])) {
      if (!changes.forall(c => c.isInstanceOf[TableChange.AddConstraint] ||
          c.isInstanceOf[TableChange.DropConstraint]))
        throw new UnsupportedOperationException(
          s"$catalogName: cannot mix constraint and column changes in one ALTER TABLE")
      return alterConstraints(ident, path, spark, fs, rootPath, snap, changes)
    }
    // SET/UNSET TBLPROPERTIES travel their own metadata lane too
    // ([[PjTableProperties]]) — SQL never mixes them with column changes
    if (changes.exists(c => c.isInstanceOf[TableChange.SetProperty] ||
        c.isInstanceOf[TableChange.RemoveProperty])) {
      if (!changes.forall(c => c.isInstanceOf[TableChange.SetProperty] ||
          c.isInstanceOf[TableChange.RemoveProperty]))
        throw new UnsupportedOperationException(
          s"$catalogName: cannot mix property and column changes in one ALTER TABLE")
      return alterProperties(ident, path, fs, rootPath, snap, changes)
    }
    val cur = snap.dataSchemaJson.map(j =>
      DataType.fromJson(j).asInstanceOf[StructType]).getOrElse(
      throw new PJException(
        s"$catalogName: '$path' has no recorded data schema (legacy log); " +
          "rewrite or re-append once to record one before widening"))
    // id column-mapping mode: ADD COLUMN takes the NEXT never-used field
    // id (the maxColumnId high-water mark — a dropped column's id is
    // never reused, or old files would serve its bytes under the new
    // column); the same exclusive commit bumps the mark
    val tablePropsForIds = PjTableProperties.parse(snap.propertiesJson)
    val idModeTable = tablePropsForIds.get(PjTableProperties.ColumnMappingMode)
      .exists(_.equalsIgnoreCase("id"))
    val baseMaxId: Long = tablePropsForIds.get(PjTableProperties.ColumnMappingMaxId)
      .flatMap(v => scala.util.Try(v.toLong).toOption)
      .getOrElse(cur.fields.flatMap(PjColumnMapping.fieldId).foldLeft(0L)(math.max))
    var assignedMaxId: Long = baseMaxId
    val next = changes.foldLeft(cur) { (acc, ch) =>
      ch match {
        case u: TableChange.UpdateColumnType =>
          if (u.fieldNames.length != 1)
            throw new UnsupportedOperationException(
              s"$catalogName: only top-level columns can be widened, " +
                s"got ${u.fieldNames.mkString(".")}")
          val name = u.fieldNames.head
          val i = acc.fieldNames.indexWhere(_.equalsIgnoreCase(name))
          if (i < 0)
            throw new PJException(
              s"$catalogName: no data column '$name' in '$path' " +
                "(partition columns cannot be widened)")
          val from = acc.fields(i).dataType
          val to = u.newDataType()
          val ok = (from, to) match {
            case (a, b) if a == b => true
            case (IntegerType, LongType) => true
            case (FloatType, DoubleType) => true
            case _ => false
          }
          if (!ok)
            throw new PJException(
              s"$catalogName: type change on column '$name' " +
                s"(${from.simpleString} -> ${to.simpleString}) is not supported; " +
                "only int->long and float->double widening")
          StructType(acc.fields.updated(i, acc.fields(i).copy(dataType = to)))
        case d: TableChange.DeleteColumn =>
          // DROP COLUMN is metadata-only too: the recorded schema is
          // authoritative for logged reads, so the column simply stops
          // being requested — pre-drop files keep their physical bytes
          // (and pre-drop snapshots keep serving them via time travel)
          if (d.fieldNames.length != 1)
            throw new UnsupportedOperationException(
              s"$catalogName: only top-level columns can be dropped, " +
                s"got ${d.fieldNames.mkString(".")}")
          val name = d.fieldNames.head
          val i = acc.fieldNames.indexWhere(_.equalsIgnoreCase(name))
          if (i < 0) {
            if (d.ifExists()) acc
            else throw new PJException(
              s"$catalogName: no data column '$name' in '$path' " +
                "(partition columns cannot be dropped)")
          } else if (acc.fields.length == 1)
            throw new PJException(
              s"$catalogName: cannot drop '$name' — it is the table's only data column")
          else {
            // a sorted-layout claim naming the dropped column can no
            // longer be honored — retract it (readers simply stop
            // reporting an ordering; never a wrong answer)
            if (PjSortMarker.read(fs, rootPath)
                .exists(_.exists(_.equalsIgnoreCase(name))))
              PjSortMarker.delete(fs, rootPath)
            StructType(acc.fields.patch(i, Nil, 1))
          }
        case a: TableChange.AddColumn =>
          // ADD COLUMN is metadata-only: the new column is recorded in
          // the schema, pre-add files simply lack it and the vectorized
          // reader null-fills — so it must be nullable and default-free
          if (a.fieldNames.length != 1)
            throw new UnsupportedOperationException(
              s"$catalogName: only top-level columns can be added, " +
                s"got ${a.fieldNames.mkString(".")}")
          val name = a.fieldNames.head
          val partNames = snap.entries.headOption.toSeq
            .flatMap(e => PjBatchWrite.partsOfRel(e.path).keys)
          if (acc.fieldNames.exists(_.equalsIgnoreCase(name)) ||
              partNames.exists(_.equalsIgnoreCase(name)))
            throw new PJException(
              s"$catalogName: column '$name' already exists in '$path'")
          // column mapping: a renamed-away name is still the PHYSICAL
          // storage name of the renamed column — a new logical column of
          // that name would read its bytes. Refuse (same hazard class as
          // the DROP/re-ADD resurrection guard below).
          acc.fields.find(f =>
            PjColumnMapping.physicalName(f).equalsIgnoreCase(name) &&
              !f.name.equalsIgnoreCase(name)).foreach { f =>
            throw new PJException(
              s"$catalogName: cannot add column '$name' — it is the physical " +
                s"storage name of renamed column '${f.name}'; choose a " +
                "different name")
          }
          // EXISTENCE DEFAULT (round 14, Delta semantics): ADD COLUMN ...
          // DEFAULT records the default's SQL in the field metadata under
          // Spark's own keys — pre-add files (which physically lack the
          // column) then serve the default instead of null (the vectorized
          // reader's existence-default lane), and post-add writes that
          // omit the column resolve it the same way; SQL INSERTs fill it
          // via Spark's ResolveDefaultColumns like CREATE-time defaults.
          val defaultSql: Option[String] =
            Option(a.defaultValue()).map { dv =>
              Option(dv.getSql).getOrElse(throw new UnsupportedOperationException(
                s"$catalogName: ADD COLUMN '$name' DEFAULT requires a SQL-" +
                  "expressible constant default"))
            }
          // still nullable-only even with a DEFAULT: pre-add files
          // physically lack the column, and the vectorized reader's
          // required-column check (checkColumn) refuses a missing
          // non-nullable column before the existence-default lane runs
          if (!a.isNullable)
            throw new PJException(
              s"$catalogName: ADD COLUMN '$name' must be nullable — " +
                "existing rows have no stored value for it")
          // resurrection guard: a live file may still physically carry a
          // previously-DROPped column of this name — re-adding would read
          // its stale bytes instead of null. Refuse until those files are
          // rewritten (compaction) or a different name is chosen.
          val carriers = snap.entries.filter(_.cols match {
            case Some(cs) => cs.exists(_.equalsIgnoreCase(name))
            case None => true // legacy entry: cannot prove absence
          })
          if (carriers.nonEmpty)
            throw new PJException(
              s"$catalogName: cannot add column '$name' — ${carriers.size} live " +
                s"file(s) still physically carry a column of that name (e.g. " +
                s"'${carriers.head.path}'); a read would resurrect its stale " +
                "bytes instead of null. Rewrite those files first " +
                "(CALL pj.system.compact) or choose a different name")
          val field = {
            import org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
            val mb = new org.apache.spark.sql.types.MetadataBuilder()
            defaultSql.foreach { sql =>
              mb.putString(ResolveDefaultColumns.CURRENT_DEFAULT_COLUMN_METADATA_KEY, sql)
              mb.putString(ResolveDefaultColumns.EXISTS_DEFAULT_COLUMN_METADATA_KEY, sql)
            }
            val f0 = org.apache.spark.sql.types.StructField(
              name, a.dataType, nullable = a.isNullable, mb.build())
            val f = if (a.comment != null) f0.withComment(a.comment) else f0
            if (!idModeTable) f
            else {
              assignedMaxId += 1
              f.copy(metadata = PjColumnMapping.withFieldId(f.metadata, assignedMaxId))
            }
          }
          a.position() match {
            case null => StructType(acc.fields :+ field)
            case _: TableChange.First => StructType(field +: acc.fields)
            case after: TableChange.After =>
              val i = acc.fieldNames.indexWhere(_.equalsIgnoreCase(after.column()))
              if (i < 0)
                throw new PJException(
                  s"$catalogName: ADD COLUMN ... AFTER ${after.column()}: " +
                    s"no such column in '$path'")
              StructType(acc.fields.patch(i + 1, Seq(field), 0))
            case other =>
              throw new UnsupportedOperationException(
                s"$catalogName: unsupported column position $other")
          }
        case u: TableChange.UpdateColumnComment =>
          if (u.fieldNames().length != 1)
            throw new UnsupportedOperationException(
              s"$catalogName: nested column comments are not supported")
          val name = u.fieldNames()(0)
          val i = acc.fieldNames.indexWhere(_.equalsIgnoreCase(name))
          if (i < 0)
            throw new PJException(
              s"$catalogName: ALTER COLUMN $name: no such column in '$path'")
          StructType(acc.fields.updated(i,
            acc.fields(i).withComment(Option(u.newComment()).getOrElse(""))))
        case u: TableChange.UpdateColumnNullability =>
          if (u.fieldNames().length != 1)
            throw new UnsupportedOperationException(
              s"$catalogName: nested column nullability is not supported")
          val name = u.fieldNames()(0)
          val i = acc.fieldNames.indexWhere(_.equalsIgnoreCase(name))
          if (i < 0)
            throw new PJException(
              s"$catalogName: ALTER COLUMN $name: no such column in '$path'")
          // DROP NOT NULL (relaxing) is always safe — widening the
          // contract. SET NOT NULL (round 14, Delta semantics) must PROVE
          // the promise first: the probe is `WHERE col IS NULL LIMIT 1`
          // through the table's OWN reader, which is the ground truth of
          // what readers observe (deletion vectors masked, pre-add files
          // existence-default- or null-filled, column mapping applied) —
          // and it self-prunes at metadata rate: [[PjStatsFilter]] drops
          // every file whose stats envelope proves null_count == 0, so a
          // fully-statted clean table validates with ZERO data I/O.
          if (!u.nullable() && acc.fields(i).nullable) {
            // pre-add generations physically lack the column; the reader's
            // required-column check would refuse them once non-nullable —
            // refuse the tighten until compaction materializes the column
            val phys = PjColumnMapping.physicalName(acc.fields(i))
            val lacking = snap.entries.filter(_.cols match {
              case Some(cs) => !cs.exists(_.equalsIgnoreCase(phys))
              case None => true // legacy entry: cannot prove presence
            })
            if (lacking.nonEmpty) throw new PJException(
              s"$catalogName: ALTER COLUMN $name SET NOT NULL: " +
                s"${lacking.size} live file(s) physically lack the column " +
                s"(e.g. '${lacking.head.path}'); rewrite them first " +
                "(CALL pj.system.compact) and retry")
            val quoted = "`" + acc.fields(i).name.replace("`", "``") + "`"
            val witness = spark.read.format("pjparquet").load(path)
              .where(s"$quoted IS NULL")
              .take(1)
            if (witness.nonEmpty)
              throw new PJException(
                s"$catalogName: ALTER COLUMN $name SET NOT NULL: existing " +
                  s"rows in '$path' hold NULLs; remove them first " +
                  s"(DELETE FROM ... WHERE $name IS NULL) and retry")
          }
          StructType(acc.fields.updated(i,
            acc.fields(i).copy(nullable = u.nullable())))
        case u: TableChange.UpdateColumnPosition =>
          // ALTER COLUMN ... FIRST / AFTER x (round 14): metadata-only —
          // the recorded schema's field ORDER changes, nothing else. Reads
          // resolve columns by (physical) NAME, so existing files serve
          // unchanged; positional surfaces (DESCRIBE, INSERT ... VALUES,
          // SELECT *) follow the new order.
          if (u.fieldNames().length != 1)
            throw new UnsupportedOperationException(
              s"$catalogName: nested column positions are not supported")
          val name = u.fieldNames()(0)
          val i = acc.fieldNames.indexWhere(_.equalsIgnoreCase(name))
          if (i < 0)
            throw new PJException(
              s"$catalogName: ALTER COLUMN $name: no such column in '$path'")
          val moved = acc.fields(i)
          val rest = acc.fields.patch(i, Nil, 1)
          u.position() match {
            case _: TableChange.First => StructType(moved +: rest)
            case after: TableChange.After =>
              if (after.column().equalsIgnoreCase(name))
                throw new PJException(
                  s"$catalogName: ALTER COLUMN $name AFTER itself is meaningless")
              val j = rest.indexWhere(_.name.equalsIgnoreCase(after.column()))
              if (j < 0)
                throw new PJException(
                  s"$catalogName: ALTER COLUMN $name AFTER ${after.column()}: " +
                    s"no such column in '$path'")
              StructType(rest.patch(j + 1, Seq(moved), 0))
            case other =>
              throw new UnsupportedOperationException(
                s"$catalogName: unsupported column position $other")
          }
        case u: TableChange.UpdateColumnDefaultValue =>
          if (u.fieldNames().length != 1)
            throw new UnsupportedOperationException(
              s"$catalogName: nested column defaults are not supported")
          val name = u.fieldNames()(0)
          val i = acc.fieldNames.indexWhere(_.equalsIgnoreCase(name))
          if (i < 0)
            throw new PJException(
              s"$catalogName: ALTER COLUMN $name: no such column in '$path'")
          val old = acc.fields(i)
          if (PjGenerated.isGenerated(old) || PjGenerated.isIdentity(old))
            throw new PJException(
              s"$catalogName: column '$name' is generated/identity — it cannot " +
                "carry a DEFAULT")
          import org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
          val newSql: Option[String] =
            Option(u.newCurrentDefault()).flatMap(dv => Option(dv.getSql))
              .orElse(Option(u.newDefaultValue()).filter(_.nonEmpty))
          val mb = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(old.metadata)
          newSql match {
            case Some(sql) =>
              // SET DEFAULT changes the CURRENT default only. The
              // EXISTENCE default — what pre-add files' rows read — is
              // frozen at ADD/CREATE time (Delta semantics): rows that
              // already existed must keep reading the value that was
              // promised when the column appeared. A column that never
              // had one gains none (its pre-SET omitted rows read null).
              mb.putString(ResolveDefaultColumns.CURRENT_DEFAULT_COLUMN_METADATA_KEY, sql)
            case None =>
              // DROP DEFAULT: new writes omitting the column now
              // materialize NULL ([[PjGenerated]] fill); the existence
              // default stays for pre-add files.
              mb.remove(ResolveDefaultColumns.CURRENT_DEFAULT_COLUMN_METADATA_KEY)
          }
          StructType(acc.fields.updated(i, old.copy(metadata = mb.build())))
        case r: TableChange.RenameColumn =>
          // RENAME COLUMN via column mapping ([[PjColumnMapping]]): a
          // metadata-only commit that changes the LOGICAL name and pins
          // the frozen PHYSICAL name in the field's metadata — no file is
          // rewritten, pre-rename files keep serving (their bytes are
          // keyed by the physical name), post-rename writes physically
          // store the old name, and a stale writer naming the old logical
          // column refuses loudly at the resolver's schema guard.
          if (r.fieldNames.length != 1)
            throw new UnsupportedOperationException(
              s"$catalogName: only top-level columns can be renamed, " +
                s"got ${r.fieldNames.mkString(".")}")
          val name = r.fieldNames.head
          val newName = r.newName()
          val partNames = snap.entries.headOption.toSeq
            .flatMap(e => PjBatchWrite.partsOfRel(e.path).keys)
          if (partNames.exists(_.equalsIgnoreCase(name)))
            throw new PJException(
              s"$catalogName: partition column '$name' cannot be renamed " +
                "(partition names are directory structure)")
          val i = acc.fieldNames.indexWhere(_.equalsIgnoreCase(name))
          if (i < 0)
            throw new PJException(
              s"$catalogName: no data column '$name' in '$path'")
          if (acc.fieldNames.exists(_.equalsIgnoreCase(newName)) ||
              partNames.exists(_.equalsIgnoreCase(newName)))
            throw new PJException(
              s"$catalogName: cannot rename '$name' to '$newName' — a column " +
                s"of that name already exists in '$path'")
          if (Seq(PjParquetTable.FileMetaName, PjParquetTable.PosMetaName,
              PjParquetTable.RowIdMetaName)
              .exists(_.equalsIgnoreCase(newName)))
            throw new PJException(
              s"$catalogName: cannot rename '$name' to '$newName' — the name " +
                "is reserved for a metadata column")
          // a GENERATED column's expression references columns BY NAME in
          // its recorded SQL — renaming a referenced base would break
          // every future write's augmentation (late, per-write analysis
          // errors) and derived partition pruning. Refuse at DDL time.
          acc.fields.filter(PjGenerated.isGenerated).foreach { gf =>
            val sql = gf.metadata.getString(
              org.apache.spark.sql.catalyst.util.GeneratedColumn
                .GENERATION_EXPRESSION_METADATA_KEY)
            val refs =
              try spark.sessionState.sqlParser.parseExpression(sql).collect {
                case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => a.name
              } catch { case scala.util.control.NonFatal(_) => Nil }
            if (refs.exists(_.equalsIgnoreCase(name)))
              throw new PJException(
                s"$catalogName: cannot rename '$name' — generated column " +
                  s"'${gf.name}' is defined as ($sql) and references it; drop " +
                  "the generated column first or rewrite the table")
          }
          val old = acc.fields(i)
          // a sorted-layout claim naming the old name can no longer be
          // honored under the new name — retract it (readers simply stop
          // reporting an ordering; never a wrong answer)
          if (PjSortMarker.read(fs, rootPath)
              .exists(_.exists(_.equalsIgnoreCase(name))))
            PjSortMarker.delete(fs, rootPath)
          StructType(acc.fields.updated(i, old.copy(
            name = newName,
            metadata = PjColumnMapping.withPhysical(
              old.metadata, PjColumnMapping.physicalName(old)))))
        case other =>
          throw new UnsupportedOperationException(
            s"$catalogName: unsupported ALTER TABLE change $other " +
              "(only ALTER COLUMN ... TYPE widening, RENAME COLUMN, ADD COLUMN, " +
              "and DROP COLUMN)")
      }
    }
    // EXCLUSIVE against the probed snapshot: data-dependent validations
    // above (SET NOT NULL's null probe, the generated-column and
    // physical-name guards) read table state at `snap.version` — a writer
    // landing between the probe and this commit could insert rows the
    // validation never saw (NULLs under a fresh NOT NULL), silently
    // breaking the contract readers then trust. Any winner conflicts
    // loudly; the user retries the DDL against the new state.
    PjCommitLog.commit(fs, rootPath, "alter-schema", Nil, Set.empty,
      Some(next.json), Some("alter"),
      readVersion = Some(snap.version), exclusive = true,
      // id mode: the maxColumnId high-water mark rides the same commit
      propertyCas =
        if (assignedMaxId == baseMaxId) None
        else Some((Map(PjTableProperties.ColumnMappingMaxId -> assignedMaxId.toString),
          Set.empty[String],
          Map(PjTableProperties.ColumnMappingMaxId ->
            tablePropsForIds.get(PjTableProperties.ColumnMappingMaxId)))))
    loadTable(ident)
  }

  /** `ALTER TABLE ... ADD/DROP CONSTRAINT` — a metadata-only commit to the
    * recorded constraint list. Only ENFORCED CHECK constraints are
    * accepted ([[PjConstraints]] documents why); the predicate must
    * resolve against the table's schema NOW (a typo fails the DDL, not
    * the next write), and ADD validates the EXISTING rows in one
    * distributed scan (Delta `ADD CONSTRAINT` semantics: a constraint
    * that current data already violates refuses with the violation
    * count).
    */
  private def alterConstraints(
      ident: Identifier, path: String, spark: org.apache.spark.sql.SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, rootPath: org.apache.hadoop.fs.Path,
      snap: PjCommitLog.Snapshot, changes: Seq[TableChange]): Table = {
    var specs = PjConstraints.parse(snap.constraintsJson)
    changes.foreach {
      case a: TableChange.AddConstraint =>
        a.constraint() match {
          case chk: org.apache.spark.sql.connector.catalog.constraints.Check =>
            if (!chk.enforced)
              throw new PJException(
                s"$catalogName: NOT ENFORCED constraints are not supported — " +
                  "an unenforced CHECK would be a recorded lie")
            val name = chk.name()
            if (specs.exists(_.name.equalsIgnoreCase(name)))
              throw new PJException(
                s"$catalogName: constraint '$name' already exists on '$path'")
            val sql = Option(chk.predicateSql()).filter(_.nonEmpty).getOrElse(
              throw new PJException(
                s"$catalogName: CHECK constraint '$name' has no predicate SQL"))
            // resolve the predicate against the CURRENT schema (typo →
            // loud DDL failure) and validate existing rows distributed.
            // A row violates iff the predicate is definitively FALSE —
            // NULL passes, matching Spark's own write-time CheckInvariant
            // (ANSI CHECK semantics), so ADD-time and write-time can
            // never disagree about the same row.
            val t = spark.read.format("pjparquet").load(path)
            val violations =
              try t.filter(s"(($sql) <=> FALSE)").count()
              catch {
                case e: org.apache.spark.sql.AnalysisException =>
                  throw new PJException(
                    s"$catalogName: CHECK constraint '$name' does not resolve " +
                      s"against '$path': ${e.getMessage}")
              }
            if (violations > 0)
              throw new PJException(
                s"$catalogName: cannot add CHECK constraint '$name' — $violations " +
                  s"existing row(s) violate ($sql)")
            specs = specs :+ PjConstraints.Spec(name, sql)
          case other =>
            throw new PJException(
              s"$catalogName: only CHECK constraints are supported " +
                s"(got ${other.getClass.getSimpleName}); PRIMARY KEY/UNIQUE/" +
                "FOREIGN KEY cannot be enforced on write at scale")
        }
      case d: TableChange.DropConstraint =>
        val i = specs.indexWhere(_.name.equalsIgnoreCase(d.name()))
        if (i < 0) {
          if (!d.ifExists())
            throw new PJException(
              s"$catalogName: no constraint '${d.name()}' on '$path'")
        } else specs = specs.patch(i, Nil, 1)
      case other =>
        throw new UnsupportedOperationException(
          s"$catalogName: unsupported constraint change $other")
    }
    PjCommitLog.commit(fs, rootPath, "alter-constraint", Nil, Set.empty,
      None, Some("alter"), constraintsJson = Some(PjConstraints.render(specs)))
    loadTable(ident)
  }

  /** `ALTER TABLE ... SET/UNSET TBLPROPERTIES` — a metadata-only commit
    * to the recorded property map ([[PjTableProperties]]): reserved
    * `pj.*` keys are validated NOW (typo or bad value fails the DDL, not
    * the next write), user-namespace keys round-trip untouched, and
    * UNSET of an absent key is a no-op (Delta semantics — SQL has no
    * IF EXISTS form here).
    */
  private def alterProperties(
      ident: Identifier, path: String,
      fs: org.apache.hadoop.fs.FileSystem, rootPath: org.apache.hadoop.fs.Path,
      snap: PjCommitLog.Snapshot, changes: Seq[TableChange]): Table = {
    val props = PjTableProperties.parse(snap.propertiesJson)
    var sets = Map.empty[String, String]
    var removes = Set.empty[String]
    var expected = Map.empty[String, Option[String]]
    changes.foreach {
      case s: TableChange.SetProperty =>
        PjTableProperties.validate(s.property(), s.value())
        val key = PjTableProperties.canonicalKey(s.property())
        // PARTITION EVOLUTION rides this lane (Iceberg-style: the new
        // spec applies to FUTURE writes; existing files keep their
        // generation and scans align values by name) — guarded so an
        // evolution can never silently change what existing rows read
        if (key == PjTableProperties.PartitionColumns)
          validatePartitionEvolution(path, snap, s.value())
        // column-mapping mode is CREATE-time only: switching an existing
        // table to `id` would strand id-less files (reads by id would
        // null them), and leaving `id` would orphan the id pairing
        if (key == PjTableProperties.ColumnMappingMode &&
            !s.value().equalsIgnoreCase(props.getOrElse(key, "name")))
          throw new PJException(
            s"$catalogName: ${PjTableProperties.ColumnMappingMode} is fixed at " +
              s"CREATE TABLE (current: ${props.getOrElse(key, "name")})")
        sets += key -> s.value()
        expected += key -> props.get(key)
      case r: TableChange.RemoveProperty =>
        val key = PjTableProperties.canonicalKey(r.property())
        if (key == PjTableProperties.PartitionColumns &&
            snap.entries.exists(e => e.path.contains("=")))
          throw new PJException(
            s"$catalogName: cannot UNSET ${PjTableProperties.PartitionColumns} " +
              s"on '$path' — live files are partitioned; dropping the " +
              "partitioning requires rewriting the table")
        removes += key
        expected += key -> props.get(key)
      case other =>
        throw new UnsupportedOperationException(
          s"$catalogName: unsupported property change $other")
    }
    // property DELTA with per-key compare-and-set, merged onto the claim
    // loop's own predecessor read: racing commits' UNRELATED property
    // changes survive this statement, and a key whose value moved since
    // `snap` refuses as a conflict instead of silently losing the racing
    // update (the schema-evolution fuzzer's racing partition evolutions,
    // seed 10124)
    PjCommitLog.commit(fs, rootPath, "alter-properties", Nil, Set.empty,
      None, Some("alter"), propertyCas = Some((sets, removes, expected)))
    loadTable(ident)
  }

  /** Guard for `SET TBLPROPERTIES ('pj.partition.columns' = ...)` — the
    * partition-evolution surface. Sound evolutions only:
    *
    *  - every CURRENT partition column stays, with its type (dropping or
    *    retyping one would orphan existing directory values → rewrite);
    *  - an ADDED column must not physically exist in any live data file
    *    (its value for pre-evolution rows reads as NULL — fine for a new
    *    column, silently wrong if files carry real data for it);
    *  - entries without recorded column facts refuse conservatively.
    */
  private def validatePartitionEvolution(
      path: String, snap: PjCommitLog.Snapshot, newValue: String): Unit = {
    def fold(n: String) = n.toLowerCase(java.util.Locale.ROOT)
    val newSpec = PjTableProperties.parsePartitionSpec(newValue)
    val newByName = newSpec.map { case (n, t) => fold(n) -> t }.toMap
    // current partitioning: declared if recorded, else derived from the
    // live files' directory keys (path-based tables evolve too)
    val declared = PjTableProperties.partitionColumns(snap.propertiesJson)
    val currentCols: Seq[String] =
      if (declared.nonEmpty) declared.map(_._1)
      else snap.entries.headOption.toSeq.flatMap(e =>
        e.path.split('/').dropRight(1).toSeq
          .flatMap(_.split("=", 2) match {
            case Array(k, _) if k.nonEmpty => Some(k)
            case _ => None
          }))
    currentCols.foreach { c =>
      if (!newByName.contains(fold(c)))
        throw new PJException(
          s"$catalogName: partition evolution on '$path' drops current " +
            s"partition column '$c' — removing a partition column requires " +
            "rewriting the table")
      declared.find(d => fold(d._1) == fold(c)).foreach { case (_, t) =>
        if (newByName(fold(c)) != t)
          throw new PJException(
            s"$catalogName: partition evolution on '$path' changes the type " +
              s"of partition column '$c' — retyping requires rewriting the table")
      }
    }
    val currentSet = currentCols.map(fold).toSet
    val added = newSpec.map(_._1).filterNot(n => currentSet.contains(fold(n)))
    if (added.nonEmpty) {
      snap.entries.foreach { e =>
        val cols = e.cols.getOrElse(throw new PJException(
          s"$catalogName: partition evolution on '$path' needs log-recorded " +
            s"column facts on every live file (file '${e.path}' has none) — " +
            "rewrite or compact the table once"))
        val present = added.filter(a => cols.exists(c => fold(c) == fold(a)))
        if (present.nonEmpty)
          throw new PJException(
            s"$catalogName: partition evolution on '$path' adds column(s) " +
              s"${present.mkString(", ")} that live file '${e.path}' stores as " +
              "DATA — its rows would silently read NULL; rewrite the table " +
              "into the new layout instead")
      }
    }
  }

  /** `CALL pj.system.<proc>(...)` — SQL-scriptable table maintenance
    * (vacuum / retention / compaction / OPTIMIZE ZORDER / index + bloom
    * fleet builds / checkpoint / DESCRIBE-HISTORY rows); see
    * [[PjProcedures]].
    */
  override def loadProcedure(
      ident: Identifier): org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    PjProcedures.load(catalogName, ident)

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(Array("system")))
      PjProcedures.Names.map(n => Identifier.of(Array("system"), n)).toArray
    else Array.empty

  /** `DROP TABLE pj.`/path`` — deletes the table directory. Guarded: only
    * a directory that actually IS a pjparquet table (a commit log, or at
    * least one parquet data file) deletes; anything else refuses rather
    * than recursively removing an arbitrary path.
    */
  override def dropTable(ident: Identifier): Boolean = {
    val path = pathOf(ident)
    val rootPath = new org.apache.hadoop.fs.Path(path)
    val fs = rootPath.getFileSystem(
      org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf())
    if (!fs.exists(rootPath)) return false
    val isTable = PjCommitLog.isEnabled(fs, rootPath) || {
      val it = fs.listFiles(rootPath, true)
      var found = false
      while (!found && it.hasNext) {
        val n = it.next().getPath.getName
        found = n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
      }
      found
    }
    if (!isTable)
      throw new PJException(
        s"$catalogName: '$path' is not a pjparquet table (no commit log or " +
          "parquet data); refusing to delete the directory")
    val deleted = fs.delete(rootPath, true)
    PjCommitLog.clearSnapshotCache()
    PjParquetTable.clearLayoutCache()
    deleted
  }

  /** Named tables rename by ONE directory move (sidecars, log, DVs all
    * live inside the root, so the move carries the whole table); path
    * identifiers keep the historical refusal — renaming `/a` to `/b` is
    * an FS operation the user should do deliberately.
    */
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (oldIdent.namespace().isEmpty || newIdent.namespace().isEmpty)
      throw new UnsupportedOperationException(
        s"$catalogName: rename a path-addressed pjparquet table by moving its directory")
    val src = new org.apache.hadoop.fs.Path(pathOf(oldIdent))
    val dst = new org.apache.hadoop.fs.Path(pathOf(newIdent))
    val fs = src.getFileSystem(
      org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf())
    if (!fs.exists(src))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(oldIdent)
    if (fs.exists(dst))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(newIdent)
    if (!fs.exists(dst.getParent))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(
        newIdent.namespace())
    if (!fs.rename(src, dst))
      throw new PJException(
        s"$catalogName: could not rename '$src' to '$dst'")
    // TOCTOU repair: a racing writer can recreate `dst` (an aborted
    // task's mkdirs) between the exists check above and the rename —
    // Hadoop rename then moves the table INSIDE that husk
    // (dst/<srcName>) instead of failing. Detect, unwind the table back
    // to src, and refuse as a concurrency conflict so callers retry
    // (found by the maintenance-lane concurrency fuzzer, seed window
    // 20000).
    val nested = new org.apache.hadoop.fs.Path(dst, src.getName)
    if (fs.exists(nested) && PjCommitLog.isEnabled(fs, nested)) {
      if (!fs.rename(nested, src))
        throw new PJException(
          s"$catalogName: rename raced a writer recreating '$dst' and the " +
            s"table landed nested at '$nested' — manual unwind required")
      throw new PJException(
        s"$catalogName: rename to '$dst' raced a concurrent writer " +
          s"recreating the destination; the table was restored at '$src' — " +
          "retry the rename")
    }
    PjCommitLog.clearSnapshotCache()
    PjParquetTable.clearLayoutCache()
  }

  // ------------------------------------------------- atomic CTAS / RTAS

  /** Atomic `CREATE TABLE ... AS SELECT`: the whole table — log, data,
    * sidecars — materializes at a hidden sibling path
    * (`.<name>.ctas_tmp_<uuid>`, invisible to listings) and publishes by
    * ONE directory rename. A failed query aborts by deleting the staging
    * dir; the final path never holds a partial table.
    */
  override def stageCreate(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    val (finalPath, fs) = pathAndFs(ident)
    if (existsAsTable(fs, finalPath))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
        Seq(catalogName, ident.name()))
    stage(ident, finalPath, fs, schema, partitions, properties, replace = false)
  }

  override def stageCreate(
      ident: Identifier,
      columns: Array[org.apache.spark.sql.connector.catalog.Column],
      partitions: Array[Transform],
      properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable =
    stageCreate(ident, schemaOf(columns), partitions, properties)

  /** Atomic `REPLACE TABLE ... AS SELECT` on a commit-log table: staged
    * files move into the target dir under job-unique names (invisible —
    * the snapshot does not list them) and ONE exclusive `replace` commit
    * retires every current entry while adding the staged ones with the new
    * schema and properties. Readers flip atomically; the PREVIOUS
    * generation stays time-travelable until expiry (Delta's REPLACE
    * semantics). A plain non-logged directory refuses — run
    * `CALL pj.system.convert` first.
    */
  override def stageReplace(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    val (finalPath, fs) = pathAndFs(ident)
    if (!existsAsTable(fs, finalPath))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        Seq(catalogName, ident.name()))
    requireLoggedForReplace(fs, finalPath)
    stage(ident, finalPath, fs, schema, partitions, properties, replace = true)
  }

  override def stageReplace(
      ident: Identifier,
      columns: Array[org.apache.spark.sql.connector.catalog.Column],
      partitions: Array[Transform],
      properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable =
    stageReplace(ident, schemaOf(columns), partitions, properties)

  override def stageCreateOrReplace(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    val (finalPath, fs) = pathAndFs(ident)
    val replace = existsAsTable(fs, finalPath)
    if (replace) requireLoggedForReplace(fs, finalPath)
    stage(ident, finalPath, fs, schema, partitions, properties, replace = replace)
  }

  override def stageCreateOrReplace(
      ident: Identifier,
      columns: Array[org.apache.spark.sql.connector.catalog.Column],
      partitions: Array[Transform],
      properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable =
    stageCreateOrReplace(ident, schemaOf(columns), partitions, properties)

  private def pathAndFs(ident: Identifier)
      : (String, org.apache.hadoop.fs.FileSystem) = {
    val path = pathOf(ident)
    (path, new org.apache.hadoop.fs.Path(path).getFileSystem(
      org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf()))
  }

  private def existsAsTable(
      fs: org.apache.hadoop.fs.FileSystem, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    PjCommitLog.isEnabled(fs, p) || (fs.exists(p) && fs.listStatus(p).nonEmpty)
  }

  private def requireLoggedForReplace(
      fs: org.apache.hadoop.fs.FileSystem, path: String): Unit =
    if (!PjCommitLog.isEnabled(fs, new org.apache.hadoop.fs.Path(path)))
      throw new PJException(
        s"$catalogName: REPLACE TABLE needs a commit-log table at '$path' " +
          "(the atomic flip is one log commit) — CALL pj.system.convert to " +
          "adopt the plain directory first")

  private def stage(
      ident: Identifier,
      finalPath: String,
      fs: org.apache.hadoop.fs.FileSystem,
      schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String],
      replace: Boolean): org.apache.spark.sql.connector.catalog.StagedTable = {
    val finalRoot = new org.apache.hadoop.fs.Path(finalPath)
    val parent = Option(finalRoot.getParent).getOrElse(
      throw new PJException(s"$catalogName: cannot stage at filesystem root '$finalPath'"))
    fs.mkdirs(parent)
    val staging = new org.apache.hadoop.fs.Path(parent,
      s".${finalRoot.getName}.ctas_tmp_${java.util.UUID.randomUUID().toString.take(8)}")
    // the staged table is an ordinary pjparquet table at the hidden path:
    // schema commit now, the CTAS query's data commit next, publish last
    createAt(staging.toString, ident, schema, partitions, properties)
    val baseVersion: Option[Long] =
      if (replace) PjCommitLog.latest(fs, finalRoot).map(_.version) else None
    new PjStagedTable(this, catalogName, ident, fs, staging, finalRoot, replace,
      baseVersion)
  }

  private[pjparquet] def stagedLoad(path: String): Table =
    resolve(Identifier.of(Array.empty, path))
}

/** The table handed to Spark's atomic CTAS/RTAS exec nodes: an ordinary
  * [[PjParquetTable]] rooted at the hidden staging path, plus the publish /
  * abort protocol.
  */
private[pjparquet] final class PjStagedTable(
    catalog: PjCatalog,
    catalogName: String,
    ident: Identifier,
    fs: org.apache.hadoop.fs.FileSystem,
    staging: org.apache.hadoop.fs.Path,
    finalRoot: org.apache.hadoop.fs.Path,
    replace: Boolean,
    /** REPLACE: the target head when staging began — the flip commits
      * exclusively against it, so a concurrent writer conflicts loudly
      * instead of being silently erased.
      */
    baseVersion: Option[Long])
    extends org.apache.spark.sql.connector.catalog.StagedTable
    with org.apache.spark.sql.connector.catalog.SupportsWrite {

  private val underlying: Table = catalog.stagedLoad(staging.toString)

  override def name(): String = s"$catalogName.${ident.name()}"
  override def schema(): StructType = underlying.schema()
  override def partitioning(): Array[Transform] = underlying.partitioning()
  override def properties(): util.Map[String, String] = underlying.properties()
  override def capabilities(): util.Set[org.apache.spark.sql.connector.catalog.TableCapability] =
    underlying.capabilities()

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    underlying.asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsWrite]
      .newWriteBuilder(info)

  override def commitStagedChanges(): Unit = {
    if (!replace) {
      // CREATE: one directory rename publishes the whole table
      if (PjCommitLog.isEnabled(fs, finalRoot) ||
          (fs.exists(finalRoot) && fs.listStatus(finalRoot).nonEmpty)) {
        abortStagedChanges()
        throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
          Seq(catalogName, ident.name()))
      }
      fs.delete(finalRoot, false) // empty placeholder dir blocks rename
      if (!fs.rename(staging, finalRoot)) {
        abortStagedChanges()
        throw new PJException(
          s"$catalogName: cannot publish staged table at '$finalRoot' " +
            "(concurrent create?)")
      }
    } else {
      // REPLACE: move the staged generation's files in (invisible until
      // committed — the target snapshot does not list them), then flip
      // with ONE exclusive commit carrying the new schema + properties
      val staged = PjCommitLog.latest(fs, staging).getOrElse(
        throw new PJException(s"$catalogName: staged table at '$staging' has no log"))
      // move each staged file (+ sidecars) under its rel path — one Spark
      // job above the threshold, so a million-file replace is one wave of
      // parallel renames, not a sequential driver loop
      val rels = staged.entries.map(_.path)
      val session = org.apache.spark.sql.SparkSession.getActiveSession
      val stagingStr = staging.toString
      val finalStr = finalRoot.toString
      if (rels.size >= PjStagedTable.ParallelMoveMinFiles && session.isDefined) {
        PjStagedTable.distributedMoves.incrementAndGet()
        val shipped = PjHadoopConf.ship(session.get)
        session.get.sparkContext
          .parallelize(rels, math.min(rels.size, 512))
          .foreachPartition { it =>
            val mfs = new org.apache.hadoop.fs.Path(stagingStr).getFileSystem(shipped.newConf())
            it.foreach(PjStagedTable.moveStagedFile(mfs, stagingStr, finalStr, _))
          }
      } else rels.foreach(rel =>
        PjStagedTable.moveStagedFile(fs, stagingStr, finalStr, rel))
      val prevEntries = PjCommitLog.latest(fs, finalRoot).toSeq.flatMap(_.entries)
      // staged row-id ranges were minted from the STAGING watermark; strip
      // them so the target commit re-mints from its own (no recycled ids)
      val adds = staged.entries.map(_.copy(baseRowId = -1L))
      try PjCommitLog.commit(fs, finalRoot, "replace",
        add = adds,
        remove = prevEntries.map(_.path).toSet,
        dataSchemaJson = staged.dataSchemaJson,
        operation = Some("REPLACE TABLE"),
        readVersion = baseVersion,
        propertiesJson = Some(staged.propertiesJson.getOrElse("{}")),
        exclusive = true)
      catch {
        case e: Throwable =>
          // the exclusive flip lost (concurrent writer): the moved files
          // were never committed — best-effort delete them from the
          // target instead of leaving orphans for vacuum (their rel
          // paths are exactly the staged entry list)
          try rels.foreach { rel =>
            PjBatchWrite.deleteWithSidecars(
              fs, new org.apache.hadoop.fs.Path(finalRoot, rel))
          } catch { case scala.util.control.NonFatal(_) => /* vacuum reclaims */ }
          throw e
      }
      fs.delete(staging, true)
    }
    PjCommitLog.clearSnapshotCache()
    PjParquetTable.clearLayoutCache()
  }

  override def abortStagedChanges(): Unit = {
    fs.delete(staging, true)
    PjCommitLog.clearSnapshotCache()
    PjParquetTable.clearLayoutCache()
  }
}

private[sources] object PjStagedTable {

  /** Staged-file count at/above which the RTAS move runs as one Spark job
    * (one rename wave across the cluster instead of a sequential driver
    * loop — the difference between seconds and hours at a million files).
    */
  private[pjparquet] val ParallelMoveMinFiles = 64

  /** Observability/spec counter: staged moves that ran distributed. */
  private[sources] val distributedMoves = new java.util.concurrent.atomic.AtomicLong

  /** Move one staged data file (+ `.index`/`.bloom` sidecars) under its
    * table-relative path. Self-contained (strings only) so the
    * distributed lane ships no table state.
    */
  private[pjparquet] def moveStagedFile(
      mfs: org.apache.hadoop.fs.FileSystem,
      stagingStr: String, finalStr: String, rel: String): Unit = {
    val src = new org.apache.hadoop.fs.Path(stagingStr, rel)
    val dst = new org.apache.hadoop.fs.Path(finalStr, rel)
    mfs.mkdirs(dst.getParent)
    if (!mfs.rename(src, dst))
      throw new PJException(
        s"pjparquet: cannot move staged file '$src' into '$finalStr'")
    val sideSrc = PjParquetTable.hiddenSidecar(src)
    if (mfs.exists(sideSrc))
      mfs.rename(sideSrc, PjParquetTable.hiddenSidecar(dst))
    val bloomSrc = new org.apache.hadoop.fs.Path(
      src.getParent, s".${src.getName}.bloom")
    if (mfs.exists(bloomSrc))
      mfs.rename(bloomSrc, new org.apache.hadoop.fs.Path(
        dst.getParent, s".${dst.getName}.bloom"))
  }
}
