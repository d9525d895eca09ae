package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.sources.pjparquet.{PjInputPartition, PjWriter}

/** Nested-schema planning via the PJ_3 subtree-offset extension: the PJ_2
  * compat format indexes FLAT schemas only (reference restriction,
  * `palletjack.cc:266-279,483-487`), so nested files get a PJ_3 index —
  * same section layout, "column" = top-level subtree — and plan with
  * SPLICED footers like flat files: schema from the index, row-group
  * pruning, and top-level-subtree column pruning, with zero full footer
  * parses at read time.
  */
class PjNestedSchemaSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Nested fixture: struct + array columns, multiple row groups. */
  private lazy val nestedDir: String = {
    val d = java.nio.file.Files.createTempDirectory("pj_nested").toString
    spark.range(2000).select(
      $"id",
      struct(($"id" % 7).as("a"), concat(lit("v-"), $"id").as("b")).as("meta"),
      array($"id", $"id" * 2).as("pair"))
      .coalesce(1)
      .write.mode("overwrite")
      .option("parquet.block.size", "4096") // force several row groups
      .parquet(d)
    d
  }

  private lazy val flatDir: String = {
    val d = java.nio.file.Files.createTempDirectory("pj_nested_flat").toString
    PjWriter.writeWithIndex(spark.range(100).select($"id", ($"id" % 5).as("k")), d)
    d
  }

  /** Every split ships a footer cut down to exactly its own row groups —
    * a whole-file raw footer would carry every block of the file.
    */
  private def spliced(parts: Seq[PjInputPartition]): Boolean =
    parts.nonEmpty && parts.forall { p =>
      graft.core.PalletJack.materialize(p.prunedFooter).getBlocks.size == p.rowGroups.length
    }

  private def scanPartitions(df: DataFrame): Seq[PjInputPartition] = {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
        .flatMap(_.partitions.flatten)
        .collect { case p: PjInputPartition => p }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("nested file reads via pjparquet and matches stock parquet") {
    val pj = spark.read.format("pjparquet").load(nestedDir)
    val stock = spark.read.parquet(nestedDir)
    assert(pj.schema == stock.schema, "schema must come from the PJ_3 index")
    val a = pj.select($"id", $"meta.a", $"meta.b", element_at($"pair", 2).as("p2"))
      .filter($"meta.a" === 3)
    val b = stock.select($"id", $"meta.a", $"meta.b", element_at($"pair", 2).as("p2"))
      .filter($"meta.a" === 3)
    assert(a.collect().sortBy(_.getLong(0)).toSeq == b.collect().sortBy(_.getLong(0)).toSeq)
    assert(pj.count() == 2000)
  }

  test("nested splits are SPLICED (no raw footers), with top-level subtree pruning") {
    val nested = scanPartitions(spark.read.format("pjparquet").load(nestedDir).select($"id"))
    assert(spliced(nested),
      "nested files must plan as spliced PJ_3 splits, never raw footers")
    // the spliced footer of an id-only projection carries ONLY the id
    // subtree — the wide struct and the array are gone from the metadata
    val pruned = graft.core.PalletJack.materialize(nested.head.prunedFooter)
    val names = {
      import scala.jdk.CollectionConverters._
      pruned.getFileMetaData.getSchema.getFields.asScala.map(_.getName).toSeq
    }
    assert(names == Seq("id"), s"spliced schema must keep only the id subtree, got $names")
    // and every block's chunk list shrank to id's single leaf
    assert(pruned.getBlocks.get(0).getColumns.size == 1)
    // a full projection keeps all three subtrees (4 leaves: id, meta.a,
    // meta.b, pair.list.element)
    val full = scanPartitions(spark.read.format("pjparquet").load(nestedDir))
    val fullMeta = graft.core.PalletJack.materialize(full.head.prunedFooter)
    assert(fullMeta.getBlocks.get(0).getColumns.size == 4,
      "id + meta.a + meta.b + pair.element = 4 leaf chunks")
    // flat files in the same session keep PJ_2 spliced planning
    val flat = scanPartitions(spark.read.format("pjparquet").load(flatDir).select($"id"))
    assert(spliced(flat))
  }

  test("struct-only projection splices away the other subtrees and reads exactly") {
    val df = spark.read.format("pjparquet").load(nestedDir).select($"meta")
    val parts = scanPartitions(df)
    val pruned = graft.core.PalletJack.materialize(parts.head.prunedFooter)
    import scala.jdk.CollectionConverters._
    val names = pruned.getFileMetaData.getSchema.getFields.asScala.map(_.getName).toSeq
    assert(names == Seq("meta"), s"only the meta subtree may survive, got $names")
    assert(pruned.getBlocks.get(0).getColumns.size == 2, "meta has two leaves")
    val got = df.select(sum($"meta.a")).head().getLong(0)
    assert(got == (0L until 2000L).map(_ % 7).sum)
  }

  test("nested files keep row-group parallelism under maxPartitionBytes") {
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", "8192")
      val parts = scanPartitions(spark.read.format("pjparquet").load(nestedDir))
      assert(parts.size > 1, s"multi-row-group nested file must split, got ${parts.size}")
      val rgs = parts.flatMap(_.rowGroups.toSeq).sorted
      assert(rgs == rgs.distinct.sorted, "row groups must not be double-planned")
      // every split decodes only its own blocks: totals must add up exactly
      val total = spark.read.format("pjparquet").load(nestedDir).count()
      assert(total == 2000)
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }

  test("writing nested data through the pjparquet sink commits with a PJ_3 sidecar") {
    val d = java.nio.file.Files.createTempDirectory("pj_nested_write").toString
    spark.range(50).select(
      $"id", struct(($"id" * 3).as("x")).as("s"))
      .write.format("pjparquet").mode("overwrite").save(d)
    val back = spark.read.format("pjparquet").load(d)
    assert(back.select(sum($"s.x")).head().getLong(0) == (0L until 50L).map(_ * 3).sum)
    // nested files now carry PJ_3 index sidecars — planned without footer parses
    val fs = new org.apache.hadoop.fs.Path(d)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(d), true)
    val sidecars = scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.Path]
    while (it.hasNext) {
      val p = it.next().getPath
      if (p.getName.endsWith(".index")) sidecars += p
    }
    assert(sidecars.nonEmpty, "nested files must get PJ_3 index sidecars")
    val in = fs.open(sidecars.head)
    val magic = new Array[Byte](4)
    try in.readFully(0, magic) finally in.close()
    assert(new String(magic, "UTF-8") == "PJ_3", "nested sidecar must carry the PJ_3 magic")
  }

  test("partition-value pruning still applies to nested files") {
    val d = java.nio.file.Files.createTempDirectory("pj_nested_part").toString
    spark.range(100).select(
      ($"id" % 4).as("k"), struct($"id".as("v")).as("s"))
      .write.mode("overwrite").partitionBy("k").parquet(d)
    val pj = spark.read.format("pjparquet").load(d)
    val pruned = pj.filter($"k" === 2)
    assert(scanPartitions(pruned.select($"s.v")).size <
      scanPartitions(pj.select($"s.v")).size,
      "partition filter must prune nested files at planning time")
    assert(pruned.count() == 25)
    assert(pruned.select(sum($"s.v")).head().getLong(0) ==
      (0L until 100L).filter(_ % 4 == 2).sum)
  }

  test("chunk-stats pruning applies to a nested file's scalar top-level columns") {
    // id is a plain leaf at the top level even though siblings are nested:
    // its PJ_3 chunk stats are exactly the PJ_2 ones, so a provably-empty
    // range predicate must plan ZERO splits
    val none = spark.read.format("pjparquet").load(nestedDir).filter($"id" > 1000000L)
    assert(scanPartitions(none).isEmpty,
      "stats on a top-level leaf must prune all row groups of a nested file")
    assert(none.count() == 0)
    // and a GROUP column never lends its first leaf's stats: filters on
    // subfields keep files (re-evaluated above the scan, never pruned wrong)
    val sub = spark.read.format("pjparquet").load(nestedDir).filter($"meta.a" === 3)
    assert(sub.count() == 2000 / 7 + (if (2000 % 7 > 3) 1 else 0))
  }

  test("nested-FIELD pruning reaches the reader's requested schema") {
    // selecting one subfield must clip the struct below the top level in
    // the scan's read schema (Catalyst nested-schema pruning flows through
    // pruneColumns; the reader conf clips parquet leaves against it), so a
    // wide struct at 100 TB reads one leaf column, not the whole struct
    val df = spark.read.format("pjparquet").load(nestedDir).select($"meta.a")
    val scans = df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
    assert(scans.nonEmpty)
    val read = scans.head.scan.readSchema()
    val meta = read("meta").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(meta.fieldNames.toSeq == Seq("a"),
      s"struct must be clipped to the requested subfield, got $meta")
    assert(!read.fieldNames.contains("pair"), s"untouched columns must drop, got $read")
    assert(df.as[Long].collect().sorted.toSeq == (0L until 2000L).map(_ % 7).sorted)
  }
}
