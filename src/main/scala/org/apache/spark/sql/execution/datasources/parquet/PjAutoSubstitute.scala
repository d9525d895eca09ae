package org.apache.spark.sql.execution.datasources.parquet

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Analyzer rule: rewrite stock parquet `LogicalRelation`s into `pjparquet`
  * DSv2 relations when every input file already has a `.index` sidecar
  * (SURVEY.md §7 "possible later nicety"). Running at analysis time means
  * the normal V2 pushdown batch (column pruning + filter pushdown) still
  * applies to the substituted scan.
  *
  * Conservative by design: fires only for non-streaming, catalog-less, flat
  * single-root parquet relations whose index-derived schema matches the
  * resolved one exactly; anything else is left untouched. Original output
  * attribute ids are preserved via an aliasing projection.
  */
class PjAutoSubstituteRule(spark: SparkSession) extends Rule[LogicalPlan] {

  private def eligibleTable(rel: HadoopFsRelation): Option[graft.sources.pjparquet.PjParquetTable] = {
    if (!rel.fileFormat.isInstanceOf[ParquetFileFormat]) return None
    // explicit opt-out: the ENGINE's own internal raw-parquet reads
    // (compaction generations, change-feed position resolution) depend on
    // the V1 `_metadata` struct the substituted V2 relation cannot serve —
    // they read with this option, and users can set it too
    if (rel.options.get("pjAutoSubstitute").exists(_.equalsIgnoreCase("false")))
      return None
    val roots = rel.location.rootPaths
    if (roots.size != 1) return None
    try {
      val conf = spark.sessionState.newHadoopConf()
      // autogen=false: substitute only when sidecars actually exist
      val layout = graft.sources.pjparquet.PjParquetTable.resolveFiles(
        roots.head.toString, conf, autogen = false)
      val table = new graft.sources.pjparquet.PjParquetTable(
        layout, new CaseInsensitiveStringMap(java.util.Map.of("path", roots.head.toString)))
      val tSchema = table.schema
      val rSchema = rel.schema
      val same = tSchema.length == rSchema.length &&
        tSchema.fields.zip(rSchema.fields).forall { case (a, b) =>
          a.name == b.name && a.dataType == b.dataType
        }
      if (same) Some(table) else None
    } catch {
      // absence of sidecars is the normal negative case — stay silent; a
      // corrupt or stale sidecar means the user EXPECTS index planning and
      // is silently not getting it, so say so
      case _: graft.sources.pjparquet.PjMissingSidecarException => None
      case e: graft.core.PJException =>
        logWarning(s"pjparquet auto-substitute disabled for '${roots.head}': ${e.getMessage}")
        None
      case _: Exception => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case lr: LogicalRelation
        if !lr.isStreaming && lr.catalogTable.isEmpty &&
          lr.relation.isInstanceOf[HadoopFsRelation] =>
      eligibleTable(lr.relation.asInstanceOf[HadoopFsRelation]) match {
        case Some(table) =>
          val v2 = DataSourceV2Relation.create(table, None, None)
          val byName = v2.output.map(a => a.name -> a).toMap
          if (lr.output.forall(o => byName.contains(o.name))) {
            val projection: Seq[NamedExpression] = lr.output.map { o =>
              Alias(byName(o.name), o.name)(exprId = o.exprId, qualifier = o.qualifier)
            }
            Project(projection, v2)
          } else lr
        case None => lr
      }
  }
}

/** `spark.sql.extensions=org.apache.spark.sql.execution.datasources.parquet.PjSparkExtensions`
  * (or `builder.withExtensions(new PjSparkExtensions)`).
  *
  * Besides the scan substitution rule and the one-split exchange removal
  * ([[graft.sources.pjparquet.PjSingleSplitExchange]]), registers the
  * library's codegen'd expressions as SQL functions so pure-SQL pipelines
  * reach them:
  * `pj_simhash64(array<string>)`, `pj_dot(array<double>, array<double>)`,
  * `pj_sorted_intersect_count(sorted array<bigint> × 2)`.
  */
class PjSparkExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

  private def fn(
      name: String,
      clazz: Class[_],
      arity: Int,
      build: Seq[Expression] => Expression) =
    (FunctionIdentifier(name),
      new ExpressionInfo(clazz.getName, name),
      (args: Seq[Expression]) => {
        if (args.length != arity) throw new IllegalArgumentException(
          s"$name expects $arity arguments, got ${args.length}")
        build(args)
      })

  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    ext.injectResolutionRule(spark => new PjAutoSubstituteRule(spark))
    // a read planning one split runs as one stage under a global
    // aggregate, limit or window (AQE only)
    ext.injectQueryStagePrepRule(_ => graft.sources.pjparquet.PjSingleSplitExchange)
    // Delta-parity maintenance SQL: OPTIMIZE ... [WHERE] [ZORDER BY (...)]
    // [FULL] and VACUUM ... [RETAIN n HOURS] [DRY RUN] over root paths —
    // sugar over the CALL pj.system.* procedures; everything else (and
    // every malformed claim) falls through to Spark's parser untouched
    ext.injectParser((_, delegate) =>
      new graft.sources.pjparquet.PjSqlParser(delegate))
    ext.injectFunction(fn("pj_simhash64", classOf[graft.functions.SimHash64], 1,
      args => graft.functions.SimHash64(args.head)))
    ext.injectFunction(fn("pj_dot", classOf[graft.functions.DoubleArrayDotProduct], 2,
      args => graft.functions.DoubleArrayDotProduct(args(0), args(1))))
    ext.injectFunction(fn("pj_sorted_intersect_count",
      classOf[graft.functions.SortedLongArrayIntersectCount], 2,
      args => graft.functions.SortedLongArrayIntersectCount(args(0), args(1))))
    // pj_hilbert_index(bits, c1, c2, ...): Hilbert distance of >= 2
    // pre-scaled bigint coordinates (graft.functions.HilbertCurve)
    ext.injectFunction((FunctionIdentifier("pj_hilbert_index"),
      new ExpressionInfo(classOf[graft.functions.HilbertIndex].getName, "pj_hilbert_index"),
      (args: Seq[Expression]) => {
        if (args.length < 3) throw new IllegalArgumentException(
          "pj_hilbert_index expects (bits, c1, c2, ...) with >= 2 coordinates")
        val bits = args.head match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"pj_hilbert_index: bits must be an integer literal, got $other")
        }
        graft.functions.HilbertIndex(args.tail, bits)
      }))
  }
}
