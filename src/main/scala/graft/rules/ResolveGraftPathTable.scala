package graft.rules

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.meta.SnapshotManagement
import graft.sources.GraftTableV2

/** Resolves `graft.`/path/to/table`` in SQL to a Graft V2 relation
  * (reference path-table support, `sources/StarLakeDataSource.scala:148-198`).
  * Runs in the hint-resolution batch, ahead of `ResolveSQLOnFile`, which
  * rejects non-file V2 sources.
  */
case class ResolveGraftPathTable(spark: SparkSession) extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.plans.logical.{InsertIntoStatement, V2WriteCommand}

  private def graftPathParts(parts: Seq[String]): Boolean =
    parts.length == 2 && parts.head.equalsIgnoreCase("graft") &&
      SnapshotManagement.exists(parts(1))

  private def relationFor(parts: Seq[String]): DataSourceV2Relation =
    DataSourceV2Relation.create(
      new GraftTableV2(spark, SnapshotManagement.normalize(parts(1))),
      None, None, CaseInsensitiveStringMap.empty())

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsUp {
    case u @ UnresolvedRelation(parts, _, _) if graftPathParts(parts) =>
      relationFor(parts)
    // `df.writeTo("graft.`/path`")` and SQL `INSERT INTO graft.`/path``: a
    // write command's TABLE is a bare field, not a child, so the operator
    // traversal above never reaches it.
    case w: V2WriteCommand if !w.table.resolved =>
      w.table match {
        case UnresolvedRelation(parts, _, _) if graftPathParts(parts) =>
          w.withNewTable(relationFor(parts))
        case _ => w
      }
    case i: InsertIntoStatement if !i.table.resolved =>
      i.table match {
        case UnresolvedRelation(parts, _, _) if graftPathParts(parts) =>
          i.copy(table = relationFor(parts))
        case _ => i
      }
  }
}
