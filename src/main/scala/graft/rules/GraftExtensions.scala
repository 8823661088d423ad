package graft.rules

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, SortOrder}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning, SinglePartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.vectorized.ColumnarBatch

import graft.sources.GraftPkScan

/** Session extension wiring for the Graft engine (reference
  * `com/engineplus/star/sql/StarSparkSessionExtension.scala:74-118`).
  * Enable with:
  * `spark.sql.extensions=graft.rules.GraftSparkSessionExtension`.
  */
class GraftSparkSessionExtension extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectQueryPostPlannerStrategyRule(DeclareBucketDistribution(_))
    ext.injectHintResolutionRule(ResolveGraftPathTable(_))
    ext.injectResolutionRule(TagWriteAlignment(_))
    ext.injectResolutionRule(RewriteSetOpOnPk(_))
    ext.injectResolutionRule(ExtractMergeOperator(_))
    ext.injectResolutionRule(graft.mv.RewriteQueryByMaterialView(_))
    ext.injectResolutionRule(ResolveGraftUpdate(_))
    ext.injectResolutionRule(ResolveGraftDelete(_))
    ext.injectResolutionRule(ResolveGraftMerge(_))
    ext.injectOptimizerRule(OptimizeMetadataOnlyCount(_))
    GraftMergeOpMarker.functionInjections.foreach(ext.injectFunction)
    ext.injectTableFunction(GraftTableFunctions.tableChanges)
    ext.injectTableFunction(GraftTableFunctions.tableHistory)
    ext.injectTableFunction(GraftTableFunctions.tableDetail)
    ext.injectTableFunction(GraftTableFunctions.tablePartitions)
    ext.injectCheckRule(_ => MergeOperatorMarkerCheck)
    // Note: the reference's StarLakeUnsupportedOperationsCheck (rejecting
    // ADD/DROP/RECOVER PARTITION, LOAD DATA, SerDe DDL) is unnecessary on
    // Spark 4 — the V2 analyzer rejects all of these natively for tables
    // that do not implement SupportsPartitionManagement / V1 fallbacks
    // (asserted by CatalogAndRulesSuite "unsupported Hive-style DDL").
  }
}

/** Records each V2 write's name-vs-position resolution mode into its write
  * options, where the `WriteIntoTable` command can see it. `ACCEPT_ANY_SCHEMA`
  * keeps Spark's `TableOutputResolver` from aligning the query to the table
  * (the engine owns casting/evolution), but that also discards the only
  * signal saying whether the user wrote BY NAME (`df.write.save`, INSERT
  * with a column list) or BY POSITION (plain SQL `INSERT INTO`): a
  * full-arity DataFrame append whose column names all differ from the
  * table's must be a schema-mismatch error, while the same shape arriving
  * from `INSERT INTO t VALUES ...` (synthetic `col1..colN` names) must
  * align positionally (reference `StarLakeAnalysis.scala:43-147` makes the
  * same split on the pre-conversion plan).
  */
case class TagWriteAlignment(spark: SparkSession)
  extends Rule[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
  import org.apache.spark.sql.catalyst.plans.logical.{AppendData, CreateTableAsSelect, LogicalPlan, OverwriteByExpression, ReplaceTableAsSelect}
  import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

  private val BY_NAME = graft.commands.WriteIntoTable.BY_NAME

  private def isGraft(rel: org.apache.spark.sql.catalyst.analysis.NamedRelation): Boolean =
    rel match {
      case r: DataSourceV2Relation => r.table.isInstanceOf[graft.sources.GraftTableV2]
      case _ => false
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
    case a: AppendData
        if isGraft(a.table) && !a.writeOptions.contains(BY_NAME) =>
      a.copy(writeOptions = a.writeOptions + (BY_NAME -> a.isByName.toString))
    case o: OverwriteByExpression
        if isGraft(o.table) && !o.writeOptions.contains(BY_NAME) =>
      o.copy(writeOptions = o.writeOptions + (BY_NAME -> o.isByName.toString))
    // CTAS / RTAS: the created table's columns ARE the query's, so the data
    // load is by name. Without the tag, the exec's nested by-position
    // AppendData would positionally rename the query to the table's READ
    // order (range-partition columns last) and misplace values whenever a
    // partition column isn't declared last.
    case c: CreateTableAsSelect
        if c.tableSpec.provider.exists(_.equalsIgnoreCase("graft")) &&
          !c.writeOptions.contains(BY_NAME) =>
      c.copy(writeOptions = c.writeOptions + (BY_NAME -> "true"))
    case r: ReplaceTableAsSelect
        if r.tableSpec.provider.exists(_.equalsIgnoreCase("graft")) &&
          !r.writeOptions.contains(BY_NAME) =>
      r.copy(writeOptions = r.writeOptions + (BY_NAME -> "true"))
  }
}

/** Declares what the storage layout guarantees so Catalyst can elide
  * exchanges and sorts (reference `SetPartitionAndOrdering.scala:34-165`).
  *
  * An unpruned `GraftPkScan` produces exactly `bucketNum` partitions where
  * partition k contains precisely the rows with
  * `pmod(hash(pk), bucketNum) == k` — the write path repartitioned by the
  * same expression Spark's `HashPartitioning.partitionIdExpression` uses.
  * So a join or aggregation keyed on the PK needs NO shuffle: this rule
  * runs after planning, before `EnsureRequirements`, and wraps the scan in
  * a node declaring `HashPartitioning(pk, bucketNum)`. A scan whose keys
  * pin one bucket plans one partition and declares `SinglePartition`; one
  * pinned to several buckets declares nothing. When the scanned data is a
  * single range partition the PK sort order of the files (or of the merge
  * reader's output) is declared too, letting sort-merge join skip its
  * sorts.
  *
  * `HashPartitioning` must never be declared on a scan whose partition
  * index is not its bucket id: `EnsureRequirements` then drops the
  * `repartition(bucketNum, pk)` of a PK write fed by the scan, and the
  * commit protocol takes each file's bucket from its task's partition id.
  */
case class DeclareBucketDistribution(spark: SparkSession) extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case scan: BatchScanExec if scan.scan.isInstanceOf[GraftPkScan] =>
      val pk = scan.scan.asInstanceOf[GraftPkScan]
      val byName = scan.output.map(a => a.name -> a).toMap
      val pkAttrs = pk.tableInfo.hashColumns.flatMap(byName.get)
      val allPk = pkAttrs.length == pk.tableInfo.hashColumns.length
      val ordering =
        if (allPk && pk.files.map(_.rangeKey).distinct.length <= 1)
          pkAttrs.map(a => SortOrder(a, Ascending, Seq.empty))
        else Nil
      pk.plannedBuckets.map(_.size) match {
        case None if allPk => GraftClusteredExec(scan,
          HashPartitioning(pkAttrs, pk.tableInfo.bucketNum), ordering)
        case Some(1) => GraftClusteredExec(scan, SinglePartition, ordering)
        case _ => scan
      }
  }
}

/** Pass-through node that only declares partitioning/ordering (reference
  * `SetPartitionAndOrdering.scala:144-165` `withPartitionAndOrdering`). */
case class GraftClusteredExec(
    child: SparkPlan,
    override val outputPartitioning: Partitioning,
    override val outputOrdering: Seq[SortOrder]) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def supportsColumnar: Boolean = child.supportsColumnar
  override protected def doExecute(): RDD[InternalRow] = child.execute()
  override protected def doExecuteColumnar(): RDD[ColumnarBatch] =
    child.executeColumnar()
  override protected def withNewChildInternal(newChild: SparkPlan): SparkPlan =
    copy(child = newChild)
}
