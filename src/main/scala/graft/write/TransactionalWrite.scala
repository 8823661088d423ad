package graft.write

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.FileFormatWriter
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.meta.{DataFileInfo, TableInfo}

/** Physical file writer for Graft tables.
  *
  * Same single-shuffle shape as the reference
  * (`star/TransactionalWrite.scala:113-225`), executed through
  * `FileFormatWriter` with [[GraftCommitProtocol]] — the reference's
  * DelayedCommitProtocol pattern:
  *
  *  - PK (hash-partitioned) tables: `repartition(bucketNum, pk...)` (the ONE
  *    shuffle) puts the rows of bucket `k = pmod(hash(pk), bucketNum)` —
  *    exactly Spark's `HashPartitioning.partitionIdExpression` — into task
  *    partition `k`; `sortWithinPartitions(range..., pk...)` sorts them, so
  *    each task emits one PK-sorted file per range partition it holds, named
  *    with its bucket id. This runs as ONE job regardless of how many range
  *    partitions the batch touches (the dynamic-partition writer splits
  *    files on the range-column change), where a job-per-partition loop
  *    would serialize on the driver at scale.
  *  - Non-PK tables: Hive-style dynamic-partition write with the input's
  *    own partitioning (no shuffle).
  *
  * Tasks write parquet DIRECTLY to final table locations via Hadoop
  * `FileSystem` (no staging, no rename), collect footer stats executor-side
  * and ship `DataFileInfo` back in task-commit messages; only the metadata
  * commit makes files live. The driver never opens a data file.
  */
object TransactionalWrite extends org.apache.spark.internal.Logging {
  val HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"

  /** Write `df` into the table layout; returns uncommitted DataFileInfo. */
  def writeFiles(
      spark: SparkSession,
      tablePath: String,
      tableInfo: TableInfo,
      df: DataFrame,
      isBase: Boolean): Seq[DataFileInfo] = {
    val rangeCols = tableInfo.rangeColumns
    val hashCols = tableInfo.hashColumns
    val cols = df.columns.toSeq
    require(rangeCols.forall(cols.contains),
      s"missing range partition columns: ${rangeCols.filterNot(cols.contains)}")
    if (tableInfo.hasPrimaryKey) require(hashCols.forall(cols.contains),
      s"missing primary-key columns: ${hashCols.filterNot(cols.contains)}")

    // NOT NULL / CHECK invariants ride inside the write plan (codegen'd;
    // reference wires InvariantCheckerExec the same way at
    // star/TransactionalWrite.scala:161-172).
    val checked = graft.schema.Invariants.enforce(df, tableInfo)

    val arranged =
      if (tableInfo.hasPrimaryKey) {
        // bucket id == Spark partition id; range split happens inside the
        // write tasks (dynamic partitioning), not as a driver-side loop
        checked
          .repartition(tableInfo.bucketNum, hashCols.map(c => col(quote(c))): _*)
          .sortWithinPartitions((rangeCols ++ hashCols).map(c => col(quote(c))): _*)
      } else checked

    val statsEnabled = spark.conf.getOption("spark.graft.stats.enabled")
      .forall(_.toBoolean)
    val protocol = new GraftCommitProtocol(
      tablePath = tablePath,
      dataCols = cols.filterNot(rangeCols.contains),
      isBase = isBase,
      statsSchema = if (statsEnabled) tableInfo.dataSchema else new StructType(),
      bucketFromTaskId = tableInfo.hasPrimaryKey)

    executeWrite(spark, tablePath, arranged, rangeCols, protocol,
      bloomFilterConf(tableInfo))
    protocol.addedFiles
  }

  /** Table property declaring per-file parquet BLOOM FILTERS on the named
    * columns. Manifest min/max stats cannot skip anything for
    * high-cardinality columns whose values scatter across files (hash-ish
    * ids, uuids): every file's [min, max] spans the domain. A parquet
    * bloom filter answers "is this exact value possibly in this row
    * group?" instead, so pushed equality/IN filters skip row groups
    * regardless of value order — on a PK table this composes with bucket
    * pruning (1 of N files planned, then bloom-skipped row groups inside
    * it). Write-side only; the read side is free (Spark's parquet reader
    * consumes bloom filters for pushed predicates natively). */
  val BLOOM_PROPERTY = "graft.bloomFilter.columns"

  /** Expected distinct values per file for bloom sizing (optional; parquet
    * sizes by its max-bytes cap when unset). */
  val BLOOM_NDV_PROPERTY = "graft.bloomFilter.ndv"

  /** Hadoop conf entries enabling parquet bloom filters for the declared
    * columns. Unknown / range-partition columns are logged and ignored
    * (same convention as the declared-zOrderBy property: a stale property
    * must not fail every write). */
  private[graft] def bloomFilterConf(
      tableInfo: TableInfo): Map[String, String] = {
    val declared = tableInfo.configuration.collectFirst {
      case (k, v) if k.equalsIgnoreCase(BLOOM_PROPERTY) =>
        v.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    }.getOrElse(Nil)
    if (declared.isEmpty) return Map.empty
    // physical parquet columns only: range-partition values live in
    // directory names, not file content
    val dataFields = tableInfo.dataSchema.fields
      .map(f => f.name.toLowerCase -> f.name).toMap
    val rangeSet = tableInfo.rangeColumns.map(_.toLowerCase).toSet
    val (valid, invalid) = declared.partition(c =>
      dataFields.contains(c.toLowerCase) && !rangeSet.contains(c.toLowerCase))
    if (invalid.nonEmpty) {
      logWarning(s"ignoring $BLOOM_PROPERTY entries without a physical " +
        s"data column: ${invalid.mkString(", ")}")
    }
    val ndv = tableInfo.configuration.collectFirst {
      case (k, v) if k.equalsIgnoreCase(BLOOM_NDV_PROPERTY) => v.trim
    }.filter(_.nonEmpty)
    valid.flatMap { c =>
      val physical = dataFields(c.toLowerCase)
      Seq(s"parquet.bloom.filter.enabled#$physical" -> "true") ++
        ndv.map(n => s"parquet.bloom.filter.expected.ndv#$physical" -> n)
    }.toMap
  }

  /** One `FileFormatWriter` job with our delayed-commit protocol. */
  private def executeWrite(
      spark: SparkSession,
      tablePath: String,
      df: DataFrame,
      partitionCols: Seq[String],
      protocol: GraftCommitProtocol,
      extraHadoopConf: Map[String, String] = Map.empty): Unit = {
    val session = castToImpl(spark)
    val qe = castToImpl(df).queryExecution
    val outputCols = qe.analyzed.output
    val resolver = session.sessionState.conf.resolver
    val partitionAttrs = partitionCols.map { c =>
      outputCols.find(a => resolver(a.name, c)).getOrElse(
        sys.error(s"partition column $c not found in ${outputCols.map(_.name)}"))
    }
    val hadoopConf = session.sessionState.newHadoopConf()
    extraHadoopConf.foreach { case (k, v) => hadoopConf.set(k, v) }
    SQLExecution.withNewExecutionId(qe, Some("graft write")) {
      FileFormatWriter.write(
        sparkSession = session,
        plan = qe.executedPlan,
        fileFormat = new GraftParquetFileFormat(),
        committer = protocol,
        outputSpec =
          FileFormatWriter.OutputSpec(tablePath, Map.empty, outputCols),
        hadoopConf = hadoopConf,
        partitionColumns = partitionAttrs,
        bucketSpec = None,
        statsTrackers = Nil,
        options = Map("compression" -> "snappy"))
    }
  }

  private def quote(c: String): String = s"`$c`"

  /** Parquet format whose TIMESTAMP columns write as TIMESTAMP_MICROS
    * regardless of the session's `spark.sql.parquet.outputTimestampType`
    * (whose default is the legacy INT96): parquet readers cannot evaluate
    * predicates against INT96, so every timestamp filter on a
    * graft-written table silently lost row-group/page skipping —
    * `PushedFilters` stayed empty while `DataFilters` carried the
    * predicate. Micros is lossless for Spark timestamps (they ARE
    * microseconds), decodes as a plain 8-byte column instead of 12-byte
    * INT96, and restores stats/dictionary/bloom pushdown. prepareWrite
    * re-reads the session conf into the job conf, so the override must
    * land AFTER super. */
  private class GraftParquetFileFormat extends ParquetFileFormat {
    override def prepareWrite(
        sparkSession: org.apache.spark.sql.SparkSession,
        job: org.apache.hadoop.mapreduce.Job,
        options: Map[String, String],
        dataSchema: org.apache.spark.sql.types.StructType)
        : org.apache.spark.sql.execution.datasources.OutputWriterFactory = {
      val factory = super.prepareWrite(sparkSession, job, options, dataSchema)
      job.getConfiguration.set(
        org.apache.spark.sql.internal.SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key,
        "TIMESTAMP_MICROS")
      factory
    }
  }

  /** Local-FS recursive delete for DRIVER-LOCAL metadata files (MV json,
    * test scaffolding). Data paths go through [[GraftFs]]. */
  def deleteRecursively(p: Path): Unit = {
    if (Files.exists(p)) {
      val stream = Files.walk(p)
      try {
        stream.sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach(f => Files.deleteIfExists(f))
      } finally stream.close()
    }
  }
}
