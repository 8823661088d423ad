package graft.sources

import java.util.OptionalLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, Literal, Murmur3Hash, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.datasources.{PartitionedFile, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.FileScanBuilder
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch

import graft.merge.GraftMergeOperator
import graft.meta.{DataFileInfo, Snapshot, TableInfo}

/** Scan builder for hash-partitioned (primary-key) tables. Reuses
  * `FileScanBuilder`'s catalyst pushdown machinery: partition filters prune
  * the manifest, column pruning shapes the parquet read, and data filters
  * referencing ONLY primary-key columns are pushed into the parquet readers
  * (safe under merge-on-read: all versions of a key share its PK values, so
  * key-level skipping can never resurrect an older version; the reference's
  * per-file pushdown is `MergeParquetPartitionReaderFactory.scala:~76-86`).
  * All data filters remain in the post-scan Filter node, so pushdown is
  * purely an IO optimization.
  */
class GraftBucketScanBuilder(
    spark: SparkSession,
    tablePath: String,
    snapshot: Snapshot,
    index: GraftFileIndex,
    options: CaseInsensitiveStringMap)
  extends FileScanBuilder(spark, index, snapshot.tableInfo.dataSchema) {

  private val pkSet = snapshot.tableInfo.hashColumns.toSet

  override def pushDataFilters(dataFilters: Array[Filter]): Array[Filter] =
    dataFilters.filter(_.references.forall(pkSet.contains))

  override def build(): Scan = {
    val ti = snapshot.tableInfo
    // Partition pruning against the manifest (metadata only, driver-side),
    // plus stats skipping for PK-column filters ONLY: a non-PK-column
    // filter must never drop a delta file, or merge-on-read would
    // resurrect the stale pre-image of an updated key (the post-scan
    // filter then matches the OLD value and returns a row that no longer
    // exists). PK values are version-invariant, so PK-range skipping
    // cannot split any surviving key's version stack.
    val pkDataFilters = dataFilters.filter(_.references.forall(a =>
      pkSet.contains(a.name)))
    val byPath = index.fileInfoByStatusPath
    val pruned: Seq[DataFileInfo] =
      index.listFiles(partitionFilters, pkDataFilters)
        .flatMap(_.files.map(fs => byPath(fs.getPath.toString)))
    // explicit scan option wins; otherwise the table's DECLARED operators
    // (graft.mergeOperators table property) apply, so plain reads honor
    // the table's own merge semantics
    val mergeOps = Option(options.get(GraftMergeOperator.SCAN_OPTION))
      .map(GraftMergeOperator.parseAssignments)
      .getOrElse(GraftMergeOperator.declaredOperators(ti))
    // bucket pruning: equality / IN conjuncts on every hash column pin the
    // buckets their keys hash to; the scan plans only those (a pin that
    // covers every bucket is no pin)
    val pinned = GraftPkScan.pinnedBuckets(ti, pushedDataFilters.toSeq)
      .filter(_.size < ti.bucketNum).map(_.toSeq.sorted)
    GraftPkScan(spark, tablePath, ti,
      pinned.fold(pruned)(bs => pruned.filter(f => bs.contains(f.bucket))),
      readDataSchema(), readPartitionSchema(), pushedDataFilters.toSeq, mergeOps,
      streamIgnoreChanges =
        Option(options.get("ignoreChanges")).exists(_.toBoolean),
      streamOptions = options.asCaseSensitiveMap().asScala.toMap,
      plannedBuckets = pinned)
  }
}

/** File group of one (range partition, bucket): all versions of the bucket's
  * data, oldest first. */
case class GraftFileGroup(files: Array[GraftFileDesc], partitionValues: UnsafeRow)

case class GraftFileDesc(
    absPath: String,
    length: Long,
    writeVersion: Long,
    isBase: Boolean,
    hasCols: Array[Boolean]) // per merged-layout field

/** One Spark partition == one planned bucket (files unsplittable, reference
  * `BucketParquetScan.scala:157-170` / `MergeParquetScan.scala:382-431`).
  * `bucket` is the bucket id, which equals the partition index only when
  * the scan plans every bucket. `groups` holds the bucket's file groups,
  * one per surviving range partition; rows within a group merge-read
  * PK-sorted.
  */
case class GraftPkInputPartition(bucket: Int, groups: Array[GraftFileGroup])
  extends InputPartition

/** Physical scan of a PK table.
  *
  * Plans one partition per bucket in `plannedBuckets`, in bucket order;
  * `None` plans all `bucketNum` buckets. Unpruned, partition k holds bucket
  * k's files — the row set of partition k is exactly
  * `pmod(hash(pk), bucketNum) == k` (guaranteed by the write path), which is
  * Spark's own `HashPartitioning.partitionIdExpression`. The post-planner
  * rule uses that to declare `HashPartitioning`/`SortOrder` and elide
  * exchanges/sorts on PK joins and aggregations
  * (reference `SetPartitionAndOrdering.scala:52-140`). A scan whose pushed
  * equality / IN conjuncts pin fewer buckets (reference `BucketParquetScan`)
  * plans only those, and `files` holds only their files.
  *
  * Fully compacted buckets stream parquet batches through unchanged
  * (columnar, whole-stage-codegen friendly); buckets with delta files run a
  * k-way heap merge ordered by (pk, writeVersion) with per-column merge
  * operators (reference `MergeMultiFileWithOperator.scala:135-192`).
  */
case class GraftPkScan(
    @transient sparkSession: SparkSession,
    tablePath: String,
    tableInfo: TableInfo,
    files: Seq[DataFileInfo],
    readDataSchema: StructType,
    readPartitionSchema: StructType,
    pushedPkFilters: Seq[Filter],
    mergeOperatorNames: Map[String, String],
    streamIgnoreChanges: Boolean = false,
    streamOptions: Map[String, String] = Map.empty,
    forceMergeLayout: Boolean = false,
    plannedBuckets: Option[Seq[Int]] = None)
  extends Scan with Batch with SupportsReportStatistics
  with SupportsRuntimeV2Filtering {

  /** Streaming read: PK delta files stream as the upsert records they are
    * (rows-as-written); see [[GraftMicroBatchStream]] for the semantics. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftMicroBatchStream(sparkSession, tablePath, tableInfo,
      readSchema(), streamIgnoreChanges, streamOptions)

  private def groupKey(f: DataFileInfo): (String, Int) = (f.rangeKey, f.bucket)

  /** A group needs merging unless it is a single deduplicated base file. */
  private def groupNeedsMerge(g: Seq[DataFileInfo]): Boolean =
    g.size > 1 || g.exists(!_.isBase)

  /** `forceMergeLayout` pins the merge-capable row layout regardless of the
    * file list — the streaming initial snapshot builds its reader factory
    * batch-independently (before any files are chosen) and must match the
    * layout its per-batch merge partitions are planned against. */
  lazy val scanNeedsMerge: Boolean = forceMergeLayout ||
    files.groupBy(groupKey).values.exists(groupNeedsMerge)

  /** Columns physically read from files: projected columns plus (when
    * merging) the PK columns the heap compares on, plus the tombstone
    * marker when any scanned file carries delete markers. The
    * `forceMergeLayout` (streaming) layout always includes the marker —
    * it must be file-set-independent (the reader factory is built before
    * any batch's files are chosen). */
  lazy val mergeReadSchema: StructType =
    if (!scanNeedsMerge) readDataSchema
    else {
      val present = readDataSchema.fieldNames.toSet
      val ds = tableInfo.dataSchema
      val withPk = readDataSchema.fields ++
        tableInfo.hashColumns.filterNot(present.contains)
          .map(c => ds.fields(ds.fieldIndex(c)))
      val withTomb =
        if (forceMergeLayout || files.exists(graft.meta.Tombstones.fileHas))
          withPk :+ org.apache.spark.sql.types.StructField(
            graft.meta.Tombstones.COL,
            org.apache.spark.sql.types.BooleanType, nullable = true)
        else withPk
      StructType(withTomb)
    }

  /** Data columns carry PRECISE nullability over this scan's (pruned) file
    * set — union with whatever the pushdown framework requested, so a
    * column stays NOT NULL only when no scanned file can null-fill it.
    * Partition columns keep their declared nullability (manifest values). */
  override def readSchema(): StructType = StructType(
    GraftPkScan.preciseScanSchema(readDataSchema, files,
      neverNull = (tableInfo.hashColumns ++ tableInfo.rangeColumns).toSet)
      .fields ++ readPartitionSchema.fields)

  override def toBatch: Batch = this

  override def description(): String = {
    val mode = if (scanNeedsMerge) "merge-on-read" else "compacted"
    val planned = plannedBuckets.fold(tableInfo.bucketNum)(_.size)
    s"GraftPkScan $tablePath [$mode, buckets=$planned/${tableInfo.bucketNum}, " +
      s"files=${files.size}, pushedPkFilters=${pushedPkFilters.mkString(",")}]"
  }

  // ---- runtime (DPP) narrowing state ------------------------------------
  // Spark calls `filter` between planning and execution when a dynamic
  // pruning subquery completes (e.g. the broadcast side of a star join).
  // Values are catalyst-internal; keys are lower-cased column names.
  @transient private var runtimePkValues: Map[String, Set[Any]] = Map.empty
  @transient private var runtimeRangeValues: Map[String, Set[Any]] = Map.empty

  /** Join keys Spark may prune this scan by at runtime: the hash columns
    * (runtime IN values hash straight to their buckets) and the range
    * partition columns (manifest partition values drop whole groups) —
    * restricted to columns surviving column pruning: `PartitionPruning`
    * resolves these against the scan relation's OUTPUT and THROWS (not
    * skips) on a miss, so advertising a pruned-away column would fail any
    * join over this scan at optimization time. */
  override def filterAttributes(): Array[
      org.apache.spark.sql.connector.expressions.NamedReference] = {
    val visible = readSchema().fieldNames.map(_.toLowerCase).toSet
    (tableInfo.hashColumns ++ tableInfo.rangeColumns)
      .filter(c => visible.contains(c.toLowerCase)).map(c =>
        org.apache.spark.sql.connector.expressions.Expressions.column(c)).toArray
  }

  override def filter(predicates: Array[
      org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    val hashLower = tableInfo.hashColumns.map(_.toLowerCase).toSet
    val rangeLower = tableInfo.rangeColumns.map(_.toLowerCase).toSet
    val typeOf = (tableInfo.dataSchema.fields ++
      tableInfo.rangePartitionSchema.fields)
      .map(f => f.name.toLowerCase -> f.dataType).toMap
    predicates.flatMap(RuntimeFilters.parse).foreach { case (name, lits) =>
      val lower = name.toLowerCase
      // type-exact only: a join key cast to another type hashes (buckets)
      // and compares (partition values) differently — ignoring the filter
      // is always safe, applying a mistyped one is not
      if (typeOf.get(lower).exists(dt => lits.forall(_.dataType == dt))) {
        val vs: Set[Any] = lits.map(_.value.asInstanceOf[Any]).toSet
        if (hashLower(lower)) {
          runtimePkValues = RuntimeFilters.intersect(runtimePkValues, lower, vs)
        } else if (rangeLower(lower)) {
          runtimeRangeValues =
            RuntimeFilters.intersect(runtimeRangeValues, lower, vs)
        }
      }
    }
  }

  /** Drop whole (range partition) file groups whose manifest partition
    * value cannot match a runtime IN set. NULL partition values never match
    * an IN (join keys with NULL never join), so they drop too. */
  private def runtimeKeptFiles: Seq[DataFileInfo] = {
    if (runtimeRangeValues.isEmpty) return files
    val tz = castToImpl(sparkSession).sessionState.conf.sessionLocalTimeZone
    val pfields = tableInfo.rangePartitionSchema.fields
    files.filter { f =>
      runtimeRangeValues.forall { case (lower, vs) =>
        pfields.find(_.name.toLowerCase == lower).forall { field =>
          val v = GraftFileIndex.castPartitionValue(
            f.partitionValues.getOrElse(field.name, null), field, tz)
          v != null && vs.contains(v)
        }
      }
    }
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val mergedLayoutLen = mergeReadSchema.length + readPartitionSchema.length
    val mergeIdx = mergeReadSchema.fieldNames.zipWithIndex.toMap
    val tz = castToImpl(sparkSession).sessionState.conf.sessionLocalTimeZone
    val proj = UnsafeProjection.create(readPartitionSchema)
    // runtime bucket pruning: the partition COUNT stays what planning
    // declared (the post-planner rule's declared distribution rests on
    // it), but buckets a runtime key cannot hash to get EMPTY partitions —
    // zero IO, the distribution contract intact
    val byBucket0 = runtimeKeptFiles.groupBy(_.bucket)
    val byBucket = GraftPkScan.pinnedBuckets(tableInfo, pushedPkFilters,
        runtimePkValues) match {
      case Some(keep) => byBucket0.view.filterKeys(keep).toMap
      case None => byBucket0
    }
    plannedBuckets.getOrElse(0 until tableInfo.bucketNum).map { b =>
      val groups = byBucket.getOrElse(b, Nil).groupBy(_.rangeKey).toSeq
        .sortBy(_._1).map { case (_, gfiles) =>
          val head = gfiles.head
          val values = InternalRow.fromSeq(readPartitionSchema.fields.toSeq.map { f =>
            GraftFileIndex.castPartitionValue(
              head.partitionValues.getOrElse(f.name, null), f, tz)
          })
          val sorted = gfiles.sortBy(_.writeVersion)
          GraftFileGroup(
            sorted.map { f =>
              val has = new Array[Boolean](mergedLayoutLen)
              val exist = f.fileExistCols.toSet
              mergeIdx.foreach { case (name, i) =>
                has(i) = exist.contains(name) || f.fileExistCols.isEmpty
              }
              // partition columns are appended by the reader for every file
              var i = mergeReadSchema.length
              while (i < mergedLayoutLen) { has(i) = true; i += 1 }
              GraftFileDesc(f.resolvedPath(tablePath), f.size, f.writeVersion,
                f.isBase, has)
            }.toArray,
            proj.apply(values).copy())
        }
      GraftPkInputPartition(b, groups.toArray)
    }.toArray
  }

  /** Runtime (DPP) PK values as v1 IN filters for the parquet readers:
    * within a kept bucket file, pushed INs skip row groups via
    * stats/dictionary/bloom — the second half of runtime pruning (bucket
    * pruning plans 1-of-N files; this skips inside them). Safe under
    * merge-on-read for the same reason as `pushedPkFilters`: the predicate
    * is ON the key, so every version of a key is kept or dropped together.
    * `BatchScanExec.inputRDD` computes `filteredPartitions` (which runs
    * `filter`) before `readerFactory`, so the state is set by now; an
    * empty result just means no runtime narrowing. Capped — parquet
    * range-collapses large INs anyway (`pushdown.inFilterThreshold`), so
    * externalizing a huge dim key set would burn driver time for nothing. */
  private[graft] def runtimePkReaderFilters: Seq[Filter] =
    runtimePkValues.toSeq.flatMap {
      case (lower, vs) if vs.nonEmpty && vs.size <= 1000 =>
        tableInfo.dataSchema.fields.find(_.name.toLowerCase == lower).map { f =>
          org.apache.spark.sql.sources.In(f.name, vs.toArray.map(v =>
            org.apache.spark.sql.graft.SparkShims.toExternal(v, f.dataType)))
        }
      case _ => None
    }

  override def createReaderFactory(): PartitionReaderFactory = {
    val session = castToImpl(sparkSession)
    val fmt = new ParquetFileFormat()
    // async-I/O choice (GraftScanBuilder.ASYNC_IO_CONF) applies to the
    // merge/bucket readers the same as to the stock no-PK scan
    val hadoopConf = session.sessionState.newHadoopConfWithOptions(
      GraftScanBuilder.asyncIoOptions(sparkSession))
    val supportsBatch = fmt.supportBatch(sparkSession,
      StructType(mergeReadSchema.fields ++ readPartitionSchema.fields))
    // Merging consumes rows; only the compacted fast path streams batches.
    val returningBatch = supportsBatch && !scanNeedsMerge
    // all-nullable request: a partial-column delta file legitimately lacks
    // columns (fileExistCols); the vectorized reader null-fills OPTIONAL
    // missing columns but throws for REQUIRED ones, and table schemas can
    // carry NOT NULL (e.g. from a Dataset write). Nullability is a write-
    // time invariant (Invariants.enforce), not a scan-time contract; the
    // k-way merge resolves the nulls via fileExistCols.
    val tombOrd = mergeReadSchema.fieldNames
      .indexWhere(graft.meta.Tombstones.isMarkerCol)
    val fileDataSchema =
      if (tombOrd < 0) GraftPkScan.asNullable(tableInfo.dataSchema)
      else StructType(GraftPkScan.asNullable(tableInfo.dataSchema).fields :+
        org.apache.spark.sql.types.StructField(graft.meta.Tombstones.COL,
          org.apache.spark.sql.types.BooleanType, nullable = true))
    val readFunc = fmt.buildReaderWithPartitionValues(
      sparkSession,
      dataSchema = fileDataSchema,
      partitionSchema = readPartitionSchema,
      requiredSchema = GraftPkScan.asNullable(mergeReadSchema),
      filters = pushedPkFilters ++ runtimePkReaderFilters,
      options = Map(org.apache.spark.sql.execution.datasources.FileFormat
        .OPTION_RETURNING_BATCH -> returningBatch.toString),
      hadoopConf = hadoopConf)
    // Only the merge path compares PKs; on the compacted fast path the
    // projection may not contain them at all (e.g. count() prunes every
    // column and mergeReadSchema stays empty).
    val pkOrdinals =
      if (scanNeedsMerge) tableInfo.hashColumns.map(mergeReadSchema.fieldIndex).toArray
      else Array.empty[Int]
    val mergedLayout = StructType(mergeReadSchema.fields ++ readPartitionSchema.fields)
    // Case-INSENSITIVE column resolution (matching CompactionCommand's
    // guard): a case-mismatched operator column silently falling back to
    // last-wins would corrupt exactly what the guard protects. A column
    // missing from the pruned read schema is fine (the projection doesn't
    // touch it) — but it must at least exist in the table, loudly.
    val mergeOps: Map[Int, GraftMergeOperator] = mergeOperatorNames.flatMap {
      case (col, op) =>
        val idx = mergeReadSchema.fieldNames.indexWhere(_.equalsIgnoreCase(col))
        if (idx >= 0) Some(idx -> GraftMergeOperator.byName(op))
        else {
          require(tableInfo.dataSchema.fieldNames.exists(_.equalsIgnoreCase(col)),
            s"merge operator '$op' assigned to column '$col', which does " +
            s"not exist in table $tablePath (columns: " +
            s"${tableInfo.dataSchema.fieldNames.mkString(", ")})")
          None
        }
    }
    val outputOrdinals = readSchema().fieldNames
      .map(n => mergedLayout.fieldIndex(n)).toArray
    GraftPkReaderFactory(readFunc, mergedLayout,
      mergedLayout.fields.map(_.dataType), pkOrdinals, mergeOps,
      outputOrdinals, scanNeedsMerge, returningBatch, tombOrd)
  }

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): OptionalLong = OptionalLong.of(
      math.max(files.map(_.size).sum, 1L))
    // manifest row counts — an upper bound under merge-on-read (older
    // versions of a key collapse at read), which is the right direction
    // for an estimate feeding join costing
    override def numRows(): OptionalLong =
      if (files.nonEmpty && files.forall(_.numRecords >= 0L))
        OptionalLong.of(files.map(_.numRecords).sum)
      else OptionalLong.empty()
  }
}

case class GraftPkReaderFactory(
    readFunc: PartitionedFile => Iterator[InternalRow],
    mergedLayout: StructType,
    mergedTypes: Array[DataType],
    pkOrdinals: Array[Int],
    mergeOps: Map[Int, GraftMergeOperator],
    outputOrdinals: Array[Int],
    scanNeedsMerge: Boolean,
    supportsBatch: Boolean,
    tombstoneOrdinal: Int = -1)
  extends PartitionReaderFactory {

  override def supportColumnarReads(partition: InputPartition): Boolean =
    !scanNeedsMerge && supportsBatch

  private def partitionedFile(g: GraftFileGroup, f: GraftFileDesc) =
    PartitionedFile(g.partitionValues, SparkPath.fromPathString(f.absPath),
      0, f.length, Array.empty, 0L, f.length, Map.empty)

  private def rawIter(g: GraftFileGroup, f: GraftFileDesc): Iterator[Any] =
    readFunc(partitionedFile(g, f)).asInstanceOf[Iterator[Any]]

  private def rowIter(g: GraftFileGroup, f: GraftFileDesc): Iterator[InternalRow] =
    rawIter(g, f).flatMap {
      case b: ColumnarBatch => b.rowIterator().asScala
      case r: InternalRow => Iterator.single(r)
    }

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[GraftPkInputPartition]
    val iter: Iterator[InternalRow] =
      if (!scanNeedsMerge) {
        part.groups.iterator.flatMap(g => g.files.iterator.flatMap(f => rowIter(g, f)))
      } else {
        val out = UnsafeProjection.create(
          outputOrdinals.map(i => org.apache.spark.sql.catalyst.expressions
            .BoundReference(i, mergedTypes(i), nullable = true)).toSeq)
        part.groups.iterator.flatMap { g =>
          val merged: Iterator[InternalRow] =
            if (g.files.length == 1 && g.files(0).isBase) {
              g.files.iterator.flatMap(f => rowIter(g, f))
            } else {
              // no per-row copy: the merge consumes each dequeued row's
              // values BEFORE advancing its file's iterator (see
              // KWayMergeIterator), so the readers' reused row buffers are
              // never aliased across a batch boundary
              new KWayMergeIterator(
                g.files.map(f => rowIter(g, f)),
                g.files.map(_.writeVersion),
                g.files.map(_.hasCols),
                pkOrdinals, mergedTypes, mergeOps, tombstoneOrdinal)
            }
          merged.map(out)
        }
      }
    GraftStreamReaderFactory.readerOf(iter)
  }

  override def createColumnarReader(p: InputPartition): PartitionReader[ColumnarBatch] = {
    val part = p.asInstanceOf[GraftPkInputPartition]
    val iter: Iterator[ColumnarBatch] = part.groups.iterator.flatMap(g =>
      g.files.iterator.flatMap(f => rawIter(g, f))).map(_.asInstanceOf[ColumnarBatch])
    new PartitionReader[ColumnarBatch] {
      private var current: ColumnarBatch = _
      override def next(): Boolean =
        if (iter.hasNext) { current = iter.next(); true } else false
      override def get(): ColumnarBatch = current
      override def close(): Unit = ()
    }
  }
}

/** K-way sorted merge over one bucket's versioned files (reference
  * `MergeHeapCommon.scala:28-125` + `MergeMultiFileWithOperator.scala:35-299`).
  *
  * Inputs are PK-sorted; the heap orders by (pk, writeVersion, in-file
  * position). For each distinct key: within one file only the LAST row
  * counts (reference `:216-223`); across files, each column folds the values
  * of every version whose file physically contains the column — default
  * operator keeps the newest, so a partial-column upsert leaves other
  * columns at their previous value.
  *
  * COPY ELISION (the reference's batch-boundary "temporary row" idea,
  * `MergeMultiFileWithOperator.scala:157-192`, re-shaped for iterators):
  * the vectorized readers reuse one mutable row per batch, so naively
  * holding rows in a heap requires copying EVERY input row. Instead, each
  * file has at most ONE in-flight row (its iterator is only advanced after
  * that row is dequeued), so in-heap rows are always valid; a dequeued
  * row's values are extracted straight into the key-group fold BEFORE the
  * file advances. Only non-primitive values that must survive the fold
  * (strings/arrays pointing into batch memory) are copied — the per-row
  * `GenericInternalRow` materialization is gone.
  */
class KWayMergeIterator(
    iters: Array[Iterator[InternalRow]],
    writeVersions: Array[Long],
    hasCols: Array[Array[Boolean]],
    pkOrdinals: Array[Int],
    types: Array[DataType],
    mergeOps: Map[Int, GraftMergeOperator],
    tombstoneOrdinal: Int = -1)
  extends Iterator[InternalRow] {

  private val numFields = types.length
  private val orderings: Array[Ordering[Any]] =
    pkOrdinals.map(i => TypeUtils.getInterpretedOrdering(types(i)))

  private case class Entry(row: InternalRow, fileIdx: Int, seq: Long)

  private def comparePk(a: InternalRow, b: InternalRow): Int = {
    var i = 0
    while (i < pkOrdinals.length) {
      val o = pkOrdinals(i)
      val va = if (a.isNullAt(o)) null else a.get(o, types(o))
      val vb = if (b.isNullAt(o)) null else b.get(o, types(o))
      val c =
        if (va == null && vb == null) 0
        else if (va == null) -1
        else if (vb == null) 1
        else orderings(i).compare(va, vb)
      if (c != 0) return c
      i += 1
    }
    0
  }

  private def comparePkToKey(a: InternalRow, key: Array[Any]): Int = {
    var i = 0
    while (i < pkOrdinals.length) {
      val o = pkOrdinals(i)
      val va = if (a.isNullAt(o)) null else a.get(o, types(o))
      val vb = key(i)
      val c =
        if (va == null && vb == null) 0
        else if (va == null) -1
        else if (vb == null) 1
        else orderings(i).compare(va, vb)
      if (c != 0) return c
      i += 1
    }
    0
  }

  /** Deep-copy values that may alias reader batch memory; primitives box
    * into immutable wrappers and pass through. */
  private def stableValue(v: Any): Any = v match {
    case s: org.apache.spark.unsafe.types.UTF8String => s.copy()
    case a: org.apache.spark.sql.catalyst.util.ArrayData => a.copy()
    case m: org.apache.spark.sql.catalyst.util.MapData => m.copy()
    case r: InternalRow => r.copy()
    case other => other
  }

  // min-heap on (pk, writeVersion, seq)
  private implicit val entryOrd: Ordering[Entry] = new Ordering[Entry] {
    override def compare(x: Entry, y: Entry): Int = {
      val c = comparePk(x.row, y.row)
      if (c != 0) return -c // PriorityQueue is a max-heap; reverse
      val v = java.lang.Long.compare(writeVersions(x.fileIdx), writeVersions(y.fileIdx))
      if (v != 0) return -v
      -java.lang.Long.compare(x.seq, y.seq)
    }
  }

  private val heap = mutable.PriorityQueue.empty[Entry]
  private var seqCounter = 0L
  iters.indices.foreach(advance)

  private def advance(fileIdx: Int): Unit = {
    if (iters(fileIdx).hasNext) {
      heap.enqueue(Entry(iters(fileIdx).next(), fileIdx, seqCounter))
      seqCounter += 1
    }
  }

  // one-row lookahead: a key whose newest version is a tombstone emits
  // NOTHING, so producing the next row may consume several keys
  private var lookahead: InternalRow = null

  override def hasNext: Boolean = {
    while (lookahead == null && heap.nonEmpty) lookahead = nextKeyRow()
    lookahead != null
  }

  override def next(): InternalRow = {
    if (!hasNext) throw new NoSuchElementException("empty merge iterator")
    val r = lookahead
    lookahead = null
    r
  }

  // reused per-key scratch: contributions in (writeVersion, seq) order
  private val contribFiles = mutable.ArrayBuffer.empty[Int]
  private val contribVals = mutable.ArrayBuffer.empty[Array[Any]]

  /** Resolve the heap's next key; null when it resolves deleted. */
  private def nextKeyRow(): InternalRow = {
    contribFiles.clear(); contribVals.clear()
    // the heap pops a key's entries in exactly (writeVersion, seq) order
    val first = heap.dequeue()
    val key = new Array[Any](pkOrdinals.length)
    var i = 0
    while (i < pkOrdinals.length) {
      val o = pkOrdinals(i)
      key(i) = if (first.row.isNullAt(o)) null
        else stableValue(first.row.get(o, types(o)))
      i += 1
    }
    consume(first)
    while (heap.nonEmpty && comparePkToKey(heap.head.row, key) == 0) {
      consume(heap.dequeue())
    }
    // a tombstone RESET every older contribution and nothing newer
    // re-inserted the key: it is deleted
    if (contribFiles.isEmpty) return null
    // fold the contributions column-wise into the output row
    val out = new GenericInternalRow(numFields)
    var c = 0
    while (c < numFields) {
      val op = mergeOps.get(c)
      var any = false
      var last: Any = null
      var folded: List[Any] = Nil
      var j = 0
      while (j < contribFiles.length) {
        if (hasCols(contribFiles(j))(c)) {
          any = true
          last = contribVals(j)(c)
          if (op.isDefined) folded = contribVals(j)(c) :: folded
        }
        j += 1
      }
      val value = op match {
        case Some(o) if any => o.merge(folded.reverse)
        case _ => if (any) last else null
      }
      out.update(c, value)
      c += 1
    }
    out
  }

  /** Extract `e.row`'s values (stable copies), honoring in-file last-wins,
    * then advance the file — after which `e.row` may be overwritten. A
    * tombstone marker row RESETS the fold: every older contribution is
    * discarded, so the key only survives (with post-marker values only) if
    * a NEWER version re-inserts it. */
  private def consume(e: Entry): Unit = {
    if (tombstoneOrdinal >= 0 && hasCols(e.fileIdx)(tombstoneOrdinal) &&
        !e.row.isNullAt(tombstoneOrdinal) &&
        e.row.getBoolean(tombstoneOrdinal)) {
      contribFiles.clear(); contribVals.clear()
      advance(e.fileIdx)
      return
    }
    val vals = new Array[Any](numFields)
    var c = 0
    while (c < numFields) {
      if (hasCols(e.fileIdx)(c) && !e.row.isNullAt(c)) {
        vals(c) = stableValue(e.row.get(c, types(c)))
      }
      c += 1
    }
    // within one file only the LAST row of a key counts: a later duplicate
    // replaces the file's earlier contribution, at the later position
    val prev = contribFiles.indexOf(e.fileIdx)
    if (prev >= 0) { contribFiles.remove(prev); contribVals.remove(prev) }
    contribFiles += e.fileIdx
    contribVals += vals
    advance(e.fileIdx)
  }
}

object GraftPkScan {
  /** Buckets a scan can possibly hit, or None when not every hash column
    * is pinned by equality. Candidate values per column come from the pushed
    * static conjuncts (point/IN lookups) AND from runtime DPP value sets
    * (`runtime`, keyed by lower-cased column) — intersected when both pin
    * the same column. Without runtime values this is the plan-time pin that
    * chooses `plannedBuckets`. The write path places a key at
    * `pmod(murmur3(pk), bucketNum)` (Spark's own
    * `HashPartitioning.partitionIdExpression` — `TransactionalWrite.writePk`
    * relies on it), so the same hash computed over the literals identifies
    * the ONLY bucket that can hold each key. This is the pruning file-level
    * stats can NEVER do for bucketed tables: hash scattering makes every
    * bucket file's pk [min, max] span the whole domain. */
  private[graft] def pinnedBuckets(
      tableInfo: TableInfo, pushed: Seq[Filter],
      runtime: Map[String, Set[Any]] = Map.empty): Option[Set[Int]] = {
    val fieldOf = tableInfo.dataSchema.fields
      .map(f => f.name.toLowerCase -> f).toMap
    def litsFor(c: String): Option[Seq[Literal]] = {
      val dt = fieldOf.get(c.toLowerCase).map(_.dataType).getOrElse(return None)
      // per-column equality candidate values from the pushed conjuncts
      // (EXTERNAL Scala values — Literal.create converts)
      val pushedLits = pushed.collectFirst {
        case org.apache.spark.sql.sources.EqualTo(a, v)
            if a.equalsIgnoreCase(c) && v != null => Seq(v)
        case org.apache.spark.sql.sources.EqualNullSafe(a, v)
            if a.equalsIgnoreCase(c) && v != null => Seq(v)
        case org.apache.spark.sql.sources.In(a, vs)
            if a.equalsIgnoreCase(c) && vs != null && vs.nonEmpty &&
              vs.forall(_ != null) && vs.length <= 64 => vs.toSeq
      }.map(_.map(v => Literal.create(v, dt)))
      // runtime DPP values are already INTERNAL — wrap directly
      val runtimeLits = runtime.get(c.toLowerCase)
        .map(_.toSeq.filter(_ != null).map(v => Literal(v, dt)))
      (pushedLits, runtimeLits) match {
        case (Some(s), Some(r)) => // both pin the column: intersect values
          val sv = s.map(_.value).toSet
          Some(r.filter(l => sv.contains(l.value)))
        case (s, r) => r.orElse(s)
      }
    }
    val perCol = tableInfo.hashColumns.map(litsFor)
    if (perCol.exists(_.isEmpty)) return None
    // size check BEFORE expanding the cartesian; runtime IN sets can be an
    // entire dim table's keys — hashing 100k literals is trivial driver
    // work, but an unbounded cross-column product is not. Overflow-safe:
    // a plain Long product of several 100k-element columns wraps (possibly
    // below the cap) and would wave an astronomical expansion through.
    val product = perCol.map(_.get.length.toLong).foldLeft(1L) { (acc, n) =>
      try Math.multiplyExact(acc, n)
      catch { case _: ArithmeticException => return None }
    }
    if (product > 100000L) return None
    val tuples = perCol.map(_.get)
      .foldLeft(Seq(Seq.empty[Literal])) { (acc, vs) => acc.flatMap(t => vs.map(t :+ _)) }
    try {
      val n = tableInfo.bucketNum
      Some(tuples.map { lits =>
        val hash = new Murmur3Hash(lits).eval(null).asInstanceOf[Int]
        ((hash % n) + n) % n
      }.toSet)
    } catch { case _: Exception => None }
  }

  /** Deep nullable view of a schema. Retained for the per-FILE parquet read
    * request (any single file may legitimately lack a column — the
    * vectorized reader null-fills OPTIONAL missing columns but throws for
    * REQUIRED ones) and for streaming readers whose future file set is
    * unknown at plan time. Plan-level schemas use [[preciseScanSchema]]
    * instead — blanket widening there defeats codegen null-check
    * elimination on hash keys and aggregation inputs (~1.9× on warm PK
    * reads, measured). */
  private[graft] def asNullable(schema: StructType): StructType =
    StructType(schema.fields.map(f =>
      f.copy(dataType = nullableType(f.dataType), nullable = true)))

  private def nullableType(dt: DataType): DataType = dt match {
    case st: StructType => asNullable(st)
    case org.apache.spark.sql.types.ArrayType(et, _) =>
      org.apache.spark.sql.types.ArrayType(nullableType(et), containsNull = true)
    case org.apache.spark.sql.types.MapType(k, v, _) =>
      org.apache.spark.sql.types.MapType(nullableType(k), nullableType(v),
        valueContainsNull = true)
    case other => other
  }

  /** PRECISE scan-time nullability. A top-level column can read NULL only
    * if the declared schema allows it OR some scanned file physically omits
    * the column per `fileExistCols` (a partial-column upsert, or a file
    * older than a schema evolution) — only then can the parquet reader or
    * the k-way merge null-fill it. Everything else keeps its declared
    * nullability, so a fully compacted table with uniform columns presents
    * its declared schema and codegen keeps null-check elimination.
    *
    * `neverNull` (primary-key + range-partition columns) is exempt from
    * widening: upserts require PK values in every file, and partition
    * values come from the manifest, never from file content.
    *
    * Nested STRUCT fields DO stay deep-widened whenever data files exist:
    * `fileExistCols` tracks only top-level names, so a file written before
    * a nested ADD COLUMN is indistinguishable from a current one and its
    * missing nested field null-fills. Top-level nullability stays precise
    * (a struct column present in a file is itself non-null). */
  private[graft] def preciseScanSchema(
      declared: StructType,
      files: Seq[DataFileInfo],
      neverNull: Set[String]): StructType = {
    if (files.isEmpty) return declared // no rows — nothing can null-fill
    // distinct first: most files share one of a handful of column sets
    val colSets: Seq[Set[String]] = files.iterator.map(_.fileExistCols)
      .filter(_.nonEmpty).toSeq.distinct.map(_.map(_.toLowerCase).toSet)
    val lowerNever = neverNull.map(_.toLowerCase)
    StructType(declared.fields.map { f =>
      val lower = f.name.toLowerCase
      val widen = !lowerNever.contains(lower) &&
        colSets.exists(s => !s.contains(lower))
      f.copy(dataType = nestedNullable(f.dataType),
        nullable = f.nullable || widen)
    })
  }

  /** Deep-widen nested struct-field nullability only; top-level and
    * array-element/map-value nullability are never file-dependent. */
  private def nestedNullable(dt: DataType): DataType = dt match {
    case st: StructType => StructType(st.fields.map(f =>
      f.copy(dataType = nestedNullable(f.dataType), nullable = true)))
    case org.apache.spark.sql.types.ArrayType(et, cn) =>
      org.apache.spark.sql.types.ArrayType(nestedNullable(et), cn)
    case org.apache.spark.sql.types.MapType(k, v, vcn) =>
      org.apache.spark.sql.types.MapType(nestedNullable(k), nestedNullable(v), vcn)
    case other => other
  }
}
