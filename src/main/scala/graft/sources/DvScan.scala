package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.graft.SparkShims
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}
import org.apache.spark.util.SerializableConfiguration

import graft.meta.FsMetaStore

/** Deletion-vector masking over the stock vectorized parquet batch.
  *
  * Mechanism: the inner [[ParquetScan]] is copied with Spark's row-index
  * temporary column appended to `readDataSchema` — the stock reader factory
  * then populates each row's per-file row index (the same machinery behind
  * `_metadata.row_index`). Planning reuses the inner batch's own
  * `FilePartition`s: file ranges belonging to DV-free files keep the
  * UNTOUCHED original factory (columnar when every planned partition is
  * clean — e.g. after pruning dropped all DV'd files); ranges of DV'd files
  * become per-range row-based partitions whose reader skips rows in the
  * bitmap and strips the row-index column with a codegen'd projection, so
  * upward the scan's schema is unchanged.
  *
  * The whole scan falls back to row-based reads whenever a DV'd file
  * survives pruning (Spark's `supportsColumnar` is all-or-nothing per
  * scan); compaction purges vectors and restores fully-columnar reads.
  */
class DvMaskedBatch(
    inner: ParquetScan,
    dvByAbsPath: Map[String, String],
    tableRoot: String)
  extends Batch {

  require(inner.pushedAggregate.isEmpty,
    "aggregate pushdown must be refused while deletion vectors exist " +
    "(footer row counts include deleted rows)")

  private val idxField =
    StructField(SparkShims.rowIndexColumnName, LongType, nullable = true)
  // appended LAST in the data schema: full row layout is
  // [readDataSchema..., rowIdx, readPartitionSchema...]
  private val idxOrd = inner.readDataSchema.length
  // the copy gets its OWN Configuration: ParquetScan.createReaderFactory
  // MUTATES hadoopConf (it writes the requested schema into it), and in
  // local mode broadcasts alias the driver object — a shared conf would
  // leak the row-index column into the base factory's readers, whose
  // batches then grow an unallocated column that unchecked codegen reads
  private lazy val idxBatch = inner.copy(
    hadoopConf = new Configuration(inner.hadoopConf),
    readDataSchema =
      StructType(inner.readDataSchema.fields :+ idxField)).toBatch
  private lazy val baseBatch = inner.toBatch

  private val idxRowTypes: Array[DataType] =
    (inner.readDataSchema.fields :+ idxField) ++ inner.readPartitionSchema.fields match {
      case fs => fs.map(_.dataType).toArray
    }

  private lazy val planned: Array[InputPartition] = {
    val parts = baseBatch.planInputPartitions()
    var nextIdx = 0
    def idx(): Int = { val i = nextIdx; nextIdx += 1; i }
    parts.flatMap {
      case fp: FilePartition =>
        val (masked, clean) = fp.files.partition(f =>
          dvByAbsPath.contains(FsMetaStore.stripScheme(f.filePath.toPath.toString)))
        val cleanPart =
          if (clean.isEmpty) Nil
          else Seq(DvCleanPartition(FilePartition(idx(), clean)))
        // one partition per masked file RANGE: ranges of the same file can
        // stay separate tasks (row indices are absolute within the file)
        cleanPart ++ masked.map { f =>
          DvMaskedPartition(FilePartition(idx(), Array(f)),
            dvByAbsPath(FsMetaStore.stripScheme(f.filePath.toPath.toString)))
        }
      case other => // ParquetScan only plans FilePartitions; stay safe
        Seq(DvCleanPartition(other))
    }
  }

  override def planInputPartitions(): Array[InputPartition] = planned

  override def createReaderFactory(): PartitionReaderFactory =
    new DvMaskedReaderFactory(baseBatch.createReaderFactory(),
      idxBatch.createReaderFactory(), idxOrd, idxRowTypes, tableRoot,
      graft.write.GraftFs.broadcastConf(inner.sparkSession),
      // Spark requires every partition of a scan to agree on columnar vs
      // row-based; one surviving masked partition forces the whole scan
      // row-based (pruning that drops every DV'd file keeps it columnar)
      anyMasked = planned.exists(_.isInstanceOf[DvMaskedPartition]))
}

/** Partition of DV-free file ranges — read through the untouched inner
  * factory (columnar capable). */
case class DvCleanPartition(inner: InputPartition) extends InputPartition {
  override def preferredLocations(): Array[String] = inner.preferredLocations()
}

/** One DV'd file range + the table-root-relative path of its bitmap. */
case class DvMaskedPartition(inner: FilePartition, dvRelPath: String)
  extends InputPartition {
  override def preferredLocations(): Array[String] = inner.preferredLocations()
}

class DvMaskedReaderFactory(
    base: PartitionReaderFactory,
    withIdx: PartitionReaderFactory,
    idxOrd: Int,
    idxRowTypes: Array[DataType],
    tableRoot: String,
    conf: Broadcast[SerializableConfiguration],
    anyMasked: Boolean)
  extends PartitionReaderFactory {

  override def supportColumnarReads(p: InputPartition): Boolean = p match {
    case DvCleanPartition(inner) => !anyMasked && base.supportColumnarReads(inner)
    case _ => false
  }

  override def createColumnarReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    p match {
      case DvCleanPartition(inner) => base.createColumnarReader(inner)
      case _ => throw new UnsupportedOperationException(
        "masked partitions are row-based")
    }

  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    p match {
      case DvCleanPartition(inner) => base.createReader(inner)
      case DvMaskedPartition(inner, dvRel) =>
        val bm = DeletionVectors.read(tableRoot, conf.value.value, dvRel)
        val raw = withIdx.createReader(inner)
        // strip the row-index column (mid-row: partition values follow it)
        val proj = UnsafeProjection.create(
          idxRowTypes.indices.filterNot(_ == idxOrd).map(i =>
            BoundReference(i, idxRowTypes(i), nullable = true)))
        new PartitionReader[InternalRow] {
          private var cur: InternalRow = _
          override def next(): Boolean = {
            while (raw.next()) {
              val r = raw.get()
              if (!bm.contains(r.getLong(idxOrd))) { cur = proj(r); return true }
            }
            false
          }
          override def get(): InternalRow = cur
          override def close(): Unit = raw.close()
        }
    }
}
