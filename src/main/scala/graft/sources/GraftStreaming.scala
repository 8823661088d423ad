package graft.sources

import scala.collection.mutable

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadAllAvailable, ReadLimit, ReadMaxBytes, ReadMaxFiles, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.vectorized.ColumnarBatch

import graft.merge.GraftMergeOperator
import graft.meta.{DataFileInfo, Snapshot, SnapshotManagement, TableInfo}

/** Structured Streaming SOURCE over the commit log — an extra beyond the
  * reference (which ships only a sink, `sources/StarLakeDataSource.scala:45`):
  * the versioned log is exactly a change stream, so `readStream` follows it.
  *
  * Semantics (Delta-source-style):
  *   - offsets are (log version, initial-snapshot progress index);
  *   - the first batch(es) replay the table's state at stream start (initial
  *     snapshot — no double counting of files later rewritten). For
  *     PRIMARY-KEY tables the initial snapshot is the MERGED current state
  *     (same k-way merge-on-read as a batch read of the table), so a key
  *     updated by pre-stream delta upserts is emitted exactly once with its
  *     merged values;
  *   - each later batch is the files ADDED by append-like commits
  *     (`create/append/delta/streaming`). PK delta files stream as the
  *     upsert records they are (rows-as-written);
  *   - pure rewrites (`compaction`, `alter`) add no new rows and are always
  *     skipped;
  *   - data-changing rewrites (`overwrite/upsert/update/delete`) FAIL the
  *     stream unless `.option("ignoreChanges", "true")`, which re-emits
  *     their (re-)added files — Delta's documented `ignoreChanges`
  *     at-least-once contract: already-processed rows may repeat,
  *     deletions are not propagated (the caller opted in). The narrower
  *     `.option("ignoreDeletes", "true")` skips only partition-scoped
  *     metadata-only DELETE commits (files removed whole, no adds);
  *     any delete that rewrites, DV-masks, or tombstones still fails.
  *
  * Admission control (`SupportsAdmissionControl`): `maxFilesPerTrigger` /
  * `maxBytesPerTrigger` cap each micro-batch. The INITIAL SNAPSHOT splits
  * across batches at merge-group granularity (a PK (partition, bucket) file
  * group is atomic — its versions must merge together; a group larger than
  * the cap still ships whole), and a restarting stream drains a long
  * backlog version-by-version instead of landing it in one batch — at
  * 100 TB the single-batch alternative is a driver OOM.
  *
  * Scale: planning reads only the log window's metadata (file names), never
  * data; each batch's files read with the stock vectorized parquet reader.
  */
class GraftMicroBatchStream(
    spark: SparkSession,
    tablePath: String,
    tableInfo: TableInfo,
    requestedSchema: StructType,
    ignoreChanges: Boolean,
    options: Map[String, String] = Map.empty)
  extends MicroBatchStream with SupportsAdmissionControl
  with SupportsTriggerAvailableNow {

  import GraftMicroBatchStream._

  protected def store = SnapshotManagement.store

  /** `Trigger.AvailableNow`: the engine calls this once at query start; the
    * source must then drain exactly the data that existed at that moment
    * (across however many admission-capped batches) and report no more —
    * the query self-terminates when it catches up. Commits landing after
    * the pin are left for the next run. */
  @volatile private var availableNowCap: Long = Long.MinValue

  override def prepareForTriggerAvailableNow(): Unit = {
    availableNowCap = store.latestVersion(tablePath)
  }

  /** Latest log version, clamped to the AvailableNow pin when one is set. */
  protected def latestVersionCapped(): Long = {
    val l = store.latestVersion(tablePath)
    if (availableNowCap == Long.MinValue) l else math.min(l, availableNowCap)
  }

  protected def optIgnoreCase(key: String): Option[String] =
    options.collectFirst { case (k, v) if k.equalsIgnoreCase(key) => v }

  /** Delta-parity `ignoreDeletes`: lets PARTITION-SCOPED metadata-only
    * DELETE commits (whole files removed, nothing rewritten — no added
    * files) pass through an append-only stream silently. Narrower than
    * `ignoreChanges` (which subsumes it): a delete that rewrites files,
    * attaches deletion vectors, or appends tombstone markers still fails,
    * because those commits carry rows the option gives no license to
    * reinterpret. */
  private val ignoreDeletes: Boolean =
    optIgnoreCase("ignoreDeletes").exists(_.toBoolean)

  private val maxFilesOpt: Option[Int] =
    optIgnoreCase("maxFilesPerTrigger").map(_.toInt)
  private val maxBytesOpt: Option[Long] =
    optIgnoreCase("maxBytesPerTrigger").map(_.toLong)

  override def getDefaultReadLimit: ReadLimit = (maxFilesOpt, maxBytesOpt) match {
    case (Some(f), Some(b)) =>
      ReadLimit.compositeLimit(Array(ReadLimit.maxFiles(f), ReadLimit.maxBytes(b)))
    case (Some(f), None) => ReadLimit.maxFiles(f)
    case (None, Some(b)) => ReadLimit.maxBytes(b)
    case _ => ReadLimit.allAvailable()
  }

  /** (maxFiles, maxBytes) caps from the engine-provided limit. */
  protected def capsOf(limit: ReadLimit): (Option[Long], Option[Long]) = limit match {
    case _: ReadAllAvailable => (None, None)
    case f: ReadMaxFiles => (Some(f.maxFiles().toLong), None)
    case b: ReadMaxBytes => (None, Some(b.maxBytes()))
    case c: CompositeReadLimit =>
      c.getReadLimits.map(capsOf).reduce { (a, b) =>
        (a._1.orElse(b._1), a._2.orElse(b._2))
      }
    case _ => (maxFilesOpt.map(_.toLong), maxBytesOpt)
  }

  override def initialOffset(): Offset = GraftStreamOffset(-1L, -1L)

  /** False when the stream begins at an explicit `startingVersion` (CDF):
    * a fresh offset then means "incremental from version 0", not "emit the
    * current snapshot first". */
  protected def initialSnapshotEnabled: Boolean = true

  /** Is `s` still inside the initial-snapshot phase? */
  protected def inSnapshotPhase(s: GraftStreamOffset): Boolean =
    (s.version < 0 && initialSnapshotEnabled) || s.index >= 0

  override def latestOffset(): Offset = throw new UnsupportedOperationException(
    "latestOffset(Offset, ReadLimit) should be called for an admission-" +
    "controlled source")

  override def reportLatestOffset(): Offset = {
    val latest = store.latestVersion(tablePath)
    if (latest < 0) initialOffset() else GraftStreamOffset(latest, -1L)
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[GraftStreamOffset]
    val (maxFiles, maxBytes) = capsOf(limit)
    def under(files: Long, bytes: Long): Boolean =
      maxFiles.forall(files <= _) && maxBytes.forall(bytes <= _)
    if (inSnapshotPhase(s)) {
      // ---- initial-snapshot phase: drain units up to the caps ----
      val sv = if (s.version < 0) latestVersionCapped() else s.version
      if (sv < 0) return s // table does not exist yet: no progress
      val units = snapshotUnits(sv)
      val from = math.max(s.index, 0L).toInt
      if (from >= units.length) return GraftStreamOffset(sv, -1L)
      var i = from
      var files = 0L; var bytes = 0L
      while (i < units.length && {
        val u = units(i)
        val nf = files + u.length
        val nb = bytes + u.map(_.size).sum
        // always admit at least one unit, else the stream stalls forever
        if (i == from || under(nf, nb)) { files = nf; bytes = nb; true }
        else false
      }) i += 1
      if (i >= units.length) GraftStreamOffset(sv, -1L)
      else GraftStreamOffset(sv, i.toLong)
    } else {
      // ---- incremental phase: admit whole versions up to the caps ----
      val latest = latestVersionCapped()
      var end = s.version
      var files = 0L; var bytes = 0L
      var v = s.version + 1
      var stop = false
      while (v <= latest && !stop) {
        val adds = admissionFiles(v)
        val nf = files + adds.length
        val nb = bytes + adds.map(_.size).sum
        // a version is atomic; always admit at least one
        if (end == s.version || under(nf, nb)) {
          files = nf; bytes = nb; end = v; v += 1
        } else stop = true
      }
      GraftStreamOffset(end, -1L)
    }
  }

  override def deserializeOffset(json: String): Offset =
    GraftStreamOffset.fromJson(json)

  override def commit(end: Offset): Unit = {
    // drop commit-summary cache entries at or below the committed version —
    // the backlog walk never revisits them
    val e = end.asInstanceOf[GraftStreamOffset]
    if (e.index < 0) commitCache.keys.filter(_ <= e.version)
      .foreach(commitCache.remove)
  }

  override def stop(): Unit = ()

  // ------------------------------------------------------------------
  // initial snapshot
  // ------------------------------------------------------------------

  /** Deterministic unit list for the initial snapshot at `version`: for PK
    * tables one unit per (range partition, bucket) file group — the merge
    * atom; for non-PK tables one unit per file. Ordering must be stable
    * across restarts (offsets index into it). */
  private var unitsCache: (Long, IndexedSeq[Seq[DataFileInfo]]) = null

  protected def snapshotUnits(version: Long): IndexedSeq[Seq[DataFileInfo]] = {
    val cached = unitsCache
    if (cached != null && cached._1 == version) return cached._2
    val files = Snapshot.replay(store, tablePath, version).files
    val units: IndexedSeq[Seq[DataFileInfo]] =
      if (tableInfo.hasPrimaryKey) {
        files.groupBy(f => (f.rangeKey, f.bucket)).toIndexedSeq
          .sortBy(_._1).map(_._2.sortBy(f => (f.writeVersion, f.path)))
      } else {
        files.sortBy(_.path).map(Seq(_)).toIndexedSeq
      }
    unitsCache = (version, units)
    units
  }

  // ------------------------------------------------------------------
  // incremental commits
  // ------------------------------------------------------------------

  /** Commit-summary cache: the backlog walk re-scans `(start, latest]` every
    * trigger; without memoization a deep backlog costs O(backlog²) log
    * reads over its drain. */
  private val commitCache = mutable.LongMap.empty[Seq[DataFileInfo]]

  /** Files driving ADMISSION accounting for version `v`. The base source
    * reads only appended files; the CDF source overrides this with adds +
    * removes (and never throws — rewrites are its whole point). */
  protected def admissionFiles(v: Long): Seq[DataFileInfo] = commitAdds(v)

  /** Files ADDED by version `v` if it is an append-like commit; Nil for
    * rewrites; throws for data-changing commits unless `ignoreChanges`. */
  protected def commitAdds(v: Long): Seq[DataFileInfo] =
    commitCache.getOrElseUpdate(v, {
      val entries = store.read(tablePath, v)
      val commitType = entries.flatMap(_.commit).headOption
        .map(_.commitType).getOrElse("append")
      val adds = graft.meta.DataFileInfo.stampedAdds(entries, v)
      // a delta file carrying tombstone markers DELETES keys — its rows are
      // not appends, and this source has no delete concept: treat it as a
      // data-changing commit (fail loudly / skip under ignoreChanges)
      val deletesKeys = commitType == "delta" && graft.meta.Tombstones.anyHas(adds)
      if (APPEND_TYPES.contains(commitType) && !deletesKeys) {
        adds
      } else if (REWRITE_TYPES.contains(commitType)) {
        Nil
      } else if (commitType == "delete" && adds.isEmpty && ignoreDeletes) {
        // partition-scoped metadata-only DELETE (incl. drop partition):
        // whole files removed, nothing rewritten — append-only consumers
        // opted in to skip it. Restricted to 'delete' commits: a
        // removes-only RESTORE also has no adds but REVERTS live values
        // (e.g. dropping a delta file resurrects a key's older image) and
        // must still fail the stream.
        Nil
      } else if (deletesKeys && !ignoreChanges) {
        throw new UnsupportedOperationException(
          s"streaming read of $tablePath hit a delta commit with tombstone " +
          s"(key-delete) markers at version $v; use readChangeFeed for " +
          "row-level deletes, restart from a fresh checkpoint, or set " +
          ".option(\"ignoreChanges\", \"true\") to skip such commits")
      } else if (!ignoreChanges) {
        // only suggest ignoreDeletes when it would actually apply — the
        // skip path above is restricted to adds-empty 'delete' commits, so
        // hinting it for an adds-empty RESTORE would send the user through
        // a restart into the exact same failure
        val deleteHint =
          if (commitType == "delete" && adds.isEmpty)
            " For partition-scoped metadata-only deletes, " +
            ".option(\"ignoreDeletes\", \"true\") skips just those commits."
          else ""
        throw new UnsupportedOperationException(
          s"streaming read of $tablePath hit a '$commitType' commit at " +
          s"version $v, which modifies existing rows; restart from a fresh " +
          "checkpoint or set .option(\"ignoreChanges\", \"true\") to " +
          "re-emit its rewritten files (at-least-once: rows already " +
          "processed may repeat, deletions are not propagated)." + deleteHint)
      } else {
        // Delta `ignoreChanges` parity: re-emit the commit's (re-)added
        // files instead of silently dropping the new values. Per-file
        // deletion vectors mask dead rows at read, so a DV delete/update
        // re-emits only surviving/updated rows; deletions themselves are
        // not propagated (use readChangeFeed for that). Marker-bearing
        // files (a tombstone DELETE, or a MERGE with a DELETE clause —
        // merge-written files carry the marker column in fileExistCols
        // even for their update/insert rows) re-emit through a row-level
        // filter dropping rows where the marker is true: fresh
        // INSERT/UPDATE rows still flow (Delta re-emits new rows in such
        // commits too), only the deletions themselves are withheld. A
        // pure tombstone DELETE commit therefore re-emits zero rows.
        adds
      }
    })

  // ------------------------------------------------------------------
  // partition planning
  // ------------------------------------------------------------------

  protected def partSchema = StructType(requestedSchema.fields.filter(f =>
    tableInfo.rangeColumns.contains(f.name)))
  protected def dataCols = StructType(requestedSchema.fields.filterNot(f =>
    tableInfo.rangeColumns.contains(f.name)))

  /** A batch-independent PK scan pinned to the merge layout: its reader
    * factory and its per-batch partition planning agree on the merged row
    * layout because both come from the same scan parameters. Files from
    * before a rebucket keep their own bucket ids, so the scan plans as
    * many buckets as any file names. */
  protected def pkScanFor(files: Seq[DataFileInfo]): GraftPkScan =
    GraftPkScan(spark, tablePath,
      tableInfo.copy(bucketNum = (tableInfo.bucketNum +: files.map(_.bucket + 1)).max),
      files, dataCols, partSchema,
      Nil, GraftMergeOperator.declaredOperators(tableInfo),
      forceMergeLayout = true)

  /** Scan-time null-fill guard: rows stream in the layout the plan was
    * ANALYZED with; a file omitting a column the analyzed schema declares
    * NOT NULL would make downstream codegen read garbage — fail loudly
    * instead (a restart re-analyzes with the widened schema). */
  protected def checkNullFill(files: Seq[DataFileInfo]): Unit = {
    val required = dataCols.fields.filterNot(_.nullable).map(_.name)
    if (required.isEmpty) return
    val keyLower = (tableInfo.rangeColumns ++ tableInfo.hashColumns)
      .map(_.toLowerCase).toSet
    files.foreach { f =>
      // the only exempt shape is a marker-ONLY delete file (keys + marker,
      // omitting value columns): it has zero surviving rows after the
      // delete-marker filter, so nothing null-fills. A marker-BEARING file
      // that also carries value columns (a CDC-style upsert mixing delete
      // and update images) can have surviving rows, so a missing NOT NULL
      // column there is the same codegen-garbage hazard as anywhere else.
      val markerOnlyDelete = graft.meta.Tombstones.fileHas(f) &&
        f.fileExistCols.forall(c => keyLower.contains(c.toLowerCase) ||
          c.equalsIgnoreCase(graft.meta.Tombstones.COL))
      if (f.fileExistCols.nonEmpty && !markerOnlyDelete) {
        val lower = f.fileExistCols.map(_.toLowerCase).toSet
        required.find(r => !lower.contains(r.toLowerCase)).foreach { col =>
          throw new IllegalStateException(
            s"streaming read of $tablePath: file ${f.path} omits column " +
            s"'$col', which the stream's analyzed schema declares NOT " +
            "NULL; restart the stream so the schema re-resolves as nullable")
        }
      }
    }
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftStreamOffset]
    val e = end.asInstanceOf[GraftStreamOffset]
    if (e.version < 0) return Array.empty
    if (inSnapshotPhase(s)) {
      // ---- initial snapshot slice [from, until) over the unit list ----
      val sv = if (s.version < 0) e.version else s.version
      require(e.version == sv,
        s"corrupt offsets: initial snapshot pinned at $sv but batch end is " +
        s"${e.version}")
      val units = snapshotUnits(sv)
      val from = math.max(s.index, 0L).toInt
      val until = if (e.index >= 0) e.index.toInt else units.length
      val slice = units.slice(from, until)
      if (slice.isEmpty) return Array.empty
      if (tableInfo.hasPrimaryKey) {
        // merged current state, one partition per merge group
        pkScanFor(slice.flatten).planInputPartitions().collect {
          case p: GraftPkInputPartition if p.groups.nonEmpty => p
        }
      } else {
        val files = slice.flatten
        checkNullFill(files)
        binPack(files)
      }
    } else {
      // ---- incremental window (s.version, e.version] ----
      val out = Seq.newBuilder[DataFileInfo]
      var v = s.version + 1
      while (v <= e.version) { out ++= commitAdds(v); v += 1 }
      val files = out.result()
      checkNullFill(files)
      binPack(files)
    }
  }

  /** A file's range-partition values as the readers' partition row. */
  protected def partitionRows(): DataFileInfo => InternalRow = {
    val tz = castToImpl(spark).sessionState.conf.sessionLocalTimeZone
    val proj = UnsafeProjection.create(partSchema)
    f => proj.apply(InternalRow.fromSeq(partSchema.fields.toSeq.map { sf =>
      GraftFileIndex.castPartitionValue(
        f.partitionValues.getOrElse(sf.name, null), sf, tz)
    })).copy()
  }

  /** Bin-pack raw files by size: one task per file would mean millions of
    * tasks at scale — pack into ~maxPartitionBytes bins (first-fit over the
    * listing order, which groups same-partition files together). Each file
    * is charged openCostInBytes like Spark's own FilePartition packing:
    * without it a small-file table packs thousands of footer-opens into one
    * task. */
  protected def binPack(files: Seq[DataFileInfo]): Array[InputPartition] = {
    val partRow = partitionRows()
    val triples = files.map { f =>
      (f.resolvedPath(tablePath), f.size, partRow(f), f.dvPath,
        graft.meta.Tombstones.fileHas(f))
    }
    val conf = castToImpl(spark).sessionState.conf
    val maxBytes = conf.filesMaxPartitionBytes
    val openCost = conf.filesOpenCostInBytes
    val bins = Seq.newBuilder[GraftStreamFilesPartition]
    var cur = List.empty[(String, Long, InternalRow, String, Boolean)]
    var curBytes = 0L
    triples.foreach { f =>
      val charged = f._2 + openCost
      if (cur.nonEmpty && curBytes + charged > maxBytes) {
        bins += GraftStreamFilesPartition(cur.reverse.toArray)
        cur = Nil; curBytes = 0L
      }
      cur = f :: cur; curBytes += charged
    }
    if (cur.nonEmpty) bins += GraftStreamFilesPartition(cur.reverse.toArray)
    bins.result().toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // async-I/O choice (GraftScanBuilder.ASYNC_IO_CONF) applies to the
    // streaming read functions the same as to the batch scans
    def ioConf = castToImpl(spark).sessionState
      .newHadoopConfWithOptions(GraftScanBuilder.asyncIoOptions(spark))
    val readFunc = new ParquetFileFormat().buildReaderWithPartitionValues(
      spark,
      dataSchema = GraftPkScan.asNullable(tableInfo.dataSchema),
      partitionSchema = partSchema,
      requiredSchema = GraftPkScan.asNullable(dataCols),
      filters = Nil,
      options = Map(org.apache.spark.sql.execution.datasources.FileFormat
        .OPTION_RETURNING_BATCH -> "false"),
      hadoopConf = ioConf)
    val pkFactory =
      if (tableInfo.hasPrimaryKey) Some(pkScanFor(Nil).createReaderFactory())
      else None
    // deletion-vector support for files the initial snapshot carries: a
    // second read func requests Spark's row-index temp column so the
    // reader can drop masked rows (same machinery as the batch DvScan).
    // DVs exist only on non-PK tables, so PK streams skip the build (each
    // buildReaderWithPartitionValues broadcasts a serialized hadoop conf —
    // not free per micro-batch).
    val idxField = org.apache.spark.sql.types.StructField(
      org.apache.spark.sql.graft.SparkShims.rowIndexColumnName,
      org.apache.spark.sql.types.LongType, nullable = true)
    val dvCols = StructType(GraftPkScan.asNullable(dataCols).fields :+ idxField)
    val dvReadFunc = if (tableInfo.hasPrimaryKey) null else
      new ParquetFileFormat().buildReaderWithPartitionValues(
        spark,
        dataSchema = GraftPkScan.asNullable(tableInfo.dataSchema),
        partitionSchema = partSchema,
        requiredSchema = dvCols,
        filters = Nil,
        options = Map(org.apache.spark.sql.execution.datasources.FileFormat
          .OPTION_RETURNING_BATCH -> "false"),
        hadoopConf = ioConf)
    val dvSupport = if (tableInfo.hasPrimaryKey) null else
      GraftStreamDvSupport(
        tablePath,
        graft.write.GraftFs.broadcastConf(spark),
        idxOrd = dataCols.length,
        rowTypes = (dvCols.fields ++ partSchema.fields).map(_.dataType))
    // tombstone-marker support: marker-bearing files (re-emitted only under
    // ignoreChanges) read with the marker column appended so the reader can
    // withhold delete-marker rows and strip the column back out. Mutually
    // exclusive with DVs (markers are PK-only, DVs non-PK-only) — non-PK
    // streams never see marker files, so they skip this build.
    val tombField = org.apache.spark.sql.types.StructField(
      graft.meta.Tombstones.COL, org.apache.spark.sql.types.BooleanType,
      nullable = true)
    val tsCols = StructType(GraftPkScan.asNullable(dataCols).fields :+ tombField)
    val tsReadFunc = if (!tableInfo.hasPrimaryKey) null else
      new ParquetFileFormat().buildReaderWithPartitionValues(
        spark,
        dataSchema = StructType(
          GraftPkScan.asNullable(tableInfo.dataSchema).fields :+ tombField),
        partitionSchema = partSchema,
        requiredSchema = tsCols,
        filters = Nil,
        options = Map(org.apache.spark.sql.execution.datasources.FileFormat
          .OPTION_RETURNING_BATCH -> "false"),
        hadoopConf = ioConf)
    val tsSupport = GraftStreamTombstoneSupport(
      tombOrd = dataCols.length,
      rowTypes = (tsCols.fields ++ partSchema.fields).map(_.dataType))
    GraftStreamReaderFactory(readFunc, pkFactory, dvReadFunc, dvSupport,
      tsReadFunc, tsSupport)
  }
}

object GraftMicroBatchStream {
  /** Commits whose adds are NEW rows. */
  val APPEND_TYPES: Set[String] =
    Set("create", "clone", "append", "delta", "streaming")
  /** Commit types whose feed rows are pure INSERTS when the commit also
    * carries no removes and no tombstone markers ("delta" excluded — its
    * adds may OVERWRITE existing keys). Consumers must still cross-check
    * the removes/tombstone evidence. */
  val INSERT_ONLY_TYPES: Set[String] =
    Set("create", "clone", "append", "streaming")
  /** Commits that only rewrite existing rows into new files. */
  val REWRITE_TYPES: Set[String] =
    Set("compaction", "rebucket", "alter", "vacuum", "vacuum_end")
}

/** Streaming offset: `version` is the newest fully-processed log version;
  * while the initial snapshot is draining, `index` (>= 0) is the number of
  * snapshot units already emitted for the snapshot pinned at `version`
  * (-1 = snapshot complete / not applicable). */
case class GraftStreamOffset(version: Long, index: Long = -1L) extends Offset {
  override def json(): String =
    if (index < 0) version.toString // compact; also round-5 compatible
    else s"""{"version":$version,"index":$index}"""
}

object GraftStreamOffset {
  private val Pat = """\{"version":(-?\d+),"index":(-?\d+)\}""".r
  def fromJson(json: String): GraftStreamOffset = json.trim match {
    case Pat(v, i) => GraftStreamOffset(v.toLong, i.toLong)
    case plain => GraftStreamOffset(plain.toLong, -1L)
  }
}

/** One bin of (absPath, length, partitionValues, dvRelPath, hasTombstones)
  * entries — `dvRelPath` is empty for files without a deletion vector;
  * `hasTombstones` marks files carrying the `__graft_deleted` marker
  * column (their delete-marker rows are filtered at read). */
case class GraftStreamFilesPartition(
    files: Array[(String, Long, InternalRow, String, Boolean)])
  extends InputPartition

/** Deletion-vector plumbing for the streaming reader: where to load
  * vectors from, the row-index ordinal in the DV read layout, and that
  * layout's types (for the strip projection). */
case class GraftStreamDvSupport(
    tableRoot: String,
    conf: org.apache.spark.broadcast.Broadcast[
      org.apache.spark.util.SerializableConfiguration],
    idxOrd: Int,
    rowTypes: Array[org.apache.spark.sql.types.DataType])

/** Tombstone-marker plumbing for the streaming reader: the marker column's
  * ordinal in the marker read layout and that layout's types (for the
  * strip projection). */
case class GraftStreamTombstoneSupport(
    tombOrd: Int,
    rowTypes: Array[org.apache.spark.sql.types.DataType])

/** Dispatching reader factory: raw file bins for incremental batches and
  * non-PK snapshots; the PK merge factory for initial-snapshot merge
  * groups. Files carrying a deletion vector read through `dvReadFunc`
  * (which adds the row-index column) with masked rows dropped and the
  * index column stripped back out. */
case class GraftStreamReaderFactory(
    readFunc: PartitionedFile => Iterator[InternalRow],
    pkFactory: Option[PartitionReaderFactory] = None,
    dvReadFunc: PartitionedFile => Iterator[InternalRow] = null,
    dvSupport: GraftStreamDvSupport = null,
    tsReadFunc: PartitionedFile => Iterator[InternalRow] = null,
    tsSupport: GraftStreamTombstoneSupport = null)
  extends PartitionReaderFactory {

  /** Rows from a V1 read function, flattening any columnar batches. */
  def rawRows(
      f: PartitionedFile => Iterator[InternalRow],
      pf: PartitionedFile): Iterator[InternalRow] =
    f(pf).asInstanceOf[Iterator[Any]].flatMap {
      case b: ColumnarBatch => scala.jdk.CollectionConverters
        .IteratorHasAsScala(b.rowIterator()).asScala
      case r: InternalRow => Iterator.single(r)
    }

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = p match {
    case pk: GraftPkInputPartition =>
      pkFactory.getOrElse(throw new IllegalStateException(
        "merge partition planned for a non-PK stream")).createReader(pk)
    case _ =>
      GraftStreamReaderFactory.readerOf(
        p.asInstanceOf[GraftStreamFilesPartition].files.iterator.flatMap(fileRows))
  }

  /** One bin entry's rows, with deletion-vector-masked and delete-marker
    * rows dropped. */
  def fileRows(file: (String, Long, InternalRow, String, Boolean)): Iterator[InternalRow] = {
    val (absPath, length, partValues, dvRel, hasTombstones) = file
    val pf = PartitionedFile(partValues,
      SparkPath.fromPathString(absPath), 0, length, Array.empty, 0L,
      length, Map.empty)
    if (hasTombstones) {
      // withhold delete-marker rows; strip the marker column
      val s = tsSupport
      val proj = UnsafeProjection.create(
        s.rowTypes.indices.filterNot(_ == s.tombOrd).map(i =>
          org.apache.spark.sql.catalyst.expressions.BoundReference(
            i, s.rowTypes(i), nullable = true)))
      rawRows(tsReadFunc, pf)
        .filter(r => r.isNullAt(s.tombOrd) || !r.getBoolean(s.tombOrd))
        .map(proj)
    } else if (dvRel.isEmpty) rawRows(readFunc, pf)
    else {
      val s = dvSupport
      val bm = DeletionVectors.read(s.tableRoot, s.conf.value.value, dvRel)
      val proj = UnsafeProjection.create(
        s.rowTypes.indices.filterNot(_ == s.idxOrd).map(i =>
          org.apache.spark.sql.catalyst.expressions.BoundReference(
            i, s.rowTypes(i), nullable = true)))
      rawRows(dvReadFunc, pf)
        .filter(r => !bm.contains(r.getLong(s.idxOrd)))
        .map(proj)
    }
  }
}

object GraftStreamReaderFactory {
  /** A partition reader over `iter`, which holds nothing to close. */
  def readerOf(iter: Iterator[InternalRow]): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      override def next(): Boolean =
        if (iter.hasNext) { current = iter.next(); true } else false
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
}

/** Adds `toMicroBatchStream` to any batch scan the builders produce — the
  * batch path is untouched (pure delegation) — and restores the runtime
  * (DPP) filtering the stock V2 parquet scan lacks: a star join keyed on a
  * range partition column re-plans this scan with only the partitions the
  * dim side's completed broadcast can match (`delegate` swaps for a copy
  * carrying the extra partition filters; Spark re-calls `toBatch` after
  * `filter`, picking up the narrowed file list). */
class GraftStreamableScan(
    @volatile private[sources] var delegate: Scan,
    spark: SparkSession,
    tablePath: String,
    tableInfo: TableInfo,
    ignoreChanges: Boolean,
    options: Map[String, String] = Map.empty,
    private[sources] val dvByPath: Map[String, String] = Map.empty)
  extends Scan
  with org.apache.spark.sql.connector.read.SupportsReportStatistics
  with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {

  // restricted to columns surviving column pruning: PartitionPruning
  // resolves filterAttributes against the scan relation's OUTPUT and
  // THROWS (not skips) on a miss
  override def filterAttributes(): Array[
      org.apache.spark.sql.connector.expressions.NamedReference] = {
    val visible = delegate.readSchema().fieldNames.map(_.toLowerCase).toSet
    tableInfo.rangeColumns.filter(c => visible.contains(c.toLowerCase)).map(c =>
      org.apache.spark.sql.connector.expressions.Expressions.column(c)).toArray
  }

  override def filter(predicates: Array[
      org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit =
    delegate match {
      case p: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan =>
        val pschema = p.fileIndex.partitionSchema
        val exprs = predicates.toSeq.flatMap(RuntimeFilters.parse).flatMap {
          case (name, lits) =>
            pschema.fields.find(_.name.equalsIgnoreCase(name)).flatMap { field =>
              // type-exact only: a mistyped comparison could wrongly prune
              if (lits.forall(_.dataType == field.dataType)) {
                // fresh attribute is fine: PartitioningAwareFileIndex binds
                // partition filters by NAME, not exprId
                val attr = org.apache.spark.sql.catalyst.expressions
                  .AttributeReference(field.name, field.dataType,
                    nullable = true)()
                Some(org.apache.spark.sql.catalyst.expressions.In(attr,
                  lits.map(l => org.apache.spark.sql.catalyst.expressions
                    .Literal(l.value, l.dataType))))
              } else None
            }
        }
        if (exprs.nonEmpty) {
          delegate = p.copy(partitionFilters = p.partitionFilters ++ exprs)
        }
      case _ => () // unknown delegate: keep everything (never a correctness gate)
    }

  // stats drive join-side broadcast decisions — losing them through the
  // wrapper would silently degrade batch plans
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    delegate match {
      case s: org.apache.spark.sql.connector.read.SupportsReportStatistics =>
        s.estimateStatistics()
      case _ => new org.apache.spark.sql.connector.read.Statistics {
        override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.empty()
        override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
      }
    }

  override def readSchema(): StructType = delegate.readSchema()
  override def description(): String = delegate.description()
  override def toBatch: org.apache.spark.sql.connector.read.Batch =
    delegate match {
      // deletion vectors present: mask them below the scan (runtime
      // partition filters have already been folded into the delegate)
      case p: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
          if dvByPath.nonEmpty =>
        new DvMaskedBatch(p, dvByPath, tablePath)
      case _ => delegate.toBatch
    }
  override def supportedCustomMetrics():
      Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    delegate.supportedCustomMetrics()
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new GraftMicroBatchStream(spark, tablePath, tableInfo,
      delegate.readSchema(), ignoreChanges, options)

  // Delegate equality to the inner scan: without this, two identical
  // non-PK scans never compare equal and ReuseExchange / scan dedup cannot
  // fire across repeated subplans (e.g. a self-join of one graft table).
  // dvByPath participates: a DV delete re-adds the SAME data-file paths, so
  // two snapshots' scans can hold identical delegates (same file listing)
  // while masking differently — delegate equality alone would let plan
  // reuse serve unmasked rows
  override def equals(other: Any): Boolean = other match {
    case s: GraftStreamableScan =>
      delegate == s.delegate && dvByPath == s.dvByPath
    case _ => false
  }
  override def hashCode(): Int = delegate.hashCode() * 31 + dvByPath.hashCode()
}
