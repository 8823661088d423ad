package graft.sources

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, JoinedRow, SortOrder}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.graft.SparkShims
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.meta.{DataFileInfo, Snapshot, TableInfo}
import graft.tables.ChangeFeed

/** The change-feed planner: maps each commit of a version window to the
  * row-level changes it made, with the Delta-CDF column convention
  * (`_change_type` / `_commit_version` / `_commit_timestamp`) appended.
  * It serves both entry points:
  *   - STREAMING, `readStream.format("graft").option("readChangeFeed",
  *     "true")`: version by version through the same admission-controlled
  *     micro-batch machinery as the plain source (maxFilesPerTrigger /
  *     maxBytesPerTrigger / Trigger.AvailableNow / checkpoint restart);
  *   - BATCH, `ChangeFeed.changes` / `graft_table_changes`: one
  *     [[GraftCdfWindowScan]] over the whole window (`planWindow`).
  *
  * Per-commit mapping (`planVersion` — the only place a commit type maps
  * to a change shape):
  *   - initial snapshot (streams without `startingVersion`): merged
  *     current state, `insert`;
  *   - `append`/`create`/`clone`/`streaming`: added rows, `insert`;
  *   - `delta` (merge-on-read upsert): rows as written, `upsert` — unless
  *     the commit carries tombstone markers, or the batch caller asked for
  *     `resolveUpserts`, in which case it diffs like an update;
  *   - `overwrite`: removed files' merged pre-state `delete` + added files
  *     `insert`;
  *   - `update`/`delete`/merge-upsert/`restore` on PK tables: a
  *     ZERO-SHUFFLE row diff — the write path keeps pre- and post-files
  *     bucket-aligned, so each task opens one touched (range, bucket)
  *     group's pre-state and post-state with merge readers (both
  *     PK-sorted) and emits `insert`/`delete`/`update_preimage`/
  *     `update_postimage` from a single sort-merge pass. Untouched groups
  *     are skipped by file-set equality, so a restore reads O(changed
  *     groups), not O(table);
  *   - non-PK `update`/`delete` whose changes are deletion-vector growth:
  *     each re-added file's newly masked rows are the deletions /
  *     pre-images, the appended files the post-images;
  *   - non-PK rewrites DVs cannot express, and non-PK `restore`: no key to
  *     pair images inside a task. They come back as a [[CdfRowDiff]]; the
  *     batch feed runs a whole-row count-aggregate diff on them, the stream
  *     fails loudly (or skips them under `ignoreChanges`) and points at
  *     the batch TVF;
  *   - `compaction`/`alter`/`rebucket`/`vacuum` markers: no logical
  *     change, skipped.
  *
  * Scale: planning touches only each version's log metadata. Files whose
  * rows are read as-is (appends, upserts, post-images) from any number
  * of versions bin-pack together, each file tagged with its own commit,
  * so a 1000-version CDC window is a handful of tasks; the diff work is
  * proportional to the data each commit rewrote, with no exchange.
  */
class GraftCdfMicroBatchStream(
    spark: SparkSession,
    tablePath: String,
    tableInfo: TableInfo,
    baseSchema: StructType, // data + range columns, WITHOUT the change cols
    ignoreChanges: Boolean,
    options: Map[String, String],
    resolveUpserts: Boolean = false)
  extends GraftMicroBatchStream(
    spark, tablePath, tableInfo, baseSchema, ignoreChanges, options) {

  import GraftMicroBatchStream.REWRITE_TYPES
  import GraftCdfMicroBatchStream._

  /** `startingVersion` skips the initial snapshot and begins the feed at
    * the given commit (Delta option parity). */
  private val startingVersion: Option[Long] =
    options.collectFirst { case (k, v) if k.equalsIgnoreCase("startingVersion") =>
      v.toLong }

  override def initialOffset(): Offset = startingVersion match {
    case Some(v) => GraftStreamOffset(math.max(v, 0L) - 1L, -1L)
    case None => GraftStreamOffset(-1L, -1L)
  }

  override protected def initialSnapshotEnabled: Boolean =
    startingVersion.isEmpty

  // ------------------------------------------------------------------
  // per-version change summaries
  // ------------------------------------------------------------------

  private case class VersionChanges(
      commitType: String, tsMillis: Long,
      adds: Seq[DataFileInfo], removed: Seq[DataFileInfo])

  private val changeCache = mutable.LongMap.empty[VersionChanges]

  private def commitChanges(v: Long): VersionChanges =
    changeCache.getOrElseUpdate(v, {
      val entries = store.read(tablePath, v)
      val info = entries.flatMap(_.commit).headOption
      val tpe = info.map(_.commitType).getOrElse("append")
      val ts = info.map(_.timestamp).getOrElse(0L)
      val adds = graft.meta.DataFileInfo.stampedAdds(entries, v)
      val removePaths = entries.flatMap(_.remove).map(_.path).toSet
      val removed =
        if (removePaths.isEmpty) Nil
        else Snapshot.replay(store, tablePath, v - 1).files
          .filter(f => removePaths(f.path))
      VersionChanges(tpe, ts, adds, removed)
    })

  /** Admission accounting: a CDF batch's cost covers both sides of the
    * diff. Never throws — rewrites are this source's whole point. */
  override protected def admissionFiles(v: Long): Seq[DataFileInfo] = {
    val c = commitChanges(v)
    if (REWRITE_TYPES.contains(c.commitType)) Nil else c.adds ++ c.removed
  }

  override def commit(end: Offset): Unit = {
    super.commit(end)
    val e = end.asInstanceOf[GraftStreamOffset]
    if (e.index < 0) changeCache.keys.filter(_ <= e.version)
      .foreach(changeCache.remove)
  }

  // ------------------------------------------------------------------
  // planning
  // ------------------------------------------------------------------

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftStreamOffset]
    val e = end.asInstanceOf[GraftStreamOffset]
    if (e.version < 0) return Array.empty
    if (inSnapshotPhase(s)) {
      // initial snapshot slice, tagged insert at the pinned version
      val sv = if (s.version < 0) e.version else s.version
      require(e.version == sv,
        s"corrupt offsets: initial snapshot pinned at $sv but batch end is ${e.version}")
      val units = snapshotUnits(sv)
      val from = math.max(s.index, 0L).toInt
      val until = if (e.index >= 0) e.index.toInt else units.length
      val slice = units.slice(from, until)
      if (slice.isEmpty) return Array.empty
      partitionsOf(merged(slice.flatten,
        CdfTag("insert", sv, commitChanges(sv).tsMillis)))
    } else {
      partitionsOf(((s.version + 1) to e.version).flatMap { v =>
        val units = planVersion(v)
        units.collectFirst { case d: CdfRowDiff => d } match {
          case None => units
          case Some(_) if ignoreChanges => Nil
          case Some(d) => throw new UnsupportedOperationException(
            s"streaming change feed of $tablePath hit a '${d.commitType}' " +
            s"commit at version $v on a non-primary-key table; row-level " +
            "diffs need a key to pair pre/post images inside a task. Use the " +
            "batch feed (graft_table_changes) for this window, or set " +
            ".option(\"ignoreChanges\", \"true\") to skip such commits")
        }
      })
    }
  }

  /** Batch entry point: the task partitions of every commit in
    * `[from, to]`, plus the row diffs (see [[CdfRowDiff]]) the tasks
    * cannot express, for the caller to compute. */
  def planWindow(from: Long, to: Long): (Array[InputPartition], Seq[CdfRowDiff]) = {
    val units = (from to to).flatMap(planVersion)
    (partitionsOf(units), units.collect { case d: CdfRowDiff => d })
  }

  /** Raw-read files of all units share size-packed bins (each file keeps
    * its own commit tag); diff and merge partitions stay as planned. */
  private def partitionsOf(units: Seq[CdfUnit]): Array[InputPartition] = {
    val files = units.collect { case r: RawFiles => r.files.map(_ -> r.tag) }
      .flatten
    checkNullFill(files.map(_._1))
    val tags = files.iterator.map(_._2)
    val bins = binPack(files.map(_._1)).map { case b: GraftStreamFilesPartition =>
      CdfFilesPartition(b, b.files.map(_ => tags.next())): InputPartition
    }
    bins ++ units.collect { case Planned(parts) => parts }.flatten
  }

  private def raw(files: Seq[DataFileInfo], tag: CdfTag): Seq[CdfUnit] =
    if (files.isEmpty) Nil else Seq(RawFiles(files, tag))

  /** Merged read of `files`: PK tables one partition per bucket, non-PK
    * tables the files as they are (deletion vectors still mask). */
  private def merged(files: Seq[DataFileInfo], tag: CdfTag): Seq[CdfUnit] =
    if (!tableInfo.hasPrimaryKey) raw(files, tag)
    else if (files.isEmpty) Nil
    else Seq(Planned(pkScanFor(files).planInputPartitions().collect {
      case p: GraftPkInputPartition if p.groups.nonEmpty =>
        CdfTaggedPartition(p, tag): InputPartition
    }.toSeq))

  private def planVersion(v: Long): Seq[CdfUnit] = {
    val c = commitChanges(v)
    def tag(tpe: String) = CdfTag(tpe, v, c.tsMillis)
    c.commitType match {
      case t if REWRITE_TYPES.contains(t) => Nil
      case "create" | "clone" | "append" | "streaming" =>
        // self-contained new rows: raw file reads
        raw(c.adds, tag("insert"))
      case "delta" if !resolveUpserts && !graft.meta.Tombstones.anyHas(c.adds) =>
        raw(c.adds, tag("upsert"))
      case "delta" =>
        // tombstone-bearing delta (MERGE with a DELETE clause / tombstone
        // DELETE): rows-as-written would misreport deleted keys as upserts.
        // Under resolveUpserts the caller wants each written row resolved
        // against the bucket's v-1 state. Either way the exact pre/post
        // diff emits insert/delete/update pairs instead
        diffPartitions(v, c)
      case "overwrite" =>
        // a replacement is a statement about every changed file
        merged(c.removed, tag("delete")) ++ merged(c.adds, tag("insert"))
      case _ if tableInfo.hasPrimaryKey =>
        diffPartitions(v, c) // update | delete | merge-upsert | restore
      case "delete" if c.adds.isEmpty =>
        // partition-scoped metadata-only DELETE (files removed whole,
        // nothing rewritten): the removed files' surviving rows ARE the
        // exact deletions. DV-masked rows were already dead and do not
        // re-report.
        raw(c.removed, tag("delete"))
      case "restore" =>
        // a restore is a whole-table statement: a file-level diff would
        // lie when it re-adds a file under an older vector
        val prev = Snapshot.replay(store, tablePath, v - 1).files
        Seq(CdfRowDiff(v, c.tsMillis, c.commitType, DELETE_INSERT, prev,
          Snapshot.replay(store, tablePath, v).files))
      case _ => nonPkRewrite(v, c)
    }
  }

  /** A non-PK update/delete whose row-level changes are fully expressible
    * as deletion-vector growth needs no keys: each re-added file's
    * newly-masked rows (dvNew \ dvOld — row indices against the immutable
    * file) are the exact pre-images/deletions, and an update's appended
    * image files are self-contained post-images. Commits that also
    * REWROTE files (threshold fallback, fully-dead removal) add a whole-row
    * diff of the removed files against the fresh adds. */
  private def nonPkRewrite(v: Long, c: VersionChanges): Seq[CdfUnit] = {
    val prevByPath = Snapshot.replay(store, tablePath, v - 1)
      .files.map(f => f.path -> f).toMap
    val (reAdds, freshAdds) = c.adds.partition(f => prevByPath.contains(f.path))
    val dvAdds = reAdds.filter(f =>
      f.hasDv && prevByPath(f.path).dvPath != f.dvPath)
    val labels =
      if (c.commitType == "delete") DELETE_INSERT
      else ("update_preimage", "update_postimage")
    val partRow = partitionRows()
    val dvParts = Planned(dvAdds.map(f => CdfDvPartition(
      f.resolvedPath(tablePath), f.size, partRow(f),
      prevByPath(f.path).dvPath, f.dvPath, CdfTag(labels._1, v, c.tsMillis))))
    val dvOnly = (c.commitType == "update" || c.commitType == "delete") &&
      c.removed.isEmpty && reAdds.nonEmpty && dvAdds.size == reAdds.size
    if (dvOnly) dvParts +: raw(freshAdds, CdfTag(labels._2, v, c.tsMillis))
    else Seq(dvParts,
      CdfRowDiff(v, c.tsMillis, c.commitType, labels, c.removed, freshAdds))
  }

  /** Pair each touched (range, bucket) group's pre-state (version v-1)
    * with its post-state (version v); groups with identical file sets diff
    * to nothing and are skipped. A commit that changed the bucket count
    * (a restore across a rebucket) moves keys between bucket ids, so its
    * groups pair by range partition alone, each side merging its buckets
    * back into one key order. */
  private def diffPartitions(v: Long, c: VersionChanges): Seq[CdfUnit] = {
    if (c.adds.isEmpty && c.removed.isEmpty) return Nil
    val prevSnap = Snapshot.replay(store, tablePath, v - 1)
    val snap = Snapshot.replay(store, tablePath, v)
    val relayout = prevSnap.tableInfo.bucketNum != snap.tableInfo.bucketNum
    def key(f: DataFileInfo) = (f.rangeKey, if (relayout) -1 else f.bucket)
    val touched = (c.adds ++ c.removed).map(key).toSet
    def groups(s: Snapshot) = s.files.filter(f => touched(key(f))).groupBy(key)
    val (pre, post) = (groups(prevSnap), groups(snap))
    def fileSet(k: (String, Int), g: Map[(String, Int), Seq[DataFileInfo]]) =
      g.getOrElse(k, Nil).map(f => (f.path, f.writeVersion)).toSet
    val changed = touched.filter(k => fileSet(k, pre) != fileSet(k, post))
    // plan each side once, then hand every changed key its merge groups
    def planned(g: Map[(String, Int), Seq[DataFileInfo]]) = {
      val files = changed.toSeq.flatMap(g.getOrElse(_, Nil))
      val keyOf = files.map(f => f.resolvedPath(tablePath) -> key(f)).toMap
      pkScanFor(files).planInputPartitions().iterator
        .collect { case p: GraftPkInputPartition => p.groups }.flatten
        .toSeq.groupBy(g => keyOf(g.files.head.absPath))
    }
    val (preGroups, postGroups) = (planned(pre), planned(post))
    Seq(Planned(changed.toSeq.sorted.map(k => CdfDiffPartition(
      preGroups.getOrElse(k, Nil).toArray,
      postGroups.getOrElse(k, Nil).toArray, v, c.tsMillis))))
  }

  // ------------------------------------------------------------------
  // reading
  // ------------------------------------------------------------------

  override def createReaderFactory(): PartitionReaderFactory = {
    val inner = super.createReaderFactory().asInstanceOf[GraftStreamReaderFactory]
    // output layout of every inner reader: dataCols ++ partSchema
    val layout = StructType(dataCols.fields ++ partSchema.fields)
    val keyOrdinals = tableInfo.hashColumns.map(c =>
      layout.fieldNames.indexWhere(_.equalsIgnoreCase(c))).toArray
    val compareOrdinals = layout.fields.indices
      .filterNot(keyOrdinals.contains).toArray
    GraftCdfReaderFactory(inner, layout, keyOrdinals, compareOrdinals)
  }
}

object GraftCdfMicroBatchStream {
  private val DELETE_INSERT = ("delete", "insert")

  /** What one commit contributes to a window's plan. */
  private[sources] sealed trait CdfUnit
  /** Files read as they are, every row tagged `tag`. */
  private[sources] case class RawFiles(files: Seq[DataFileInfo], tag: CdfTag)
    extends CdfUnit
  /** Partitions that need their own reader (merge, diff, DV selection). */
  private[sources] case class Planned(parts: Seq[InputPartition]) extends CdfUnit
}

/** A non-PK commit the task-local readers cannot express — a rewrite
  * beyond deletion vectors, or a restore: the rows of `pre` (live at
  * `version - 1`) and of `post` (live at `version`) differ as whole-row
  * multisets. Rows only in `pre` are labelled `labels._1`, rows only in
  * `post` `labels._2`. The batch feed computes the difference with a
  * count aggregate; the stream refuses such commits. */
case class CdfRowDiff(
    version: Long,
    tsMillis: Long,
    commitType: String,
    labels: (String, String),
    pre: Seq[DataFileInfo],
    post: Seq[DataFileInfo])
  extends GraftCdfMicroBatchStream.CdfUnit

/** The change columns every row of a partition (or file) carries. */
case class CdfTag(changeType: String, version: Long, tsMillis: Long)

/** Appends the three CDF columns to whatever `inner` emits. */
case class CdfTaggedPartition(inner: InputPartition, tag: CdfTag)
  extends InputPartition

/** A size-packed bin of raw files, `tags(i)` the change columns of
  * `bin.files(i)`'s rows. */
case class CdfFilesPartition(bin: GraftStreamFilesPartition, tags: Array[CdfTag])
  extends InputPartition

/** One deletion-vector re-add: the file's rows at indices in
  * (dvNew \ dvOld) are this commit's pre-images/deletions. */
case class CdfDvPartition(
    absPath: String,
    length: Long,
    partValues: InternalRow,
    dvOld: String,
    dvNew: String,
    tag: CdfTag)
  extends InputPartition

/** One touched group's pre/post states for a rewrite diff: usually one
  * (range, bucket) merge group per side, every bucket of a range
  * partition when the commit changed the bucket count. */
case class CdfDiffPartition(
    pre: Array[GraftFileGroup],
    post: Array[GraftFileGroup],
    version: Long,
    tsMillis: Long)
  extends InputPartition

case class GraftCdfReaderFactory(
    inner: GraftStreamReaderFactory,
    layout: StructType,
    keyOrdinals: Array[Int],
    compareOrdinals: Array[Int])
  extends PartitionReaderFactory {

  private def changeRow(tag: CdfTag): InternalRow =
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(tag.changeType), tag.version, tag.tsMillis * 1000L))

  private def rowsOf(r: PartitionReader[InternalRow]): Iterator[InternalRow] =
    Iterator.continually(r).takeWhile(_.next()).map(_.get())

  private def tagged(rows: Iterator[InternalRow], tag: CdfTag): Iterator[InternalRow] = {
    val joined = new JoinedRow
    val t = changeRow(tag)
    rows.map(joined(_, t))
  }

  /** Row ordering over the PK columns (both sides emit PK-sorted rows). */
  private def keyOrdering: Ordering[InternalRow] =
    new LazilyGeneratedOrdering(keyOrdinals.toIndexedSeq.map(i =>
      SortOrder(BoundReference(i, layout(i).dataType, nullable = true),
        org.apache.spark.sql.catalyst.expressions.Ascending)))

  /** Pre/post value EQUALITY (the diff never needs an order): codegen'd
    * ordering over the orderable columns, plus interpreted semantic
    * equality for unorderable ones — a MAP column would make
    * GenerateOrdering throw at reader creation, failing the stream for a
    * table the write path happily accepts. Map equality is unordered
    * (entry multisets; SQL map keys are always orderable scalars). Any
    * other unorderable type conservatively compares unequal — a spurious
    * update pre/post pair beats a crashed stream or a missed change. */
  private def valuesEqualFn: (InternalRow, InternalRow) => Boolean = {
    import org.apache.spark.sql.catalyst.util.TypeUtils
    val (orderable, unorderable) = compareOrdinals.partition(i =>
      org.apache.spark.sql.catalyst.expressions.RowOrdering
        .isOrderable(layout(i).dataType))
    val ord: Ordering[InternalRow] =
      if (orderable.isEmpty) null
      else new LazilyGeneratedOrdering(orderable.toIndexedSeq.map(i =>
        SortOrder(BoundReference(i, layout(i).dataType, nullable = true),
          org.apache.spark.sql.catalyst.expressions.Ascending)))
    def valueEq(dt: org.apache.spark.sql.types.DataType,
        a: Any, b: Any): Boolean = (a, b) match {
      case (null, null) => true
      case (null, _) | (_, null) => false
      case _ => dt match {
        case mt: org.apache.spark.sql.types.MapType =>
          val (ma, mb) =
            (a.asInstanceOf[org.apache.spark.sql.catalyst.util.MapData],
             b.asInstanceOf[org.apache.spark.sql.catalyst.util.MapData])
          if (ma.numElements() != mb.numElements()) false
          else {
            val ko = TypeUtils.getInterpretedOrdering(mt.keyType)
              .asInstanceOf[Ordering[Any]]
            def entries(m: org.apache.spark.sql.catalyst.util.MapData) =
              (0 until m.numElements()).map(i =>
                (m.keyArray().get(i, mt.keyType),
                 m.valueArray().get(i, mt.valueType))).sortBy(_._1)(ko)
            entries(ma).zip(entries(mb)).forall { case ((k1, v1), (k2, v2)) =>
              ko.compare(k1, k2) == 0 && valueEq(mt.valueType, v1, v2)
            }
          }
        case other
            if org.apache.spark.sql.catalyst.expressions.RowOrdering
              .isOrderable(other) =>
          TypeUtils.getInterpretedOrdering(other)
            .asInstanceOf[Ordering[Any]].compare(a, b) == 0
        case _ => false
      }
    }
    (pre, post) =>
      (ord == null || ord.compare(pre, post) == 0) &&
      unorderable.forall { i =>
        val dt = layout(i).dataType
        valueEq(dt, pre.get(i, dt), post.get(i, dt))
      }
  }

  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    p match {
      case CdfTaggedPartition(ip, tag) =>
        GraftStreamReaderFactory.readerOf(
          tagged(rowsOf(inner.createReader(ip)), tag))
      case CdfFilesPartition(bin, tags) =>
        GraftStreamReaderFactory.readerOf(bin.files.iterator.zip(tags)
          .flatMap { case (f, tag) => tagged(inner.fileRows(f), tag) })
      case d: CdfDiffPartition => GraftStreamReaderFactory.readerOf(diffRows(d))
      case d: CdfDvPartition =>
        GraftStreamReaderFactory.readerOf(tagged(dvSelectedRows(d), d.tag))
      case other => inner.createReader(other)
    }

  /** The rows of a file whose index the new vector masks beyond the old —
    * the inverse of the scan-side mask (selection, not exclusion) — with
    * the row-index column stripped back out. */
  private def dvSelectedRows(d: CdfDvPartition): Iterator[InternalRow] = {
    val s = inner.dvSupport
    val dvNew = DeletionVectors.read(s.tableRoot, s.conf.value.value, d.dvNew)
    val delta =
      if (d.dvOld.isEmpty) dvNew
      else org.roaringbitmap.longlong.Roaring64Bitmap.andNot(dvNew,
        DeletionVectors.read(s.tableRoot, s.conf.value.value, d.dvOld))
    val pf = org.apache.spark.sql.execution.datasources.PartitionedFile(
      d.partValues, org.apache.spark.paths.SparkPath.fromPathString(d.absPath),
      0, d.length, Array.empty, 0L, d.length, Map.empty)
    val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
      .create(s.rowTypes.indices.filterNot(_ == s.idxOrd).map(i =>
        BoundReference(i, s.rowTypes(i), nullable = true)))
    inner.rawRows(inner.dvReadFunc, pf)
      .filter(r => delta.contains(r.getLong(s.idxOrd)))
      .map(proj)
  }

  /** One diff side's merged rows in key order, COPIED (readers reuse
    * buffers). Several groups (a bucket-count change) hold disjoint keys,
    * each group PK-sorted: a k-way merge restores one key order. */
  private def sideRows(groups: Array[GraftFileGroup],
      keyOrd: Ordering[InternalRow]): Iterator[InternalRow] = {
    val its = groups.toSeq.map(g =>
      rowsOf(inner.createReader(GraftPkInputPartition(0, Array(g))))
        .map(_.copy()).buffered).filter(_.hasNext)
    if (its.size <= 1) its.headOption.getOrElse(Iterator.empty)
    else new Iterator[InternalRow] {
      private val heads = mutable.PriorityQueue(its: _*)(
        Ordering.by[scala.collection.BufferedIterator[InternalRow], InternalRow](_.head)(keyOrd)
          .reverse)
      override def hasNext: Boolean = heads.nonEmpty
      override def next(): InternalRow = {
        val it = heads.dequeue()
        val row = it.next()
        if (it.hasNext) heads.enqueue(it)
        row
      }
    }
  }

  /** Single-pass sort-merge diff of a group's pre/post states. */
  private def diffRows(d: CdfDiffPartition): Iterator[InternalRow] = {
    val keyOrd = keyOrdering
    val valuesEqual = valuesEqualFn
    val pre = sideRows(d.pre, keyOrd).buffered
    val post = sideRows(d.post, keyOrd).buffered
    val joined = new JoinedRow
    def tag(tpe: String) = changeRow(CdfTag(tpe, d.version, d.tsMillis))
    val (insertTag, deleteTag, updPreTag, updPostTag) = (tag("insert"),
      tag("delete"), tag("update_preimage"), tag("update_postimage"))
    def out(row: InternalRow, t: InternalRow) = joined(row, t).copy()
    Iterator.unfold(()) { _ =>
      if (!pre.hasNext && !post.hasNext) None
      else {
        val c =
          if (!pre.hasNext) 1
          else if (!post.hasNext) -1
          else keyOrd.compare(pre.head, post.head)
        val rows =
          if (c < 0) Seq(out(pre.next(), deleteTag))
          else if (c > 0) Seq(out(post.next(), insertTag))
          else {
            val (a, b) = (pre.next(), post.next())
            // identical rows carried over by the rewrite: suppressed
            if (valuesEqual(a, b)) Nil
            else Seq(out(a, updPreTag), out(b, updPostTag))
          }
        Some((rows, ()))
      }
    }.flatten
  }
}

/** Scan + builder for `readStream ... option("readChangeFeed", "true")`:
  * the micro-batch entry point of [[GraftCdfMicroBatchStream]]. A batch
  * read with that option is refused — the window's bounds and
  * `resolveUpserts` are `ChangeFeed.changes` arguments, read through
  * [[GraftCdfWindowScan]]. */
class GraftCdfScan(
    spark: SparkSession,
    path: String,
    tableInfo: TableInfo,
    baseSchema: StructType,
    options: Map[String, String])
  extends Scan {

  override def readSchema(): StructType =
    StructType(baseSchema.fields ++ GraftCdfScan.CHANGE_FIELDS)

  override def description(): String = s"GraftCdfScan $path"

  override def toBatch: Batch = throw new UnsupportedOperationException(
    "batch change-feed reads go through the graft_table_changes table " +
    "function (or ChangeFeed.changes); readChangeFeed is a streaming option")

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new GraftCdfMicroBatchStream(spark, path, tableInfo, baseSchema,
      options.exists { case (k, v) =>
        k.equalsIgnoreCase("ignoreChanges") && v.toBoolean },
      options)
}

/** Batch read of one change window: a single DSv2 scan whose partitions
  * the planner computed up front (`planWindow`). */
class GraftCdfWindowScan(
    planner: GraftCdfMicroBatchStream,
    parts: Array[InputPartition],
    schema: StructType,
    path: String)
  extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def description(): String = s"GraftCdfWindowScan $path"
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] = parts
  override def createReaderFactory(): PartitionReaderFactory =
    planner.createReaderFactory()
}

object GraftCdfWindowScan {
  /** The change rows of `[from, to]` the planner's tasks produce, as a
    * DataFrame over one scan (data, then range, then change columns, all
    * nullable, in the schema of `end`, the snapshot at `to`), plus the
    * row diffs the tasks cannot express. */
  def read(
      spark: SparkSession, path: String, end: Snapshot, from: Long,
      resolveUpserts: Boolean): (DataFrame, Seq[CdfRowDiff]) = {
    val ti = end.tableInfo
    val base = GraftPkScan.asNullable(
      StructType(ti.dataSchema.fields ++ ti.rangePartitionSchema.fields))
    val planner = new GraftCdfMicroBatchStream(spark, path, ti, base,
      ignoreChanges = false, Map.empty, resolveUpserts)
    val (parts, diffs) = planner.planWindow(from, end.version)
    val scan = new GraftCdfWindowScan(planner, parts, StructType(base.fields ++
      GraftCdfScan.CHANGE_FIELDS.map(_.copy(nullable = true))), path)
    val table = new Table with SupportsRead {
      override def name(): String = scan.description()
      override def schema(): StructType = scan.readSchema()
      override def capabilities(): java.util.Set[TableCapability] =
        java.util.EnumSet.of(TableCapability.BATCH_READ)
      override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
        () => scan
    }
    (SparkShims.ofRows(spark, DataSourceV2Relation.create(
      table, None, None, CaseInsensitiveStringMap.empty())), diffs)
  }
}

object GraftCdfScan {
  val CHANGE_FIELDS: Array[StructField] = Array(
    StructField(ChangeFeed.CHANGE_TYPE, StringType, nullable = false),
    StructField(ChangeFeed.COMMIT_VERSION, LongType, nullable = false),
    StructField(ChangeFeed.COMMIT_TIMESTAMP, TimestampType, nullable = false))

  def wantsCdf(options: Map[String, String]): Boolean =
    options.exists { case (k, v) =>
      k.equalsIgnoreCase("readChangeFeed") && v.toBoolean }
}

class GraftCdfScanBuilder(
    spark: SparkSession,
    path: String,
    tableInfo: TableInfo,
    baseSchema: StructType,
    options: Map[String, String])
  extends ScanBuilder {
  override def build(): Scan =
    new GraftCdfScan(spark, path, tableInfo, baseSchema, options)
}
