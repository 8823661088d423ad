package graft.tables

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.meta.{DataFileInfo, Snapshot, SnapshotManagement}
import graft.sources.{CdfRowDiff, GraftCdfWindowScan, GraftRead}

/** Change Data Feed computed from the commit log — `changes(start, end)`
  * returns every row-level change in the version window as a DataFrame with
  * `_change_type` / `_commit_version` / `_commit_timestamp` columns (the
  * Delta-CDF column convention, so downstream CDC consumers port over
  * unchanged).
  *
  * The reference has no change feed; its log (Cassandra `meta/MetaCommit`)
  * records the same add/remove file sets this implementation diffs. Unlike
  * Delta's CDF (which writes extra change files at commit time), Graft
  * derives changes ON READ from the files each commit added and removed.
  * The batch feed and the streaming `readChangeFeed` source share one
  * planner, [[graft.sources.GraftCdfMicroBatchStream]], which holds the
  * per-commit mapping. Here the whole window reads through ONE DSv2 scan:
  *   - files whose rows are the changes (appends, raw upserts, update
  *     post-images) read as they are, bin-packed across versions with each
  *     file tagged by its own commit;
  *   - each PK rewrite (update/delete/merge/restore, tombstone deltas, and
  *     every delta under `resolveUpserts`) diffs its touched (range,
  *     bucket) groups' pre- and post-state by a task-local sort-merge, with
  *     no exchange — key only in post → `insert`, only in pre → `delete`,
  *     any other column changed → `update_preimage` + `update_postimage`,
  *     rows the rewrite carried over untouched suppressed;
  *   - non-PK deletion-vector commits read just the newly masked rows.
  *
  * What no task can express — a non-PK rewrite beyond deletion vectors,
  * or a non-PK restore: there is no key to pair images — the planner hands
  * back as (pre files, post files), and this object diffs by whole row:
  * one count aggregate over all such commits of the window, each surviving
  * row emitted |count| times.
  *
  * Columns: the window's last schema (data, then range columns), then the
  * three change columns, all nullable; files from before a schema ADD
  * null-fill the newer columns. Cost is proportional to the data the
  * window's commits added or rewrote, never to table size; nothing is
  * collected.
  */
object ChangeFeed {
  val CHANGE_TYPE = "_change_type"
  val COMMIT_VERSION = "_commit_version"
  val COMMIT_TIMESTAMP = "_commit_timestamp"

  /** Backtick-escape a column name for `col()` — a column literally named
    * `a.b` must resolve as one column, not a struct path. */
  private def bq(name: String): String = s"`${name.replace("`", "``")}`"

  /** `resolveUpserts = true` trades feed cost for exact images: instead of
    * emitting a tombstone-free `delta` commit's rows as-written with type
    * `upsert` (the cheap default — one scan of the commit's own files), it
    * diffs the touched buckets' MERGED state at v-1 vs v, so every row
    * resolves to `insert` or an `update_preimage`/`update_postimage` pair.
    * Consumers that fold ±weighted images (incremental MV refresh) need
    * the pre-images; plain CDC mirroring does not and should keep the
    * default. Cost: ∝ the touched buckets' data per delta commit. */
  def changes(
      spark: SparkSession,
      tablePath: String,
      startVersion: Long,
      endVersion: Long = -1L,
      resolveUpserts: Boolean = false): DataFrame = {
    val path = SnapshotManagement.normalize(tablePath)
    val store = SnapshotManagement.store
    val latest = store.latestVersion(path)
    if (latest < 0) throw new graft.meta.GraftTableNotFoundException(path)
    val end = if (endVersion < 0L) latest else endVersion
    require(startVersion >= 0 && startVersion <= end && end <= latest,
      s"change window [$startVersion, $end] out of range [0, $latest] for $path")
    val (scanned, rowDiffs) = GraftCdfWindowScan.read(spark, path,
      Snapshot.replay(store, path, end), startVersion, resolveUpserts)
    wholeRowDiff(spark, path, rowDiffs, scanned.schema)
      .fold(scanned)(scanned.union)
  }

  /** Whole-row multiset diff of every commit's pre files (read at v-1)
    * against its post files (read at v): a rewrite that carried a row over
    * unchanged cancels out. Group-by-struct equality is null-safe and
    * NaN/-0.0-normalizing, like `exceptAll`'s own aggregate rewrite. None
    * when no commit has rows on either side. */
  private def wholeRowDiff(
      spark: SparkSession, path: String, diffs: Seq[CdfRowDiff],
      schema: StructType): Option[DataFrame] = {
    val store = SnapshotManagement.store
    val rowFields = schema.fields.toSeq.dropRight(3) // data + range columns
    def side(d: CdfRowDiff, files: Seq[DataFileInfo], version: Long,
        sign: Long): Option[DataFrame] =
      if (files.isEmpty) None
      else {
        val df = GraftRead.readFiles(spark, path,
          Snapshot.replay(store, path, version), files)
        // align to the window's columns: evolution-added columns null-fill
        val row = struct(rowFields.map { f =>
          (if (df.columns.contains(f.name)) col(bq(f.name)) else lit(null))
            .cast(f.dataType).as(f.name)
        }: _*)
        Some(df.select(row.as("__r"), lit(d.version).as("__v"),
          lit(d.tsMillis).as("__ts"), lit(d.labels._1).as("__lp"),
          lit(d.labels._2).as("__lq"), lit(sign).as("__s")))
      }
    val sides = diffs.flatMap(d =>
      side(d, d.pre, d.version - 1, 1L) ++ side(d, d.post, d.version, -1L))
    if (sides.isEmpty) return None
    val counted = sides.reduce(_.union(_))
      .groupBy("__v", "__ts", "__lp", "__lq", "__r")
      .agg(sum(col("__s")).as("__n"))
      .filter(col("__n") =!= 0L)
      .select(col("__r.*"),
        when(col("__n") > 0, col("__lp")).otherwise(col("__lq"))
          .as(CHANGE_TYPE),
        col("__v").as(COMMIT_VERSION),
        timestamp_millis(col("__ts")).as(COMMIT_TIMESTAMP),
        abs(col("__n")).as("__n"))
    // |n| copies per distinct row, generated lazily: memory per row stays
    // constant however many copies a rewrite touched
    Some(counted.flatMap { r =>
      val image = Row.fromSeq(r.toSeq.init)
      (1L to r.getLong(r.length - 1)).iterator.map(_ => image)
    }(Encoders.row(schema)))
  }
}
