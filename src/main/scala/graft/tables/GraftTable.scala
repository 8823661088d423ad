package graft.tables

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.commands._
import graft.meta.{Snapshot, SnapshotManagement}
import graft.sources.GraftRead

/** User-facing table handle (reference `tables/StarTable.scala`):
  * {{{
  *   val t = GraftTable.forPath(spark, "/data/events")
  *   t.upsert(df)
  *   t.update(col("x") > 1, Map("y" -> lit(0)))
  *   t.delete(col("x") === 42)
  *   t.compaction()
  *   t.toDF.filter(...)
  * }}}
  */
class GraftTable private (spark: SparkSession, val path: String) {

  def toDF: DataFrame = GraftRead.read(spark, path)

  def snapshot: Snapshot = SnapshotManagement.snapshot(path)

  /** Commit history, newest first: (version, commitType, timestamp,
    * addedFiles, removedFiles). */
  def history(): DataFrame = {
    import spark.implicits._
    // the ACTIVE store, not MetaStore.fs: a deployment that swapped in an
    // object-store log via SnapshotManagement.setStore would otherwise get
    // an empty (or stale local) history while every other read sees the
    // real log
    val store = SnapshotManagement.store
    val latest = store.latestVersion(path)
    (0L to latest).map { v =>
      val entries = store.read(path, v)
      val info = entries.flatMap(_.commit).headOption
      (v, info.map(_.commitType).getOrElse(""),
        info.map(_.timestamp).getOrElse(0L),
        entries.count(_.add.isDefined), entries.count(_.remove.isDefined))
    }.sortBy(-_._1)
      .toDF("version", "commitType", "timestamp", "addedFiles", "removedFiles")
  }

  /** One-row table summary (Delta's `DESCRIBE DETAIL` analog), entirely
    * from the manifest — zero data I/O at any table size: version, layout
    * (range/hash columns, bucket count), file count, total bytes, delta
    * (un-compacted) file count, and configuration. */
  def detail(): DataFrame = {
    import spark.implicits._
    val s = snapshot
    val info = s.tableInfo
    Seq((path, s.version, info.rangeColumns.mkString(","),
      info.hashColumns.mkString(","), info.bucketNum,
      s.files.length.toLong, s.sizeInBytes,
      s.files.count(!_.isBase).toLong,
      info.configuration.map { case (k, v) => s"$k=$v" }.toSeq.sorted
        .mkString(";")))
      .toDF("path", "version", "rangeColumns", "hashColumns", "bucketNum",
        "numFiles", "sizeInBytes", "numDeltaFiles", "configuration")
  }

  /** Range partitions with per-partition file/byte/delta counts and — when
    * every file carries footer row stats — exact row counts, all from the
    * manifest (SHOW PARTITIONS with sizes; zero data I/O). At 100 TB this
    * is how operators find skewed or fragmented partitions without a
    * scan. */
  def partitions(): DataFrame = {
    import spark.implicits._
    val s = snapshot
    s.filesByRange.toSeq.map { case (key, files) =>
      // liveRecords subtracts deletion-vector masks; -1 = footer stats
      // absent for that file, so the partition reports -1 ("unknown")
      // rather than an under-count. PK delta stacks can still over-count
      // (merge-on-read dedups keys at read) — hence "approx".
      val rows = files.map(_.liveRecords)
      (key, files.length.toLong, files.map(_.size).sum,
        files.count(!_.isBase).toLong,
        if (rows.exists(_ < 0L)) -1L else rows.sum)
    }.sortBy(_._1)
      .toDF("partition", "numFiles", "sizeInBytes", "numDeltaFiles",
        "approxRows")
  }

  /** Change Data Feed over `[startVersion, endVersion]` (endVersion = -1 →
    * latest): row-level changes with `_change_type` / `_commit_version` /
    * `_commit_timestamp` columns. See [[ChangeFeed]] for per-commit-type
    * semantics. */
  def changes(startVersion: Long, endVersion: Long = -1L): DataFrame =
    ChangeFeed.changes(spark, path, startVersion, endVersion)

  /** Merge-on-read upsert; source must contain the table's PK columns and
    * may carry any column subset. `mode = "merge"` rewrites base files via
    * a full-outer join instead of appending delta files. `condition` (a
    * range-partition predicate, e.g. `"dt = '2020-11-01'"`) scopes a
    * merge-mode rewrite to the matching partitions — at scale a
    * one-partition upsert must not rewrite the whole table (reference
    * `UpsertCommand` condition support). */
  def upsert(source: DataFrame, mode: String = "delta",
      condition: Option[String] = None): Unit =
    UpsertCommand.run(spark, path, source,
      Map("mode" -> mode) ++ condition.map("condition" -> _))

  /** CDC APPLY: ingest a change batch (op column marking deletes, optional
    * sequence columns ordering multiple changes per key) in one atomic
    * delta commit — see [[graft.commands.ApplyChangesCommand]]. */
  def applyChanges(
      source: DataFrame, opColumn: String,
      sequenceColumns: Seq[String] = Nil,
      deleteOps: Seq[String] = Seq("delete", "d")): Unit =
    ApplyChangesCommand.run(spark, path, source, opColumn, sequenceColumns,
      deleteOps)

  /** Continuous CDC ingestion: apply every microbatch of a CDC-shaped
    * STREAM through [[applyChanges]] — exactly-once under restarts because
    * each microbatch is one atomic delta commit and the checkpoint replays
    * whole batches (a replayed batch re-applies the same winner-per-key
    * images onto a PK table: idempotent). Stop the returned query to stop
    * ingestion. */
  def applyChangesStream(
      source: DataFrame, opColumn: String, checkpointDir: String,
      sequenceColumns: Seq[String] = Nil,
      deleteOps: Seq[String] = Seq("delete", "d"),
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.ProcessingTime("10 seconds"))
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val tablePath = path // stable reference for the closure
    val session = spark
    source.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          ApplyChangesCommand.run(session, tablePath, batch, opColumn,
            sequenceColumns, deleteOps)
        }
      }
      .trigger(trigger)
      .queryName(s"graft-apply-changes-$tablePath")
      .start()
  }

  /** Continuous TABLE-TO-TABLE REPLICATION: tail THIS table's change-data
    * feed and apply every microbatch into the PK table at `destPath`
    * through [[applyChanges]] — the disaster-recovery / downstream-copy
    * primitive, composed from parts that already carry their own
    * guarantees. Update pre-images are dropped (the post-image is the
    * authoritative row), `_commit_version` orders multiple changes to one
    * key inside a microbatch (a PK table changes a key at most once per
    * commit, so the version is a total per-key order), deletes replicate
    * as tombstones, and each microbatch lands as one atomic commit —
    * exactly-once under restarts for the same reason
    * [[applyChangesStream]] is. The replica must exist with a compatible
    * PK layout (fork it with [[cloneTo]] for an instant initial copy, or
    * write an empty PK table to replicate from scratch). Lag is the
    * trigger interval; cost per firing is ∝ changes. */
  def replicateTo(
      destPath: String, checkpointDir: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.ProcessingTime("10 seconds"),
      selfHealSchemaEvolution: Boolean = true)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import org.apache.spark.sql.functions.{col, count, lit, max, when}
    val session = spark
    val dest = graft.meta.SnapshotManagement.normalize(destPath)
    require(graft.meta.SnapshotManagement.exists(dest),
      s"replication target $destPath does not exist — clone or create it " +
      "first (cloneTo gives an instant zero-copy initial state)")
    val tablePath = dest
    val srcNorm = graft.meta.SnapshotManagement.normalize(path)
    // One start = one schema pin. Self-healing re-invokes this closure —
    // a FRESH readStream re-resolves the source schema, and the shared
    // checkpoint keeps the replay exactly-once across the restart.
    def startOnce(): org.apache.spark.sql.streaming.StreamingQuery = {
      // a replica CLONED from this table already holds its state as of the
      // clone's source version: start the feed right after it, so the first
      // firing costs ∝ changes (not a full-snapshot replay) AND no
      // clone-window delete is skipped by the initial-snapshot pin. A
      // non-clone replica (empty table) takes the full snapshot.
      val destConf = graft.meta.SnapshotManagement.snapshot(dest)
        .tableInfo.configuration
      def conf(k: String): Option[String] =
        destConf.collectFirst { case (key, v) if key.equalsIgnoreCase(k) => v }
      val startFrom: Option[Long] =
        if (conf("graft.clone.sourcePath")
            .contains(graft.meta.SnapshotManagement.normalize(path)))
          conf("graft.clone.sourceVersion").map(_.toLong + 1)
        else None
      val reader = session.readStream.format("graft")
        .option("readChangeFeed", "true")
      val cdf = startFrom.fold(reader)(v =>
          reader.option("startingVersion", v.toString))
        .load(path)
        .filter(col(ChangeFeed.CHANGE_TYPE) =!= "update_preimage")
        // an OVERWRITE commit emits delete (pre-state) + insert (new rows)
        // at ONE version; applyChanges breaks pure sequence ties
        // deletes-win, which would purge every surviving key from the
        // replica. A second sequence column ordering inserts ABOVE deletes
        // within a version makes the overwrite fold correctly: surviving
        // keys keep their new image, keys only deleted still tombstone.
        .withColumn("__graft_seq2",
          when(col(ChangeFeed.CHANGE_TYPE) === "delete", lit(0)).otherwise(lit(1)))
      cdf.writeStream
        .option("checkpointLocation", checkpointDir)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          // persisted: the batch feeds two jobs (the row count + applied-
          // version probe, then the apply) — without it the CDF window
          // re-reads per job. One aggregate answers both "is the window
          // empty" and "which source version does it reach".
          val b = batch.persist()
          try {
            val stats = b.agg(count(lit(1)), max(col(ChangeFeed.COMMIT_VERSION)))
              .collect().head
            if (stats.getLong(0) > 0) {
              // a streaming source PINS its schema at start: a source table
              // that gained a column mid-stream would replicate with that
              // column silently DROPPED (verified: the rows land, the new
              // column vanishes). Fail the batch loudly instead — same
              // restart-on-schema-change contract Delta's streams have
              // (self-healing mode catches exactly this failure and
              // restarts the reader against the same checkpoint).
              val seen = b.columns.map(_.toLowerCase).toSet
              val nowCols = graft.meta.SnapshotManagement.snapshot(srcNorm)
                .tableInfo.schema.fieldNames.toSeq
              val unseen = nowCols.filterNot(c => seen.contains(c.toLowerCase))
              if (unseen.nonEmpty) throw new GraftTable.ReplicationSchemaEvolved(
                s"${GraftTable.EVOLVED_SENTINEL} replication source " +
                s"$srcNorm gained column(s) " +
                s"[${unseen.mkString(", ")}] after the stream started; " +
                "restart replicateTo (same checkpoint) to pick up the new " +
                "schema — continuing would silently drop them from the replica")
              // lag surface: the newest SOURCE version in this window rides
              // the apply commit itself as a (txnAppId, txnVersion) pair —
              // replayed into the replica's snapshot, so replicationStatus
              // reads it from the LOG: any driver, any MetaStore, no
              // driver-local sidecar. The same pair is the commit layer's
              // idempotence guard, so a checkpoint-replayed window (whose
              // apply already landed) skips instead of re-appending.
              val txnOpts = Map(
                WriteIntoTable.TXN_APP_ID ->
                  (GraftTable.REPLICATION_APP_PREFIX + srcNorm),
                WriteIntoTable.TXN_VERSION -> stats.getLong(1).toString)
              // mergeSchema: after a schema-change restart the replayed
              // window carries the source's NEW columns — the replica must
              // follow, not reject the batch
              ApplyChangesCommand.run(session, tablePath,
                b.drop("_commit_timestamp"),
                opCol = ChangeFeed.CHANGE_TYPE,
                sequenceCols = Seq("_commit_version", "__graft_seq2"),
                deleteOps = Seq("delete"),
                writeOptions =
                  Map(WriteIntoTable.MERGE_SCHEMA -> "true") ++ txnOpts)
            }
          } finally b.unpersist()
        }
        .trigger(trigger)
        // dest in the name: one source may feed MANY replicas in one
        // session — a source-only name would collide on the second start
        .queryName(s"graft-replicate-$path->$destPath")
        .start()
    }
    val first = startOnce()
    if (selfHealSchemaEvolution)
      new GraftTable.SelfHealingQuery(() => startOnce(), first)
    else first
  }

  /** Replication lag of the replica at `destPath` fed from THIS table —
    * see [[GraftTable.replicationStatus]]. Scoped to this table's mark, so
    * it stays well-defined when several sources feed one replica. */
  def replicationStatus(destPath: String): GraftTable.ReplicationStatus = {
    val st = GraftTable.replicationStatusImpl(destPath,
      srcFilter = Some(graft.meta.SnapshotManagement.normalize(path)))
    require(st.sourcePath.isEmpty ||
        st.sourcePath == graft.meta.SnapshotManagement.normalize(path),
      s"replica at $destPath is fed from '${st.sourcePath}', not this " +
      s"table ($path)")
    st
  }

  def update(condition: Column, set: Map[String, Column]): Unit =
    UpdateCommand.run(spark, path, condition, set)

  def updateExpr(condition: String, set: Map[String, String]): Unit =
    UpdateCommand.run(spark, path,
      org.apache.spark.sql.functions.expr(condition),
      set.map { case (k, v) => k -> org.apache.spark.sql.functions.expr(v) })

  def delete(condition: Column): Unit = DeleteCommand.run(spark, path, condition)

  def deleteExpr(condition: String): Unit =
    delete(org.apache.spark.sql.functions.expr(condition))

  /** Delete EVERY row (reference `StarTable.delete()` no-arg form). */
  def delete(): Unit = delete(org.apache.spark.sql.functions.lit(true))

  /** Unconditional update — every row (reference `StarTable.update(set)`). */
  def update(set: Map[String, Column]): Unit =
    update(org.apache.spark.sql.functions.lit(true), set)

  /** Unconditional `updateExpr` (reference `StarTable.updateExpr(set)`). */
  def updateExpr(set: Map[String, String]): Unit = updateExpr("true", set)

  /** Aliased DataFrame over the table (reference `StarTable.as`). */
  def as(alias: String): DataFrame = toDF.as(alias)

  def alias(a: String): DataFrame = as(a)

  /** Refresh this table when it backs a registered materialized view and
    * any base relation advanced (reference
    * `StarTable.updateMaterialView()`); no-op result `false` when fresh. */
  def updateMaterialView(): Boolean =
    graft.mv.MaterializedViews.refresh(spark, path)

  /** Merge delta files into deduplicated base files. `mergeOperators`
    * (column -> operator name) materializes operator results into the
    * rewritten files (reference `compaction(mergeOperatorInfo)`). */
  def compaction(force: Boolean = true, partitionPredicate: Option[String] = None,
      mergeOperators: Map[String, String] = Map.empty): Unit =
    CompactionCommand.run(spark, path, force, partitionPredicate,
      mergeOperators = mergeOperators)

  /** Rewrite the table (or the matching partitions) clustered on the
    * Morton curve of `cols`, so manifest min/max stats prune filters on
    * every listed column (non-PK tables; see [[graft.commands.ZOrder]]). */
  def zOrder(cols: Seq[String], partitionPredicate: Option[String] = None): Unit =
    CompactionCommand.run(spark, path, force = true, partitionPredicate,
      zOrderBy = cols)

  /** Change the table's hash-bucket count in one transactional rewrite
    * (primary-key tables; see [[graft.commands.RebucketCommand]]). The
    * bucket count bounds shuffle-free join/agg parallelism and per-bucket
    * file size — re-size it as the table grows instead of living with the
    * creation-time guess. Returns the rebucket commit's version. */
  def rebucket(newBucketNum: Int): Long =
    RebucketCommand.run(spark, path, newBucketNum)

  /** Export the current snapshot as symlink-format manifests external
    * engines can read without the graft log — refuses states (deltas,
    * tombstones, DVs, merge operators) an external reader would
    * misinterpret; see [[graft.commands.GenerateCommand]]. Returns the
    * number of manifest files written. */
  def generateManifest(): Long = GenerateCommand.run(spark, path)

  /** Rewind the table to `version` with one metadata-only commit (files
    * are re-referenced, not rewritten; lineage preserved — the restore is
    * itself a new commit). Fails if a needed file was vacuumed. Returns
    * the restore commit's version. */
  def restore(version: Long): Long = RestoreCommand.run(spark, path, version)

  /** Zero-copy SHALLOW CLONE of this table (optionally at a past version)
    * into `destPath` — see [[graft.commands.CloneCommand]] for the
    * ordering contract and source-vacuum caveat. Returns the source
    * version the clone reflects. */
  def cloneTo(destPath: String, version: Option[Long] = None,
      deep: Boolean = false): Long =
    graft.commands.CloneCommand.run(spark, path, destPath, version, deep)

  /** [[cloneTo]] at the newest version committed at or before `timestamp`
    * (same accepted forms as the `timestampAsOf` read option). */
  def cloneToAtTimestamp(destPath: String, timestamp: String): Long =
    cloneTo(destPath, Some(SnapshotManagement.versionAtTimestamp(path,
      graft.sources.GraftTableV2.parseTs(spark, timestamp))))

  /** Rewind to the newest version committed at or before `timestamp`
    * (accepts the same forms as the `timestampAsOf` read option: timestamp
    * strings, yyyyMMdd dates, epoch millis). */
  def restoreToTimestamp(timestamp: String): Long = {
    val snap = SnapshotManagement.snapshotAtTimestamp(path,
      graft.sources.GraftTableV2.parseTs(spark, timestamp))
    restore(snap.version)
  }

  /** Remove files no longer referenced by the latest snapshot. */
  def cleanup(retainMillis: Long = 5L * 3600 * 1000, dryRun: Boolean = false): Seq[String] =
    CleanupCommand.run(spark, path, retainMillis, dryRun)

  def dropTable(): Unit = DropCommands.dropTable(path)

  def dropPartition(predicate: String): Unit =
    DropCommands.dropPartition(spark, path, predicate)
}

object GraftTable {
  def forPath(spark: SparkSession, path: String): GraftTable =
    new GraftTable(spark, SnapshotManagement.normalize(path))

  /** queryId prefix of the (txnAppId, txnVersion) pair each replication
    * apply commit carries: `<prefix><normalized source path>` →
    * newest applied SOURCE version, replayed into the replica snapshot's
    * streaming high-water marks — so replication lag is readable from the
    * replica's LOG by any driver under any MetaStore. */
  private[graft] val REPLICATION_APP_PREFIX = "graft-replication:"

  /** LEGACY sidecar at the REPLICA root recording (source path, newest
    * applied source version) — superseded by the in-commit
    * [[REPLICATION_APP_PREFIX]] record; still read as a fallback for
    * replicas last fed by an older engine. */
  private[graft] val REPLICATION_SYNC_FILE = "_graft_replication.json"

  /** The deliberate loud-fail a replication batch throws when the SOURCE
    * gained columns after the stream pinned its schema. A dedicated type:
    * the self-healing monitor must restart on exactly this failure and
    * nothing else. */
  final class ReplicationSchemaEvolved(msg: String)
      extends IllegalStateException(msg)

  /** Marker embedded in every [[ReplicationSchemaEvolved]] message: a
    * foreachBatch failure can cross a serialization boundary that erases
    * the concrete class, so the monitor's fallback match needs a string no
    * user exception would plausibly carry — NOT prose like "gained
    * column(s)" that a source system's own error could contain. */
  private[graft] val EVOLVED_SENTINEL = "[graft:replication-schema-evolved]"

  /** Replication lag of the replica at `destPath`:
    *  - `sourcePath` — the source table the replica's sidecar names
    *    ("" when no batch has ever been applied AND the replica is not a
    *    clone — lag is then unknowable from the replica alone);
    *  - `appliedVersion` — newest source version applied (falls back to
    *    the clone's source version for a cloned, never-synced replica);
    *  - `pendingVersions` — CHANGE-BEARING source versions not yet
    *    applied (pure rewrites — compaction/rebucket/alter/vacuum — and
    *    empty commits carry no rows, so they never count as lag).
    * One sidecar read + one metadata probe per unapplied version; no data
    * files are touched. */
  final case class ReplicationStatus(
      sourcePath: String, sourceVersion: Long, appliedVersion: Long,
      pendingVersions: Long) {
    def inSync: Boolean = pendingVersions == 0L
  }

  def replicationStatus(
      spark: SparkSession, destPath: String): ReplicationStatus =
    replicationStatusImpl(destPath, srcFilter = None)

  /** Above this many unapplied versions the probe stops CLASSIFYING them
    * (one metadata read each) and reports the raw count: a status call on
    * a far-behind replica must stay O(1), not O(lag). */
  private val STATUS_CLASSIFY_CAP = 256L

  private[tables] def replicationStatusImpl(
      destPath: String, srcFilter: Option[String]): ReplicationStatus = {
    val dest = SnapshotManagement.normalize(destPath)
    require(SnapshotManagement.exists(dest),
      s"replica $destPath does not exist")
    // the applied-version watermark rides each apply COMMIT (txnAppId
    // prefixed with the source path), so it is read here from the
    // replica's replayed snapshot — any driver, any MetaStore, no
    // driver-local state. Fallbacks, in order: the legacy sidecar file
    // (replicas last fed by an older engine), then the clone provenance
    // (cloned but never-synced replicas lag from the clone version).
    val destSnap = SnapshotManagement.snapshot(dest)
    val marks = destSnap.streamingBatchIds.collect {
      case (qid, v) if qid.startsWith(REPLICATION_APP_PREFIX) =>
        (qid.stripPrefix(REPLICATION_APP_PREFIX), v)
    }
    val candidates = srcFilter match {
      case Some(s) => marks.filter(_._1 == s)
      case None => marks
    }
    require(candidates.size <= 1,
      s"replica at $destPath is fed from ${candidates.size} sources " +
      s"[${candidates.keys.mkString(", ")}]; probe one with " +
      "GraftTable.forPath(spark, source).replicationStatus(dest)")
    def conf(k: String): Option[String] =
      destSnap.tableInfo.configuration.collectFirst {
        case (key, v) if key.equalsIgnoreCase(k) => v }
    val (src, applied) = candidates.headOption match {
      case Some((s, v)) => (s, v)
      case None =>
        graft.llm.SyncSidecar.readMeta(dest, REPLICATION_SYNC_FILE) match {
          case Some((s, v)) => (s, v)
          case None =>
            (conf("graft.clone.sourcePath").getOrElse(""),
             conf("graft.clone.sourceVersion").map(_.toLong).getOrElse(-1L))
        }
    }
    if (src.isEmpty) return ReplicationStatus("", -1L, applied, -1L)
    val store = SnapshotManagement.store
    val latest = store.latestVersion(src)
    require(latest >= 0,
      s"replication source '$src' recorded at $destPath no longer exists")
    // a rewound source (restore/recreate below the applied version) must
    // FAIL the probe, not report in-sync: the replica holds versions the
    // source no longer has — same loud contract as the index sidecars
    require(latest >= applied,
      s"replication source '$src' is at v$latest but the replica at " +
      s"$destPath already applied v$applied — the source history was " +
      "rewound (restore/recreate); re-clone the replica")
    // classification reads one commit's metadata per unapplied version —
    // capped so a months-behind replica answers in O(1) with the raw
    // (over-counting pure rewrites) version count instead; an unreadable
    // version (already cleaned from the source log) counts as pending
    // rather than failing the status call
    val pending =
      if (latest - applied > STATUS_CLASSIFY_CAP) latest - applied
      else ((applied + 1) to latest).count { v =>
        try {
          val entries = store.read(src, v)
          val ct = entries.flatMap(_.commit).headOption
            .map(_.commitType).getOrElse("append")
          !graft.sources.GraftMicroBatchStream.REWRITE_TYPES.contains(ct) &&
            (entries.exists(_.add.nonEmpty) || entries.exists(_.remove.nonEmpty))
        } catch { case scala.util.control.NonFatal(_) => true }
      }.toLong
    ReplicationStatus(src, latest, applied, pending)
  }

  /** [[org.apache.spark.sql.streaming.StreamingQuery]] facade whose
    * underlying query SELF-HEALS across source schema evolution: when the
    * stream dies with [[ReplicationSchemaEvolved]], a monitor thread
    * re-opens the CDF reader (fresh schema pin) against the SAME
    * checkpoint and swaps it in — the replayed window carries the new
    * column and the replica evolves, with no operator action. Any OTHER
    * failure terminates the facade like a plain query. `stop()` stops
    * healing and the live query. */
  private[graft] final class SelfHealingQuery(
      restartFn: () => org.apache.spark.sql.streaming.StreamingQuery,
      first: org.apache.spark.sql.streaming.StreamingQuery,
      maxConsecutiveHeals: Int = 5,
      healBackoffBaseMs: Long = 500L)
      extends org.apache.spark.sql.streaming.StreamingQuery {
    private val lock = new Object
    @volatile private var cur = first
    private var stopped = false
    private var finished = false
    private var terminal: Option[Throwable] = None
    // when a RESTART fails, `terminal` holds the restart failure (not a
    // StreamingQueryException) — keep the SQE that triggered the heal so
    // exception()-polling callers still see a failure, never a clean stop
    private var terminalSqe
        : Option[org.apache.spark.sql.streaming.StreamingQueryException] = None

    private def isEvolved(
        q: org.apache.spark.sql.streaming.StreamingQuery): Boolean = {
      @annotation.tailrec
      def chain(t: Throwable, depth: Int): Boolean =
        t != null && depth < 20 &&
          (t.isInstanceOf[ReplicationSchemaEvolved] ||
            // a serialization boundary can erase the concrete class but
            // keeps its name; the dedicated sentinel covers wrappers that
            // flatten the failure into message text
            t.getClass.getName.endsWith("ReplicationSchemaEvolved") ||
            Option(t.getMessage).exists(_.contains(EVOLVED_SENTINEL)) ||
            chain(t.getCause, depth + 1))
      try q.exception.exists(chain(_, 0))
      catch { case _: Throwable => false }
    }

    // consecutive restarts without a COMPLETED batch in between: a genuine
    // evolution race heals in one restart (and any completed batch proves
    // forward progress, resetting the count), while a persistent failure
    // that keeps classifying as evolved would otherwise hot-loop
    // start/fail/restart forever with awaitTermination never returning.
    // Only the monitor thread writes it.
    private var healsWithoutProgress = 0

    private val monitor = new Thread(() => {
      var done = false
      while (!done) {
        val q = cur
        try q.awaitTermination()
        catch { case _: Throwable => () }
        val heal = lock.synchronized {
          if (stopped) { done = true; false }
          else if (isEvolved(q)) {
            val progressed =
              try q.recentProgress.nonEmpty catch { case _: Throwable => false }
            healsWithoutProgress =
              if (progressed) 1 else healsWithoutProgress + 1
            if (healsWithoutProgress > maxConsecutiveHeals) {
              terminal = Some(new IllegalStateException(
                s"replication self-heal aborted: $healsWithoutProgress " +
                "consecutive schema-evolution restarts without one " +
                s"completed batch (cap $maxConsecutiveHeals) — the failure " +
                "is persistent, not an evolution race",
                q.exception.orNull))
              terminalSqe = q.exception
              done = true; lock.notifyAll(); false
            } else true
          } else {
            terminal = q.exception; done = true; lock.notifyAll(); false
          }
        }
        if (heal) {
          // backoff OUTSIDE the lock (status probes and processAllAvailable
          // poll under it): none on a first/progressed heal, exponential
          // from the second consecutive one, capped at 30 s
          if (healsWithoutProgress > 1) {
            val ms = math.min(30000L,
              healBackoffBaseMs << math.min(16, healsWithoutProgress - 2))
            try Thread.sleep(ms) catch { case _: InterruptedException => () }
          }
          lock.synchronized {
            if (stopped) done = true
            else {
              try { cur = restartFn() }
              catch { case e: Throwable =>
                terminal = Some(e); terminalSqe = q.exception; done = true }
            }
            lock.notifyAll()
          }
        }
      }
      lock.synchronized { finished = true; lock.notifyAll() }
    }, s"graft-replication-selfheal-${first.name}")
    monitor.setDaemon(true)
    monitor.start()

    override def name: String = cur.name
    override def id: java.util.UUID = first.id
    override def runId: java.util.UUID = cur.runId
    override def sparkSession: SparkSession = cur.sparkSession
    override def isActive: Boolean =
      lock.synchronized { !finished } && (cur.isActive ||
        // brief window while the monitor swaps in the restarted query
        lock.synchronized { terminal.isEmpty && !stopped })
    override def exception
        : Option[org.apache.spark.sql.streaming.StreamingQueryException] =
      lock.synchronized {
        terminal.collect {
          case e: org.apache.spark.sql.streaming.StreamingQueryException => e
        }.orElse(terminalSqe)
      }
    override def status: org.apache.spark.sql.streaming.StreamingQueryStatus =
      cur.status
    override def recentProgress
        : Array[org.apache.spark.sql.streaming.StreamingQueryProgress] =
      cur.recentProgress
    override def lastProgress
        : org.apache.spark.sql.streaming.StreamingQueryProgress =
      cur.lastProgress
    override def explain(): Unit = cur.explain()
    override def explain(extended: Boolean): Unit = cur.explain(extended)

    override def awaitTermination(): Unit = {
      lock.synchronized { while (!finished) lock.wait() }
      rethrowTerminal()
    }
    override def awaitTermination(timeoutMs: Long): Boolean = {
      val deadline = System.currentTimeMillis() + timeoutMs
      lock.synchronized {
        while (!finished && System.currentTimeMillis() < deadline)
          lock.wait(math.max(1L, deadline - System.currentTimeMillis()))
        if (!finished) return false
      }
      rethrowTerminal(); true
    }
    private def rethrowTerminal(): Unit =
      lock.synchronized { terminal }.foreach {
        case e: org.apache.spark.sql.streaming.StreamingQueryException =>
          throw e
        case e => throw new IllegalStateException(
          "replication self-heal restart failed", e)
      }

    /** Rides through a self-heal: if the underlying query dies of schema
      * evolution mid-call, wait for the monitor's restart and drain the
      * NEW query — the caller sees one successful drain, never the
      * deliberate failure. */
    override def processAllAvailable(): Unit = {
      var attempts = 0
      while (true) {
        val q = cur
        val ok = try { q.processAllAvailable(); true }
          catch {
            case e: Throwable =>
              val healed = lock.synchronized {
                val deadline = System.currentTimeMillis() + 120000L
                while ((cur eq q) && terminal.isEmpty && !stopped &&
                    !finished && System.currentTimeMillis() < deadline)
                  lock.wait(200L)
                // same exception contract as awaitTermination: callers
                // catch StreamingQueryException around processAllAvailable
                terminal.foreach {
                  case se: org.apache.spark.sql.streaming
                      .StreamingQueryException => throw se
                  case t => throw new IllegalStateException(
                    "replication self-heal restart failed", t)
                }
                if (stopped || (cur eq q)) throw e
                true
              }
              !healed // healed => not done, loop onto the new query
          }
        // a heal can also land BETWEEN drains (batch failed after
        // processAllAvailable returned): only a drain that completed on
        // the still-current query counts
        if (ok && (cur eq q)) return
        attempts += 1
        require(attempts <= 20,
          "replication self-heal loop: 20 consecutive restarts without " +
          "a stable drain — the source schema is churning faster than " +
          "batches apply")
      }
    }

    override def stop(): Unit = {
      val q = lock.synchronized { stopped = true; cur }
      q.stop()
      // a racing heal may have swapped in a fresh query after we read cur
      val q2 = cur
      if (!(q2 eq q)) q2.stop()
    }
  }

  /** Resolve a catalog table or view NAME to its graft table (reference
    * `tables/StarTable.scala` `forName`). Works for tables registered
    * through `GraftCatalog` and for temp views over graft reads — anything
    * whose analyzed plan bottoms out in exactly one graft relation. */
  def forName(spark: SparkSession, name: String): GraftTable = {
    import org.apache.spark.sql.classic.ClassicConversions.castToImpl
    // suppress the MV rewrite: a fresh covering view would otherwise
    // substitute its own scan here and DML through the returned handle
    // would mutate the VIEW's files instead of the base table
    val plan = graft.mv.RewriteQueryByMaterialView.withoutRewrite {
      castToImpl(spark.table(name)).queryExecution.analyzed
    }
    val paths = plan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
          if r.table.isInstanceOf[graft.sources.GraftTableV2] =>
        r.table.asInstanceOf[graft.sources.GraftTableV2].path
    }.distinct
    paths match {
      case Seq(p) => forPath(spark, p)
      case Seq() => throw new IllegalArgumentException(
        s"$name does not resolve to a graft table")
      case many => throw new IllegalArgumentException(
        s"$name resolves to ${many.length} graft tables; use forPath")
    }
  }

  def exists(path: String): Boolean =
    SnapshotManagement.exists(SnapshotManagement.normalize(path))

  /** Reference `StarTable.isStarTable` parity. */
  def isGraftTable(path: String): Boolean = exists(path)

  /** Register a [[graft.merge.GraftMergeOperator]] class under `funName`
    * (reference `StarTable.registerMergeOperator`): scan options and the
    * SQL markers `graft_merge_op_<funName>(col)` then resolve it by that
    * name regardless of the class's own `name`. */
  def registerMergeOperator(
      spark: SparkSession, className: String, funName: String): Unit = {
    val inner = Class.forName(className).getDeclaredConstructor()
      .newInstance().asInstanceOf[graft.merge.GraftMergeOperator]
    graft.merge.GraftMergeOperator.register(
      new graft.merge.GraftMergeOperator {
        override def name: String = funName
        override def merge(values: Seq[Any]): Any = inner.merge(values)
      })
  }

  /** Create a materialized view over `sqlText` (reference
    * `StarTable.createMaterialView`); layout options shape the view table
    * itself (`rangePartitions`/`hashPartitions`+`hashBucketNum` — a PK
    * layout gives the view shuffle-free serving on its key).
    * `viewName` registers a catalog short name when non-empty. Refresh is
    * explicit via [[GraftTable.updateMaterialView]] (the engine's rewrite
    * rule never serves a stale view, so eager auto-update is a freshness
    * convenience, not a correctness switch). */
  def createMaterialView(
      spark: SparkSession,
      viewName: String,
      viewPath: String,
      sqlText: String,
      rangePartitions: String = "",
      hashPartitions: String = "",
      hashBucketNum: Int = -1): Unit = {
    val opts = Map.newBuilder[String, String]
    if (rangePartitions.nonEmpty) opts += "rangePartitions" -> rangePartitions
    if (hashPartitions.nonEmpty) {
      // same contract as the write path (WriteIntoTable.tableInfoFromOptions):
      // a hash layout without an explicit positive bucket count is an error,
      // not a silent default — the layout is immutable once created
      require(hashBucketNum > 0,
        s"createMaterialView: hashPartitions='$hashPartitions' needs an " +
        "explicit hashBucketNum > 0")
      opts += "hashPartitions" -> hashPartitions
      opts += "hashBucketNum" -> hashBucketNum.toString
    }
    graft.mv.MaterializedViews.create(spark, viewPath, sqlText,
      opts.result())
    if (viewName.nonEmpty) registerShortName(spark, viewName, viewPath)
  }

  /** Catalog-register `name` -> existing graft table at `path` (the
    * engine's analog of the reference's meta-store short names).
    * Identifier and location are escaped — a quote in a POSIX path or a
    * backtick in a name must not break (or rewrite) the statement. */
  private def registerShortName(
      spark: SparkSession, name: String, path: String): Unit = {
    val n = name.replace("`", "``")
    val norm = SnapshotManagement.normalize(path)
    // IF NOT EXISTS alone would silently no-op when the name is already
    // bound elsewhere — the caller would then read the OLD table under the
    // new name with no indication. Re-registering the same path stays an
    // idempotent no-op; a conflicting binding fails loudly.
    if (spark.catalog.tableExists(s"`$n`")) {
      val existing = scala.util.Try(forName(spark, s"`$n`").path).toOption
      if (existing.contains(norm)) return
      throw new IllegalStateException(
        s"catalog name $name is already bound to " +
        s"${existing.getOrElse("a non-graft table")}, not $norm; drop it " +
        "first or pick another name")
    }
    val p = norm.replace("'", "''")
    spark.sql(s"CREATE TABLE IF NOT EXISTS `$n` USING graft LOCATION '$p'")
  }

  /** Fluent table creator (reference `StarTable.create()` builder):
    * {{{
    *   GraftTable.create().data(df).path(p)
    *     .hashPartitions("id").hashBucketNum(4).create()
    * }}} */
  def create(): TableCreator = new TableCreator

  class TableCreator private[GraftTable] () {
    private val options = scala.collection.mutable.HashMap.empty[String, String]
    private var writeData: DataFrame = _
    private var tablePath: String = _

    def data(d: DataFrame): TableCreator = { writeData = d; this }
    def path(p: String): TableCreator = { tablePath = p; this }
    def rangePartitions(cols: String): TableCreator = {
      options += "rangePartitions" -> cols; this }
    def rangePartitions(cols: Seq[String]): TableCreator =
      rangePartitions(cols.mkString(","))
    def hashPartitions(cols: String): TableCreator = {
      options += "hashPartitions" -> cols; this }
    def hashPartitions(cols: Seq[String]): TableCreator =
      hashPartitions(cols.mkString(","))
    def hashBucketNum(n: Int): TableCreator = {
      options += "hashBucketNum" -> n.toString; this }
    private var shortName: Option[String] = None
    def shortTableName(name: String): TableCreator = {
      shortName = Some(name); this }

    def create(): Unit = {
      require(writeData != null && tablePath != null,
        "TableCreator needs both .data(df) and .path(p)")
      // a CREATE builder must not destroy an existing table: ErrorIfExists
      // fails loudly when the path already holds one (use the DataFrame
      // writer with mode("overwrite") directly for replace semantics)
      val w = writeData.write.format("graft").mode("errorifexists")
      options.foreach { case (k, v) => w.option(k, v) }
      w.save(tablePath)
      shortName.foreach(n =>
        registerShortName(writeData.sparkSession, n, tablePath))
    }
  }
}
