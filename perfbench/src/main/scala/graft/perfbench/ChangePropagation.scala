package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.meta.SnapshotManagement
import graft.mv.{MaterializedViews, RewriteQueryByMaterialView}
import graft.tables.GraftTable

/** `change_propagation`: each round runs source DML, then every consumer
  * of the change feed.
  *
  *  - DML on the PK orders table: upsert, SQL `MERGE INTO`, `UPDATE`,
  *    `DELETE` (tombstones); on the non-PK events table: an append, then a
  *    predicate delete that takes the deletion-vector path.
  *  - Consumers: export of `changes(v0, v1)` (the batch diff), refresh of
  *    one aggregate view per table, and a `replicateTo` replica drained
  *    with `processAllAvailable` (the streaming diff). The replica runs
  *    with an available-now trigger per round: the closed loop keeps the
  *    stream from applying while the round's DML is still running.
  *  - The orders view's defining query, which should be rewritten to it.
  *
  * Roles: ingest = the round's DML, serve = the rewritten query, batch =
  * the export, derive = both view refreshes plus the replica drain. */
final class ChangePropagation(ctx: Ctx) extends Workload {
  import ChangePropagation._
  import Workload._
  import ctx._
  import spark.implicits._

  val roles = Map("ingest" -> "dml_round", "serve" -> "mv_query",
    "batch" -> "export", "derive" -> "maintain")

  private val ordersPath = SnapshotManagement.normalize(s"$dir/orders")
  private val eventsPath = SnapshotManagement.normalize(s"$dir/events")
  private val ordersView = SnapshotManagement.normalize(s"$dir/orders_by_priority")
  private val eventsView = SnapshotManagement.normalize(s"$dir/events_by_type")
  private val replicaPath = SnapshotManagement.normalize(s"$dir/orders_replica")
  private val checkpoint = s"$dir/replica_checkpoint"
  private val exportDir = s"$dir/export"
  private val ordersSql = "SELECT o_orderpriority, count(1) AS cnt, " +
    s"sum(o_totalcents) AS revenue FROM graft.`$ordersPath` GROUP BY o_orderpriority"
  private val eventsSql = "SELECT event_type, count(1) AS cnt, sum(value) AS total " +
    s"FROM graft.`$eventsPath` GROUP BY event_type"

  locally {
    val s = seed // a local, so the generator closures do not capture the workload
    spark.range(1, ORDERS + 1, 1, 4).as[Long].map(k => Gen.order(s, k, 0))
      .write.format("graft").option("hashPartitions", "o_orderkey")
      .option("hashBucketNum", BUCKETS.toString).save(ordersPath)
    spark.range(0, EVENTS, 1, 4).as[Long].map(k => Gen.event(s, k))
      .write.format("graft").save(eventsPath)
  }
  MaterializedViews.create(spark, ordersView, ordersSql)
  MaterializedViews.create(spark, eventsView, eventsSql)
  private val orders = GraftTable.forPath(spark, ordersPath)
  private val events = GraftTable.forPath(spark, eventsPath)
  orders.cloneTo(replicaPath)

  // ---- plain model: orders images (None = deleted) and live events ----
  private val images = mutable.HashMap.empty[Long, Option[Order]]
  private var nextKey = ORDERS + 1
  private val liveEvents = mutable.LinkedHashMap.empty[Long, Event]
  (0L until EVENTS).foreach(k => liveEvents(k) = Gen.event(seed, k))
  private var nextEvent = EVENTS
  private def current(k: Long): Option[Order] =
    images.getOrElse(k, if (k >= 1 && k <= ORDERS) Some(Gen.order(seed, k, 0)) else None)
  private def liveKeys: Iterator[Long] = (1L until nextKey).iterator.filter(current(_).isDefined)
  private def ordersModel: Seq[Row] =
    liveKeys.flatMap(current).toSeq.groupBy(_.o_orderpriority).toSeq.map { case (p, os) =>
      Row(p, os.size.toLong, os.map(_.o_totalcents).sum) }
  private def eventsModel: Seq[Row] =
    liveEvents.values.toSeq.groupBy(_.event_type).toSeq.map { case (t, es) =>
      Row(t, es.size.toLong, es.map(_.value).sum) }

  /** `n` distinct live keys, skewed towards low keys, for round `i`. */
  private def pickLive(i: Int, salt: Long, n: Int, avoid: Set[Long]): Seq[Long] = {
    val keys = mutable.LinkedHashSet.empty[Long]
    var j = 0L
    while (keys.size < n) {
      val k = 1L + (math.pow(Gen.unit(seed, i * 1000003L + j, salt), 2) * (nextKey - 1)).toLong
      if (current(k).isDefined && !avoid.contains(k)) keys += k
      j += 1
    }
    keys.toSeq
  }

  // ---- layer counters ----
  private val log = new CommitLog(rec, () => orders)
  private val changeRows = mutable.ArrayBuffer.empty[Long]
  private var refreshes = 0L
  private var folds = 0L
  private var queries = 0L
  private var rewritten = 0L

  def round(i: Int): Unit = {
    val v = i + 2L
    val v0 = orders.snapshot.version
    // inputs first, model after: the timed step holds only the six calls
    val up = pickLive(i, 61, UPSERT_UPDATES, Set.empty).map(k => Gen.order(seed, k, v)) ++
      (0 until UPSERT_NEW).map(n => Gen.order(seed, nextKey + n, v))
    val matched = pickLive(i, 62, MERGE_MATCHED, up.map(_.o_orderkey).toSet)
    val src = matched.map(k => Gen.order(seed, k, v + 1000)) ++
      (0 until MERGE_NEW).map(n => Gen.order(seed, nextKey + UPSERT_NEW + n, v + 1000))
    val r = Gen.below(seed, i, 63, UPDATE_MOD)
    val note = s"updated in round $i"
    val gone = pickLive(i, 64, DELETES, Set.empty)
    val appended = (0 until APPENDS).map(n => Gen.event(seed, nextEvent + n))
    val dr = Gen.below(seed, i, 65, DV_MOD)
    val upDf = up.toDF()
    src.toDF().createOrReplaceTempView("cp_merge_src")
    val appendDf = appended.toDF()

    rec.step("dml_round", "commands") {
      rec.op("upsert", "commands")(orders.upsert(upDf))
      rec.op("merge", "commands")(spark.sql(
        s"""MERGE INTO graft.`$ordersPath` t USING cp_merge_src s
           |ON t.o_orderkey = s.o_orderkey
           |WHEN MATCHED THEN UPDATE SET o_totalcents = s.o_totalcents, o_comment = s.o_comment
           |WHEN NOT MATCHED THEN INSERT (o_orderkey, o_custkey, o_orderstatus,
           |  o_totalcents, o_orderdate, o_orderpriority, o_comment)
           |VALUES (s.o_orderkey, s.o_custkey, s.o_orderstatus, s.o_totalcents,
           |  s.o_orderdate, s.o_orderpriority, s.o_comment)""".stripMargin))
      rec.op("update", "commands")(orders.update(
        col("o_orderkey") % UPDATE_MOD === r, Map("o_comment" -> lit(note))))
      rec.op("delete", "commands")(orders.delete(col("o_orderkey").isin(gone: _*)))
      rec.op("append", "write")(appendDf.write.format("graft").mode("append").save(eventsPath))
      rec.op("dv_delete", "commands")(events.delete(col("event_id") % DV_MOD === dr))
    }

    up.foreach(o => images(o.o_orderkey) = Some(o))
    src.foreach { s =>
      images(s.o_orderkey) = Some(current(s.o_orderkey) match {
        case Some(o) => o.copy(o_totalcents = s.o_totalcents, o_comment = s.o_comment)
        case None => s
      })
    }
    nextKey += UPSERT_NEW + MERGE_NEW
    liveKeys.filter(_ % UPDATE_MOD == r).toSeq.foreach(k =>
      images(k) = current(k).map(_.copy(o_comment = note)))
    gone.foreach(k => images(k) = None)
    appended.foreach(e => liveEvents(e.event_id) = e)
    nextEvent += APPENDS
    liveEvents.keys.filter(_ % DV_MOD == dr).toSeq.foreach(liveEvents.remove)
    val v1 = log.afterCommit(up.size + src.size + DELETES)._1.version

    rec.step("propagation", "tables") {
      rec.op("export", "tables")(orders.changes(v0 + 1, v1)
        .write.mode("overwrite").parquet(exportDir))
      rec.step("maintain", "mv") {
        val before = MaterializedViews.incrementalRefreshes.get()
        val refreshed = Seq(
          rec.op("mv_refresh_orders", "mv")(MaterializedViews.refresh(spark, ordersView)),
          rec.op("mv_refresh_events", "mv")(MaterializedViews.refresh(spark, eventsView)))
        if (rec.recording) {
          refreshes += refreshed.count(identity)
          folds += MaterializedViews.incrementalRefreshes.get() - before
        }
        rec.op("replica_drain", "streaming") {
          val q = orders.replicateTo(replicaPath, checkpoint, Trigger.AvailableNow())
          try { q.processAllAvailable(); q.awaitTermination() } finally q.stop()
        }
      }
    }
    val pending = orders.replicationStatus(replicaPath).pendingVersions
    checks.expect(pending == 0, s"round $i: replica has $pending pending versions after its drain")
    if (rec.traced && rec.recording)
      changeRows += spark.read.parquet(exportDir).count()

    log.beforeRead()
    val model = ordersModel
    (0 until SERVE_QUERIES).foreach { _ =>
      val (df, rows) = rec.op("mv_query", "mv") {
        val df = spark.sql(ordersSql)
        rec.step("plan", "rules")(df.queryExecution.executedPlan)
        (df, df.collect())
      }
      // outside the timed call: the hit check resolves snapshots of its own
      val hit = MaterializedViews.graftRelationVersions(df).contains(ordersView)
      if (rec.recording) { queries += 1; if (hit) rewritten += 1 }
      rec.serveRows += rows.length
      checks.sameRows(s"round $i: orders view query", rows.toSeq, model)
    }
  }

  def finish(): Seq[Figure] = {
    for ((view, sql, model) <- Seq((ordersView, ordersSql, ordersModel),
        (eventsView, eventsSql, eventsModel))) {
      val recomputed = RewriteQueryByMaterialView.withoutRewrite(spark.sql(sql).collect())
      checks.sameRows(s"view $view vs its query recomputed", read(spark, view).collect().toSeq,
        recomputed.toSeq)
      checks.sameRows(s"view $view vs the model", recomputed.toSeq, model)
    }
    val cols = read(spark, ordersPath).columns.toSeq.map(col)
    val source = fingerprint(read(spark, ordersPath).select(cols: _*))
    checks.expect(fingerprint(read(spark, replicaPath).select(cols: _*)) == source,
      "replica differs from its source")
    checks.expect(fingerprint(liveKeys.flatMap(current).toSeq.toDF().select(cols: _*)) == source,
      "orders differ from the model")
    latency("dml_round", rec.ms("dml_round"), withTail = false) ++
      latency("propagation", rec.ms("propagation"), withTail = false) ++
      latency("export", rec.ms("export"), withTail = false) ++
      latency("mv_query", rec.ms("mv_query"), withTail = false)
  }

  def layerCounters(): Map[String, Double] = log.counters() ++ Map(
    "commands.dv_files" -> events.snapshot.files.count(_.hasDv).toDouble,
    "tables.change_rows" -> mean(changeRows.map(_.toDouble)),
    "mv.fold_ratio" -> (if (refreshes == 0) 0.0 else folds.toDouble / refreshes),
    "mv.rewrite_hit_ratio" -> (if (queries == 0) 0.0 else rewritten.toDouble / queries))
}

object ChangePropagation {
  val ORDERS = 30000L
  val BUCKETS = 8
  val EVENTS = 40000L
  val UPSERT_UPDATES = 180
  val UPSERT_NEW = 20
  val MERGE_MATCHED = 50
  val MERGE_NEW = 50
  val UPDATE_MOD = 499
  val DELETES = 20
  val APPENDS = 500
  val DV_MOD = 997
  /** Dashboard-style repeats of the rewritten view query per round. */
  val SERVE_QUERIES = 16
}
