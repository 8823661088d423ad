package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.tables.GraftTable

/** `pk_ingest_serve`: orders and lineitem as primary-key tables bucketed on
  * the order key with one bucket count. Each upsert commits one seeded
  * batch into orders (mostly skewed updates, some new keys) and is followed
  * by point reads through the `graft` data source; every few upserts a full
  * aggregate scan and the orders-lineitem PK join run, then a compaction,
  * so merge-on-read fan-in cycles from zero up, below the scan's heal
  * limit, and reads never commit.
  *
  * Roles: ingest = upsert, serve = point read, batch = aggregate scan plus
  * PK join, derive = compaction. */
final class PkIngestServe(ctx: Ctx) extends Workload {
  import PkIngestServe._
  import Workload._
  import ctx._
  import spark.implicits._

  val roles = Map("ingest" -> "upsert", "serve" -> "point_read",
    "batch" -> "analytics", "derive" -> "compaction")

  private val ordersPath = s"$dir/orders"
  private val lineitemPath = s"$dir/lineitem"
  baseOrders(spark, seed).write.format("graft").option("hashPartitions", "o_orderkey")
    .option("hashBucketNum", BUCKETS.toString).save(ordersPath)
  baseLineitems(spark, seed).write.format("graft").option("hashPartitions", "l_orderkey")
    .option("hashBucketNum", BUCKETS.toString).save(lineitemPath)
  private val orders = GraftTable.forPath(spark, ordersPath)

  // ---- plain model: base rows from the generator, last writer wins ----
  private val images = mutable.HashMap.empty[Long, Order]
  private var nextKey = ORDERS + 1
  private var modelCount = ORDERS
  private var modelCents = 0L
  private val lineCents = (k: Long) =>
    if (k > ORDERS) 0L else (1 to LINES).map(l => Gen.lineitem(seed, k, l).l_extendedcents).sum
  private val joinModel = mutable.HashMap.empty[String, (Long, Long)]
  (1L to ORDERS).foreach { k =>
    val o = Gen.order(seed, k, 0)
    modelCents += o.o_totalcents
    val (c, s) = joinModel.getOrElse(o.o_orderpriority, (0L, 0L))
    joinModel(o.o_orderpriority) = (c + LINES, s + lineCents(k))
  }
  private def current(k: Long): Option[Order] =
    images.get(k).orElse(if (k >= 1 && k <= ORDERS) Some(Gen.order(seed, k, 0)) else None)

  private def apply(o: Order): Unit = {
    val prev = current(o.o_orderkey)
    prev match {
      case Some(p) =>
        modelCents += o.o_totalcents - p.o_totalcents
        if (o.o_orderkey <= ORDERS && p.o_orderpriority != o.o_orderpriority) {
          val lc = lineCents(o.o_orderkey)
          val (c0, s0) = joinModel(p.o_orderpriority)
          joinModel(p.o_orderpriority) = (c0 - LINES, s0 - lc)
          val (c1, s1) = joinModel.getOrElse(o.o_orderpriority, (0L, 0L))
          joinModel(o.o_orderpriority) = (c1 + LINES, s1 + lc)
        }
      case None => modelCount += 1; modelCents += o.o_totalcents
    }
    images(o.o_orderkey) = o
  }

  /** Batch `i`: distinct keys, skewed towards low keys (hot orders), plus
    * NEW_PER_BATCH fresh keys; every image carries version i + 2. */
  private def batch(i: Int): Seq[Order] = {
    val v = i + 2L
    val keys = mutable.LinkedHashSet.empty[Long]
    var j = 0L
    while (keys.size < BATCH - NEW_PER_BATCH) {
      val u = Gen.unit(seed, i * 1000003L + j, 51)
      keys += 1L + (math.pow(u, 3) * (nextKey - 1)).toLong
      j += 1
    }
    val fresh = (0 until NEW_PER_BATCH).map(n => nextKey + n)
    nextKey += NEW_PER_BATCH
    (keys.toSeq ++ fresh).map(k => Gen.order(seed, k, v))
  }

  // ---- layer counters ----
  private val log = new CommitLog(rec, () => orders)
  private val compactionBytes = mutable.ArrayBuffer.empty[Long]
  private val spaceAmp = mutable.ArrayBuffer.empty[Double]
  private var joinExchanges = 0

  /** One fan-in cycle: UPSERTS_PER_CYCLE rounds of one upsert and READS
    * point reads, then the aggregate scan and PK join at full fan-in, then
    * compaction. Analytics and compaction always meet the same fan-in, so
    * their samples are alike. The warm-up runs a one-upsert cycle. */
  def round(i: Int): Unit = {
    (0 until (if (i < 0) 1 else UPSERTS_PER_CYCLE)).foreach { u =>
      val j = if (i < 0) -1 else i * UPSERTS_PER_CYCLE + u
      val b = batch(j)
      val df = b.toDF()
      rec.op("upsert", "commands")(orders.upsert(df))
      b.foreach(apply)
      log.afterCommit(b.size)
      val fresh = b.map(_.o_orderkey)
      (0 until READS).foreach { r =>
        val k = if (r % 2 == 0) fresh(Gen.below(seed, j * 64L + r, 52, fresh.size).toInt)
          else 1L + Gen.below(seed, j * 64L + r, 53, nextKey - 1)
        pointRead(k)
      }
    }
    analytics()
    val before = orders.snapshot.sizeInBytes
    rec.op("compaction", "commands")(orders.compaction())
    val rewritten = log.afterCommit(0)._2.map(_.size).sum
    if (rec.recording) compactionBytes += rewritten
    // the compacted table holds the same rows once: its size is the base
    if (rec.recording) spaceAmp += before.toDouble / orders.snapshot.sizeInBytes
  }

  private def pointRead(k: Long): Unit = {
    log.beforeRead()
    val rows = rec.op("point_read", "sources") {
      val df = read(spark, ordersPath).filter(col("o_orderkey") === k)
      rec.step("plan", "rules")(df.queryExecution.executedPlan)
      df.collect()
    }
    rec.serveRows += rows.length
    checks.sameRows(s"point read of key $k", rows.toSeq,
      current(k).map(o => Row.fromTuple(o)).toSeq)
  }

  private def analytics(): Unit = rec.step("analytics", "sources") {
    val agg = rec.op("agg_scan", "sources") {
      read(spark, ordersPath).agg(count(lit(1)), sum(col("o_totalcents"))).head()
    }
    checks.expect(agg.getLong(0) == modelCount && agg.getLong(1) == modelCents,
      s"aggregate scan read (${agg.getLong(0)}, ${agg.getLong(1)}), model " +
      s"($modelCount, $modelCents)")
    val joined = rec.op("pk_join", "rules") {
      val df = read(spark, ordersPath)
        .join(read(spark, lineitemPath), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)), sum(col("l_extendedcents")))
      val r = df.collect()
      joinExchanges = Workload.joinExchanges(df.queryExecution.executedPlan)
      r
    }
    checks.sameRows("PK join aggregate", joined.toSeq,
      joinModel.toSeq.filter(_._2._1 > 0).map { case (p, (c, s)) => Row(p, c, s) })
  }

  def finish(): Seq[Figure] = {
    val touched = images.keySet.toSet
    val model = baseOrders(spark, seed).filter(o => !touched.contains(o.o_orderkey)).toDF()
      .union(images.values.toSeq.toDF())
    val (gc, gh) = fingerprint(read(spark, ordersPath))
    val (mc, mh) = fingerprint(model)
    checks.expect(gc == mc && gh == mh,
      s"final table ($gc rows, hash $gh) differs from the model ($mc rows, hash $mh)")
    latency("upsert", rec.ms("upsert"), withTail = true) ++
      latency("point_read", rec.ms("point_read"), withTail = true) ++
      latency("agg_scan", rec.ms("agg_scan"), withTail = false) ++
      latency("pk_join", rec.ms("pk_join"), withTail = false) ++
      latency("compaction", rec.ms("compaction"), withTail = false) :+
      Figure("space_amp", if (spaceAmp.isEmpty) Double.NaN else median(spaceAmp.toSeq), "ratio",
        s"live bytes before each compaction / bytes after it, median of n=${spaceAmp.size}")
  }

  def layerCounters(): Map[String, Double] = log.counters() ++ Map(
    "rules.join_exchanges" -> joinExchanges.toDouble,
    "commands.compaction_bytes_rewritten" -> mean(compactionBytes.map(_.toDouble)))
}

object PkIngestServe {
  def baseOrders(spark: SparkSession, seed: Long): Dataset[Order] = {
    import spark.implicits._
    spark.range(1, ORDERS + 1, 1, 4).as[Long].map(k => Gen.order(seed, k, 0))
  }
  def baseLineitems(spark: SparkSession, seed: Long): Dataset[Lineitem] = {
    import spark.implicits._
    spark.range(1, ORDERS + 1, 1, 4).as[Long]
      .flatMap(k => (1 to LINES).map(l => Gen.lineitem(seed, k, l)))
  }
  val ORDERS = 150000L
  val LINES = 4
  val BUCKETS = 16
  val BATCH = 1000
  val NEW_PER_BATCH = 100
  val READS = 4
  /** Delta commits between compactions: below the scan's 64-file heal
    * limit, so reads never commit. */
  val UPSERTS_PER_CYCLE = 4
}
