package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.tables.{ChangeFeed, GraftTable}

/** Differential check of the two change-feed entry points: for a random
  * PK DML history (the [[RandomizedDmlSuite]] generator) and a non-PK
  * history of stream-expressible commits, the batch feed — per version
  * and over the whole window — must equal, as a multiset of rows, what an
  * AvailableNow `readChangeFeed` stream from `startingVersion = 1` emits.
  */
class ChangeFeedDifferentialSuite extends GraftFunSuite {

  private def multiset(df: DataFrame, cols: Seq[String]): Map[List[Any], Int] =
    df.select(cols.map(c => col(s"`$c`")): _*).collect()
      .map(_.toSeq.toList).groupBy(identity).view.mapValues(_.length).toMap

  private def diffReport(a: Map[List[Any], Int], b: Map[List[Any], Int]) = {
    def minus(x: Map[List[Any], Int], y: Map[List[Any], Int]) =
      x.flatMap { case (r, n) =>
        val d = n - y.getOrElse(r, 0)
        if (d > 0) Some(r -> d) else None
      }
    s"  only in batch:  ${minus(a, b).take(8)}\n" +
      s"  only in stream: ${minus(b, a).take(8)}"
  }

  private var streams = 0

  private def assertBatchEqualsStream(dir: String, ctx: String): Unit = {
    val latest = graft.meta.SnapshotManagement.store
      .latestVersion(graft.meta.SnapshotManagement.normalize(dir))
    streams += 1
    val name = s"cf_differential_$streams"
    val q = spark.readStream.format("graft")
      .option("readChangeFeed", "true").option("startingVersion", "1")
      .load(dir)
      .writeStream.format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    val streamedDf = spark.table(name)
    val cols = streamedDf.columns.toSeq
    val streamed = multiset(streamedDf, cols)
    val window = multiset(ChangeFeed.changes(spark, dir, 1L, latest), cols)
    assert(window == streamed,
      s"$ctx: changes(1, $latest) differs from the stream\n" +
      diffReport(window, streamed))
    val perVersion = multiset((1L to latest)
      .map(v => ChangeFeed.changes(spark, dir, v, v))
      .reduce(_.unionByName(_)), cols)
    assert(perVersion == streamed,
      s"$ctx: per-version changes(v, v) differ from the stream\n" +
      diffReport(perVersion, streamed))
    spark.sql(s"DROP VIEW IF EXISTS $name")
  }

  private val numSeeds =
    sys.env.getOrElse("GRAFT_RANDOM_DML_SEEDS", "6").toInt
  (1 to numSeeds).foreach { seed =>
    test(s"PK DML history, seed $seed: batch feed equals the stream") {
      withTempTable { dir =>
        val g = new RandomDmlSequence(spark, dir, seed, layoutOps = false)
        val ops = (0 until 20).map(g.step)
        assertBatchEqualsStream(dir, s"seed=$seed ops=${ops.mkString(" ")}")
      }
    }
  }

  test("PK restore across a rebucket: batch feed equals the stream, and " +
      "moved keys pair as updates") {
    import spark.implicits._
    withTempTable { dir =>
      (0L until 40L).map(i => (i, s"v$i")).toDF("id", "v").write
        .format("graft").option("hashPartitions", "id")
        .option("hashBucketNum", "2").save(dir) // v0
      val t = GraftTable.forPath(spark, dir)
      t.upsert((0L until 10L).map(i => (i, s"u$i")).toDF("id", "v")) // v1
      t.rebucket(5) // v2
      t.update(col("id") < 20L, Map("v" -> lit("x"))) // v3, 5 buckets
      val restored = t.restore(1L) // back to v1's state and 2 buckets
      assertBatchEqualsStream(dir, "restore across a rebucket")
      val got = ChangeFeed.changes(spark, dir, restored, restored)
        .select(col(ChangeFeed.CHANGE_TYPE), col("id")).as[(String, Long)]
        .collect().toSeq
      assert(got.sorted == (0L until 20L).flatMap(i =>
        Seq(("update_postimage", i), ("update_preimage", i))).sorted,
        s"got $got")
    }
  }

  test("non-PK history of append, overwrite and DV-only DML: batch " +
      "feed equals the stream") {
    import spark.implicits._
    withTempTable { dir =>
      (0 until 200).map(i => (i.toLong, i.toLong, i % 2)).toDF("id", "v", "g")
        .write.format("graft").partitionBy("g").save(dir) // v0
      val t = GraftTable.forPath(spark, dir)
      (200 until 260).map(i => (i.toLong, i.toLong, i % 2))
        .toDF("id", "v", "g").write.format("graft").mode("append")
        .save(dir) // v1: append
      t.delete(col("id") % 25 === 3) // v2: DV-only delete
      t.update(col("id") % 40 === 5, Map("v" -> (col("v") * 10))) // v3
      t.delete(col("id") % 25 === 4) // v4: grows existing vectors
      (0 until 30).map(i => (1000L + i, -i.toLong, 1)).toDF("id", "v", "g")
        .write.format("graft").mode("overwrite")
        .option("replaceWhere", "g = 1").save(dir) // v5: overwrite
      t.update(col("id") === 10L, Map("v" -> lit(-7L))) // v6
      Seq((5000L, 1L, 0)).toDF("id", "v", "g").write.format("graft")
        .mode("append").save(dir) // v7
      assertBatchEqualsStream(dir, "non-PK history")
    }
  }
}
