package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.tables.GraftTable

/** Streaming sink behavior (reference `StarSinkSuite.scala:50-460`):
  * append mode, update mode (PK upsert), complete mode, aggregation with
  * watermark, and exactly-once replayed-batch idempotence.
  */
class StreamingSinkSuite extends GraftFunSuite {
  import spark.implicits._

  private def classicSpark = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  test("append mode writes each batch once") {
    withTempTable { dir =>
      implicit val ctx = classicSpark.sqlContext
      val input = MemoryStream[(Long, String)]
      val q = input.toDF().toDF("id", "v")
        .writeStream.format("graft").outputMode(OutputMode.Append)
        .option("checkpointLocation", dir + "-ckpt")
        .trigger(Trigger.AvailableNow()).start(dir)
      input.addData((1L, "a"), (2L, "b"))
      q.awaitTermination(60000)
      val q2 = input.toDF().toDF("id", "v")
        .writeStream.format("graft").outputMode(OutputMode.Append)
        .option("checkpointLocation", dir + "-ckpt")
        .trigger(Trigger.AvailableNow()).start(dir)
      input.addData((3L, "c"))
      q2.awaitTermination(60000)
      val t = GraftTable.forPath(spark, dir)
      assert(rowsOf(t.toDF.select("id", "v")) ==
        rowsOf(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")))
    }
  }

  test("update mode on pk table upserts per batch") {
    withTempTable { dir =>
      implicit val ctx = classicSpark.sqlContext
      val input = MemoryStream[(Long, Int)]
      def run(): Unit = {
        val q = input.toDF().toDF("id", "v")
          .writeStream.format("graft").outputMode(OutputMode.Update)
          .option("checkpointLocation", dir + "-ckpt")
          .option("hashPartitions", "id").option("hashBucketNum", "2")
          .trigger(Trigger.AvailableNow()).start(dir)
        q.awaitTermination(60000)
      }
      input.addData((1L, 10), (2L, 20)); run()
      input.addData((2L, 200), (3L, 30)); run()
      val t = GraftTable.forPath(spark, dir)
      assert(rowsOf(t.toDF.select("id", "v")) ==
        rowsOf(Seq((1L, 10), (2L, 200), (3L, 30)).toDF("id", "v")))
    }
  }

  test("complete mode replaces table contents") {
    withTempTable { dir =>
      implicit val ctx = classicSpark.sqlContext
      val input = MemoryStream[(String, Long)]
      def run(): Unit = {
        val q = input.toDS().toDF("k", "n").groupBy("k").count()
          .writeStream.format("graft").outputMode(OutputMode.Complete)
          .option("checkpointLocation", dir + "-ckpt")
          .trigger(Trigger.AvailableNow()).start(dir)
        q.awaitTermination(60000)
      }
      input.addData(("a", 1L), ("a", 2L), ("b", 1L)); run()
      input.addData(("a", 3L)); run()
      val t = GraftTable.forPath(spark, dir)
      assert(rowsOf(t.toDF.select("k", "count")) ==
        rowsOf(Seq(("a", 3L), ("b", 1L)).toDF("k", "count")))
      // a Complete batch is a full-table REPLACEMENT and must commit as
      // "overwrite": an append-type commit would make a downstream stream
      // re-emit the whole table each batch as fresh rows and the change
      // feeds tag replaced state as pure inserts
      import spark.implicits._
      // v0 CREATES the table (nothing replaced — plain streaming append);
      // every later Complete batch replaces state and must be "overwrite"
      val types = t.history().select("version", "commitType")
        .as[(Long, String)].collect().toMap
      assert(types(0L) == "streaming" && types(1L) == "overwrite",
        s"Complete replacement batches must commit as overwrite: $types")
      // the batch ChangeFeed sees the replacement: v1 emits deletes for
      // the replaced state alongside the new inserts
      val v1types = t.changes(1, 1)
        .select(graft.tables.ChangeFeed.CHANGE_TYPE).as[String]
        .collect().toSet
      assert(v1types.contains("delete") && v1types.contains("insert"),
        s"replacement must emit deletes + inserts, got $v1types")
    }
  }

  test("replayed batch id is skipped (exactly-once)") {
    withTempTable { dir =>
      val df1 = Seq((1L, "a")).toDF("id", "v")
      // simulate the sink being handed the same batch twice
      val sink = new graft.sources.GraftSink(spark, dir,
        Map("queryId" -> "qx"), Nil, OutputMode.Append())
      sink.addBatch(0, df1)
      sink.addBatch(0, df1) // replay: must be a no-op
      sink.addBatch(1, Seq((2L, "b")).toDF("id", "v"))
      val t = GraftTable.forPath(spark, dir)
      assert(t.toDF.count() == 2)
      assert(t.snapshot.streamingBatchIds("qx") == 1L)
    }
  }

  test("aggregation with watermark streams into the sink") {
    withTempTable { dir =>
      implicit val ctx = classicSpark.sqlContext
      val input = MemoryStream[(java.sql.Timestamp, String)]
      val agg = input.toDF().toDF("ts", "k")
        .withWatermark("ts", "10 minutes")
        .groupBy(org.apache.spark.sql.functions.window($"ts", "5 minutes"), $"k")
        .count()
        .select($"window.start".as("wstart"), $"k", $"count")
      def run(): Unit = {
        val q = agg.writeStream.format("graft").outputMode(OutputMode.Append)
          .option("checkpointLocation", dir + "-ckpt")
          .trigger(Trigger.AvailableNow()).start(dir)
        q.awaitTermination(60000)
      }
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:01:00")
      val t1 = java.sql.Timestamp.valueOf("2024-01-01 00:02:00")
      input.addData((t0, "x"), (t1, "x"))
      run()
      // a later event advances the watermark; the 00:00 window then closes
      // and is appended in the following micro-batch
      input.addData((java.sql.Timestamp.valueOf("2024-01-01 01:00:00"), "y"))
      run()
      input.addData((java.sql.Timestamp.valueOf("2024-01-01 02:00:00"), "y"))
      run()
      val rows = GraftTable.forPath(spark, dir).toDF
      val x = rows.filter($"k" === "x").select("count").collect()
      assert(x.nonEmpty && x.head.getLong(0) == 2L,
        s"expected closed window for k=x with count 2, got ${rowsOf(rows)}")
    }
  }

  test("dedup-on-ingest: cross-batch content dedup into the sink") {
    withTempTable { dir =>
      implicit val ctx = classicSpark.sqlContext
      // the LLM-pipeline ingest shape: stream documents, hash the content,
      // dropDuplicates on the hash (Spark keeps the seen-hash set in the
      // state store ACROSS micro-batches and restarts), append to a graft
      // table — each distinct content lands exactly once
      val input = MemoryStream[(Long, String)]
      val deduped = input.toDF().toDF("doc_id", "text")
        .withColumn("content_hash",
          org.apache.spark.sql.functions.md5($"text"))
        .dropDuplicates("content_hash")
      def run(): Unit = {
        val q = deduped.writeStream.format("graft")
          .outputMode(OutputMode.Append)
          .option("checkpointLocation", dir + "-ckpt")
          .trigger(Trigger.AvailableNow()).start(dir)
        q.awaitTermination(60000)
      }
      input.addData((1L, "alpha"), (2L, "beta"), (3L, "alpha"))
      run()
      // batch 2 repeats batch-1 content: the state store must remember it
      input.addData((4L, "beta"), (5L, "gamma"), (6L, "alpha"))
      run()
      val got = GraftTable.forPath(spark, dir).toDF
        .select("text").as[String].collect().sorted.toSeq
      assert(got == Seq("alpha", "beta", "gamma"),
        s"each distinct content must land exactly once: $got")
    }
  }

  test("replicateTo: an empty micro-batch commits nothing; a window that " +
      "inserts, updates and deletes one key leaves the replica equal") {
    withTempTable { src => withTempTable { scratch =>
      import org.apache.spark.sql.functions.col
      val dest = scratch + "/replica"
      Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.format("graft")
        .option("hashPartitions", "id").option("hashBucketNum", "2")
        .save(src)
      val t = GraftTable.forPath(spark, src)
      t.cloneTo(dest)
      def version(p: String) = graft.meta.SnapshotManagement.snapshot(
        graft.meta.SnapshotManagement.normalize(p)).version
      def state(p: String) = spark.read.format("graft").load(p)
        .as[(Long, String)].collect().toMap
      val q = t.replicateTo(dest, scratch + "/ckpt",
        Trigger.ProcessingTime("100 milliseconds"))
      try {
        // a compaction commit yields no change rows: its micro-batch is
        // empty and must not reach the replica's log
        t.upsert(Seq((2L, "b2")).toDF("id", "v"))
        q.processAllAvailable()
        val replicaAt = version(dest)
        t.compaction()
        val compacted = version(src)
        q.processAllAvailable()
        assert(q.lastProgress.sources.head.endOffset == compacted.toString,
          s"the stream must have read past v$compacted: ${q.lastProgress.json}")
        assert(version(dest) == replicaAt, "an empty window committed")
        // one window: insert, update and delete the same key
        q.stop()
        t.upsert(Seq((3L, "c")).toDF("id", "v"))
        t.upsert(Seq((3L, "c2")).toDF("id", "v"))
        t.delete(col("id") === 3L)
        val q2 = t.replicateTo(dest, scratch + "/ckpt",
          Trigger.ProcessingTime("100 milliseconds"))
        try q2.processAllAvailable() finally q2.stop()
        assert(state(dest) == state(src),
          s"replica diverged:\n src ${state(src)}\n dst ${state(dest)}")
        assert(state(dest) == Map(1L -> "a", 2L -> "b2"))
      } finally q.stop()
    } }
  }
}
