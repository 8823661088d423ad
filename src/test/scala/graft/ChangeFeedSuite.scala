package graft

import org.apache.spark.sql.functions._

import graft.tables.{ChangeFeed, GraftTable}

/** Change Data Feed: row-level changes derived from the commit log's
  * add/remove file sets (no commit-time change files). */
class ChangeFeedSuite extends GraftFunSuite {
  import spark.implicits._

  private def types(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
    df.groupBy(ChangeFeed.CHANGE_TYPE).count().as[(String, Long)]
      .collect().toMap

  test("change feed survives a column literally named a.b") {
    withTempTable { dir =>
      // every feed path builds old/new-value references by column NAME —
      // an unescaped dotted name would parse as a struct path and fail
      Seq((1L, "x", 1), (2L, "y", 2)).toDF("id", "a.b", "n")
        .write.format("graft")
        .option("hashPartitions", "id").option("hashBucketNum", "1").save(dir)
      val t = GraftTable.forPath(spark, dir)
      t.upsert(Seq((1L, "X", 10)).toDF("id", "a.b", "n")) // v1: append-run
      t.delete($"id" === 2L) // v2: tombstone delete -> merged-state diff
      val got = t.changes(0)
        .select(col(graft.tables.ChangeFeed.CHANGE_TYPE), col("id"),
          col("`a.b`"))
        .as[(String, Long, String)].collect().toSeq
      assert(got.contains(("delete", 2L, "y")), s"missing delete: $got")
      assert(got.contains(("upsert", 1L, "X")), s"missing upsert: $got")
      assert(got.count(_._1 == "insert") == 2, s"missing inserts: $got")
    }
  }

  test("PK table: append, delta upsert, update, delete, compaction") {
    withTempTable { dir =>
      Seq((1, "a", 10), (2, "b", 20), (3, "c", 30)).toDF("id", "name", "v")
        .write.format("graft")
        .option("hashPartitions", "id").option("hashBucketNum", "2").save(dir)
      val t = GraftTable.forPath(spark, dir)
      val v0 = t.snapshot.version

      t.upsert(Seq((2, "b2", 21), (4, "d", 40)).toDF("id", "name", "v"))
      val vDelta = t.snapshot.version
      t.updateExpr("id = 1", Map("v" -> "v + 100"))
      val vUpd = t.snapshot.version
      t.delete($"id" === 3)
      val vDel = t.snapshot.version
      // leave a delta stack so compaction has real work (a no-op compaction
      // does not commit and the version would not advance)
      t.upsert(Seq((5, "e", 50)).toDF("id", "name", "v"))
      val vDelta2 = t.snapshot.version
      t.compaction()
      val vComp = t.snapshot.version
      assert(vComp > vDelta2, "compaction must commit here")

      // initial write: all rows insert
      assert(types(t.changes(v0, v0)) == Map("insert" -> 3L))

      // delta upsert: rows as written, type "upsert"
      val delta = t.changes(vDelta, vDelta)
      assert(types(delta) == Map("upsert" -> 2L))
      assert(delta.select("id").as[Int].collect().sorted.toSeq == Seq(2, 4))

      // update: only the CHANGED key surfaces, pre+post pair
      val upd = t.changes(vUpd, vUpd)
      assert(types(upd) ==
        Map("update_preimage" -> 1L, "update_postimage" -> 1L))
      val prePost = upd
        .select(col(ChangeFeed.CHANGE_TYPE), $"id", $"v").as[(String, Int, Int)]
        .collect().toSet
      assert(prePost == Set(("update_preimage", 1, 10),
        ("update_postimage", 1, 110)))

      // delete: only the removed key, carried-over rows suppressed
      val del = t.changes(vDel, vDel)
      assert(types(del) == Map("delete" -> 1L))
      assert(del.select("id").as[Int].head() == 3)

      // compaction: pure rewrite, no changes
      assert(t.changes(vComp, vComp).count() == 0)

      // whole window unions all of the above
      assert(types(t.changes(v0)) == Map("insert" -> 3L, "upsert" -> 3L,
        "update_preimage" -> 1L, "update_postimage" -> 1L, "delete" -> 1L))
      // commit versions are stamped
      assert(t.changes(v0).select(ChangeFeed.COMMIT_VERSION).distinct()
        .as[Long].collect().sorted.toSeq ==
        Seq(v0, vDelta, vUpd, vDel, vDelta2))
    }
  }

  test("merge-mode upsert diffs by key: insert vs update vs untouched") {
    withTempTable { dir =>
      Seq((1, 10), (2, 20), (3, 30)).toDF("id", "v")
        .write.format("graft")
        .option("hashPartitions", "id").option("hashBucketNum", "2").save(dir)
      val t = GraftTable.forPath(spark, dir)
      // merge-mode rewrite: id=2 changed, id=4 new, ids 1/3 carried over
      t.upsert(Seq((2, 21), (4, 40)).toDF("id", "v"), mode = "merge")
      val v = t.snapshot.version
      val ch = t.changes(v, v)
      assert(types(ch) == Map("insert" -> 1L,
        "update_preimage" -> 1L, "update_postimage" -> 1L))
      val rows = ch.select(col(ChangeFeed.CHANGE_TYPE), $"id", $"v")
        .as[(String, Int, Int)].collect().toSet
      assert(rows == Set(("insert", 4, 40),
        ("update_preimage", 2, 20), ("update_postimage", 2, 21)))
    }
  }

  test("non-PK table: append, overwrite-replaceWhere, whole-row update diff") {
    withTempTable { dir =>
      Seq(("us", 1), ("us", 2), ("de", 3)).toDF("country", "n")
        .write.format("graft").option("rangePartitions", "country").save(dir)
      val t = GraftTable.forPath(spark, dir)
      val v0 = t.snapshot.version
      assert(types(t.changes(v0, v0)) == Map("insert" -> 3L))

      // replaceWhere: statement about every row of the partition
      Seq(("us", 9)).toDF("country", "n").write.format("graft")
        .mode("overwrite").option("replaceWhere", "country = 'us'").save(dir)
      val vOw = t.snapshot.version
      val ow = t.changes(vOw, vOw)
      assert(types(ow) == Map("delete" -> 2L, "insert" -> 1L))

      // update on a non-PK table: whole-row multiset diff
      t.updateExpr("n = 9", Map("n" -> "n * 2"))
      val vUpd = t.snapshot.version
      val upd = t.changes(vUpd, vUpd)
      assert(types(upd) ==
        Map("update_preimage" -> 1L, "update_postimage" -> 1L))
      assert(upd.filter(col(ChangeFeed.CHANGE_TYPE) === "update_postimage")
        .select("n").as[Int].head() == 18)

      // delete on a non-PK table: vanished rows are DELETIONS, not
      // pre-images (whole-partition and rewrite deletes alike)
      t.deleteExpr("country = 'de'")
      val vDel = t.snapshot.version
      val del = t.changes(vDel, vDel)
      assert(types(del) == Map("delete" -> 1L))
      assert(del.select("n").as[Int].head() == 3)
    }
  }

  test("non-PK rewrite of 100k copies of one row emits every copy") {
    withTempTable { dir =>
      // DVs off: the UPDATE rewrites the file, so the feed takes the
      // whole-row count diff, whose copies must not be one array per row
      spark.range(100000).select(lit(1L).as("k"), lit("a").as("s"))
        .write.format("graft").option("graft.deletionVectors", "false")
        .save(dir)
      val t = GraftTable.forPath(spark, dir)
      t.updateExpr("k = 1", Map("s" -> "'b'"))
      val v = t.snapshot.version
      assert(types(t.changes(v, v)) == Map(
        "update_preimage" -> 100000L, "update_postimage" -> 100000L))
    }
  }

  test("schema evolution inside the window null-fills by name") {
    withTempTable { dir =>
      Seq((1, "a")).toDF("id", "name").write.format("graft")
        .option("hashPartitions", "id").option("hashBucketNum", "2").save(dir)
      val t = GraftTable.forPath(spark, dir)
      val v0 = t.snapshot.version
      // evolution: new column arrives in a later delta
      withSQLConf("spark.graft.schema.autoMerge.enabled" -> "true") {
        t.upsert(Seq((2, "b", 5)).toDF("id", "name", "extra"))
      }
      val ch = t.changes(v0)
      assert(ch.columns.contains("extra"))
      val byId = ch.select($"id", $"extra").as[(Int, Option[Int])]
        .collect().toMap
      assert(byId(1).isEmpty && byId(2).contains(5))
    }
  }

  test("SQL table functions: graft_table_changes / graft_table_history") {
    withTempTable { dir =>
      Seq((1, 10), (2, 20)).toDF("id", "v").write.format("graft")
        .option("hashPartitions", "id").option("hashBucketNum", "1").save(dir)
      val t = GraftTable.forPath(spark, dir)
      t.upsert(Seq((1, 11)).toDF("id", "v"))
      val ch = spark.sql(s"SELECT * FROM graft_table_changes('$dir', 0)")
      assert(types(ch) == Map("insert" -> 2L, "upsert" -> 1L))
      // window form + aggregation over the TVF
      val n = spark.sql(
        s"SELECT count(*) FROM graft_table_changes('$dir', 1, 1)")
        .as[Long].head()
      assert(n == 1L)
      val hist = spark.sql(s"SELECT * FROM graft_table_history('$dir')")
      assert(hist.count() == 2L &&
        hist.columns.contains("commitType"))
      val det = spark.sql(s"SELECT * FROM graft_table_detail('$dir')")
      assert(det.count() == 1L &&
        det.collect().head.getAs[Int]("bucketNum") == 1)
      val parts = spark.sql(
        s"SELECT * FROM graft_table_partitions('$dir')")
      assert(parts.count() == 1L &&
        parts.collect().head.getAs[Long]("numFiles") >= 2L)
      // non-literal argument is rejected loudly
      val err = intercept[Exception] {
        spark.sql(s"SELECT * FROM graft_table_changes('$dir', id)").collect()
      }
      assert(err.getMessage.contains("literal") ||
        err.getMessage.toLowerCase.contains("unresolved"))
    }
  }

  test("collapsed append-run keeps null partition values null") {
    withTempTable { dir =>
      // a null int partition value lands on disk as the Hive null-marker
      // directory; the collapsed run's typed cast must see a real null,
      // not the sentinel string (ANSI cast of it to int would throw)
      Seq((1L, Option(7), "a"), (2L, Option.empty[Int], "b"))
        .toDF("id", "p", "s").write.format("graft")
        .option("rangePartitions", "p").save(dir)
      val t = GraftTable.forPath(spark, dir)
      t.toDF.write.format("graft").mode("append").save(dir) // extend the run
      val got = t.changes(0)
        .select(col("id"), col("p"), col(ChangeFeed.CHANGE_TYPE))
        .as[(Long, Option[Int], String)].collect().toSeq
      assert(got.size == 4, s"got $got")
      assert(got.count(_ == ((2L, None, "insert"))) == 2, s"got $got")
      assert(got.count(_ == ((1L, Some(7), "insert"))) == 2, s"got $got")
    }
  }

  test("window validation and empty windows") {
    withTempTable { dir =>
      Seq((1, 1)).toDF("id", "v").write.format("graft")
        .option("hashPartitions", "id").option("hashBucketNum", "1").save(dir)
      val t = GraftTable.forPath(spark, dir)
      val latest = t.snapshot.version
      intercept[IllegalArgumentException] { t.changes(latest + 1) }
      intercept[IllegalArgumentException] { t.changes(0, latest + 5) }
      // a window of pure rewrites yields a typed empty frame
      t.upsert(Seq((1, 2)).toDF("id", "v")) // delta so compaction commits
      t.compaction()
      val v = t.snapshot.version
      assert(v > latest + 1, "compaction must commit here")
      val empty = t.changes(v, v)
      assert(empty.count() == 0)
      assert(empty.columns.toSeq ==
        Seq("id", "v", ChangeFeed.CHANGE_TYPE, ChangeFeed.COMMIT_VERSION,
          ChangeFeed.COMMIT_TIMESTAMP))
    }
  }
}
