package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape assertions: filters reach the parquet scan, projections prune
  * the read schema, scans stay inside whole-stage codegen, and partition
  * pruning eliminates untouched range partitions.
  */
class PlanQualitySuite extends AnyFunSuite with AdaptiveSparkPlanHelper {

  lazy val spark = GraftFunSuite.session

  private def withTable[T](f: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("graft-pq-").toString
    try f(dir)
    finally graft.write.TransactionalWrite.deleteRecursively(
      java.nio.file.Paths.get(dir))
  }

  test("filter pushdown reaches the parquet scan on non-PK graft tables") {
    import spark.implicits._
    withTable { dir =>
      (1 to 1000).map(i => (i, s"s$i", i * 1.5)).toDF("id", "s", "v")
        .write.format("graft").save(dir)
      val q = spark.read.format("graft").load(dir)
        .filter($"id" > 500 && $"s".startsWith("s9")).select("id", "s")
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters"), plan)
      assert(plan.contains("GreaterThan(id,500)"), plan)
      assert(plan.contains("StringStartsWith(s,s9)"), plan)
      // column pruning: v is not read
      assert(plan.contains("ReadSchema"), plan)
      assert(!plan.replaceAll("(?s).*ReadSchema: ([^\\n]*).*", "$1").contains("v:"),
        plan)
      assert(q.count() > 0)
    }
  }

  test("aggregation over graft scan runs inside whole-stage codegen") {
    import spark.implicits._
    withTable { dir =>
      (1 to 1000).map(i => (i % 7, i.toDouble)).toDF("g", "v")
        .write.format("graft").save(dir)
      val q = spark.read.format("graft").load(dir).groupBy("g")
        .agg(sum("v"))
      q.collect()
      // "*(n)" prefixes mark whole-stage-codegen stages in the plan string
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("*(1)"), plan)
      // the columnar parquet batch path feeds the codegen stage
      assert(plan.contains("ColumnarToRow"), plan)
    }
  }

  test("pk-only filter is pushed into merge-on-read parquet readers") {
    import spark.implicits._
    withTable { dir =>
      (1 to 100).map(i => (i.toLong, i)).toDF("id", "v").write.format("graft")
        .option("hashPartitions", "id").option("hashBucketNum", "2").save(dir)
      graft.tables.GraftTable.forPath(spark, dir)
        .upsert(Seq((5L, 12345)).toDF("id", "v"))
      val q = spark.read.format("graft").load(dir).filter($"id" === 5L)
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("merge-on-read"), plan)
      assert(plan.contains("pushedPkFilters") && plan.contains("EqualTo(id,5)"), plan)
      // data filters on non-pk columns must NOT be pushed (version safety)
      val q2 = spark.read.format("graft").load(dir).filter($"v" === 12345)
      val plan2 = q2.queryExecution.executedPlan.toString
      assert(!plan2.contains("pushedPkFilters=[EqualTo(v,"), plan2)
      assert(q.count() == 1 && q2.count() == 1)
    }
  }

  test("partition pruning scans only matching range partitions") {
    import spark.implicits._
    withTable { dir =>
      Seq((1, "a", 1), (2, "b", 2), (3, "c", 3)).toDF("id", "part", "v")
        .write.format("graft").partitionBy("part").save(dir)
      val q = spark.read.format("graft").load(dir).filter($"part" === "b")
      // the file index must list only the b partition's files
      val scans = collectWithSubqueries(q.queryExecution.executedPlan) {
        case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s
      }
      assert(scans.nonEmpty)
      val files = scans.head.inputRDD.partitions.length
      assert(q.count() == 1)
      val planStr = q.queryExecution.executedPlan.toString
      assert(!planStr.contains("part=a") && !planStr.contains("part=c"),
        s"pruned partitions appear in plan:\n$planStr")
    }
  }

  test("no interpreted higher-order-function lambdas in ANN/text hot paths") {
    import spark.implicits._
    // HOF lambdas (aggregate/transform/filter over arrays) evaluate
    // interpreted per row — they have caused multiple 20x regressions when
    // they land on a PER-PAIR / PER-CANDIDATE path. Per-DOC prep (unit
    // normalization folds, shingle assembly) is linear work on the scan
    // stage and deliberately uses them (Ann.unitVecs trades a grouped
    // aggregate + join — 2-3 AQE stage jobs per call — for narrow per-row
    // folds). So: text ops stay lambda-free outright, and for ANN the
    // CANDIDATE-scale region — every join condition and every operator
    // above a join — must stay lambda-free.
    val emb = (0 until 50).map(i => (i.toLong, Array.fill(8)(i * 0.1f)))
      .toDF("vec_id", "embedding")
    val docs = Seq((1L, "the quick brown fox"), (2L, "and another doc of text"))
      .toDF("doc_id", "text")
    val textPlans = Seq(
      graft.llm.TextAnalysis.qualityStats(docs, "text", "doc_id"),
      graft.llm.TextAnalysis.langId(docs, "text", "doc_id"),
      graft.llm.TextAnalysis.rollingFingerprint(docs, "doc_id", "text"),
      graft.llm.Curation.curate(docs, "doc_id", "text", minWords = 1))
      .map(df => df.queryExecution.optimizedPlan.toString)
    textPlans.foreach { p =>
      assert(!p.contains("aggregate(") && !p.contains("lambdafunction"),
        s"interpreted HOF lambda found in plan:\n$p")
    }
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
    val annPlan = graft.llm.Ann.bruteTopK(emb, "vec_id", "embedding",
        emb.filter($"vec_id" < 3), "vec_id", "embedding", k = 3)
      .queryExecution.optimizedPlan
    def joinBelow(p: LogicalPlan): Boolean =
      p.children.exists(_.collectFirst { case j: Join => j }.isDefined)
    annPlan.foreach {
      case j: Join =>
        assert(!j.condition.exists(_.toString.contains("lambdafunction")),
          s"HOF lambda in a join condition (per-candidate eval):\n$j")
        assert(j.condition.forall(c => !c.toString.contains("aggregate(")),
          s"HOF aggregate in a join condition (per-candidate eval):\n$j")
      case n if joinBelow(n) =>
        assert(!n.expressions.exists(_.toString.contains("lambdafunction")),
          s"HOF lambda above a join (per-candidate eval):\n$n")
      case _ => ()
    }
  }

  test("curation shuffles no text: gates run below the only exchange") {
    import spark.implicits._
    withTable { dir =>
    (1 to 50).map(i => (i.toLong, s"the doc number $i of text and words"))
      .toDF("doc_id", "text").write.format("graft").save(dir)
    val docs = spark.read.format("graft").load(dir)
    // AQE's wrapper hides the exchange from collect(); the static plan is
    // what this test is about
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val plan =
      try graft.llm.Curation.curate(docs, "doc_id", "text", minWords = 1)
        .queryExecution.executedPlan
      finally spark.conf.unset("spark.sql.adaptive.enabled")
    // exactly one exchange, and no text column crosses it: by the shuffle
    // the rows are (md5-hash, partial-min id) pairs
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.length == 1, s"expected one exchange:\n$plan")
    val shuffled = exchanges.head.child.output.map(_.name.toLowerCase)
    assert(!shuffled.contains("text"),
      s"text must not cross the exchange, got $shuffled")
    // the gates (regexp filters) sit below the exchange, at scan level
    val belowExchange = exchanges.head.child.toString
    assert(belowExchange.contains("regexp_extract_all"),
      s"gates must run below the exchange:\n$belowExchange")
    }
  }

  test("duplicateSpans: no strings cross any exchange, no all-pairs join") {
    import spark.implicits._
    withTable { dir =>
      (1 to 60).map(i => (i.toLong,
        (0 until 40).map(j => s"w${(i * 7 + j) % 23}").mkString(" ")))
        .toDF("doc_id", "text").write.format("graft").save(dir)
      val docs = spark.read.format("graft").load(dir)
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val plan =
        try graft.llm.Dedup.duplicateSpans(docs, "doc_id", "text", k = 5)
          .queryExecution.executedPlan
        finally spark.conf.unset("spark.sql.adaptive.enabled")
      val exchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.nonEmpty)
      // strings die at the tokenizer: every exchange carries only
      // fixed-width columns (doc_id, pos, hashes, counters)
      exchanges.foreach { e =>
        val stringy = e.child.output.filter(
          _.dataType == org.apache.spark.sql.types.StringType)
        assert(stringy.isEmpty,
          s"string column(s) ${stringy.map(_.name)} cross an exchange:\n$e")
      }
      // never an all-pairs shape: span merging is an aggregate + window,
      // not a self-join on documents
      val nested = plan.collect {
        case j: org.apache.spark.sql.execution.joins
            .BroadcastNestedLoopJoinExec => j
        case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
      }
      assert(nested.isEmpty, s"all-pairs operator in the span plan:\n$plan")
    }
  }

  test("minhashSignatures plans no Exchange and no Generate; " +
      "verifyPairsExact joins on no shingle column") {
    import spark.implicits._
    import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
      ShuffledHashJoinExec, SortMergeJoinExec}
    // 40 rows: the local relation plans as many splits as the session has
    // cores, so Parallelism.fanOut's floor stays off, as it does on any
    // table with at least that many splits
    val docs = (1 to 40).map(i => (i.toLong,
      (0 until 30).map(j => s"w${(i * 7 + j) % 23}").mkString(" ")))
      .toDF("doc_id", "text")
    def planOf(df: org.apache.spark.sql.DataFrame): SparkPlan = {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try df.queryExecution.executedPlan
      finally spark.conf.unset("spark.sql.adaptive.enabled")
    }
    val sigPlan = planOf(graft.llm.Dedup.minhashSignatures(docs, "doc_id", "text"))
    assert(sigPlan.collect {
      case e: Exchange => e
      case g: GenerateExec => g
    }.isEmpty, s"signatures must be one narrow projection:\n$sigPlan")

    val cands = Seq((1L, 24L), (2L, 25L), (3L, 9L)).toDF("a_id", "b_id")
    val verifyPlan = planOf(graft.llm.Dedup.verifyPairsExact(docs, "doc_id",
      "text", cands, minJaccardPct = 10))
    val keys = verifyPlan.collect {
      case j: SortMergeJoinExec => j.leftKeys ++ j.rightKeys
      case j: ShuffledHashJoinExec => j.leftKeys ++ j.rightKeys
      case j: BroadcastHashJoinExec => j.leftKeys ++ j.rightKeys
    }.flatten
    assert(keys.nonEmpty, s"expected the pair joins:\n$verifyPlan")
    // document ids are longs; a shingle is a string, a doc's shingles an array
    keys.foreach { k =>
      assert(!k.dataType.isInstanceOf[org.apache.spark.sql.types.StringType] &&
        !k.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType],
        s"join key $k is a shingle column:\n$verifyPlan")
    }
  }

  test("chunking and split assignment plan ZERO exchanges; heavy hitters " +
      "shuffles only vocab-sized aggregates") {
    import spark.implicits._
    val docs = (1 to 40).map(i => (i.toLong, ("word " * (10 + i)).trim))
      .toDF("doc_id", "text")
    def exchanges(df: org.apache.spark.sql.DataFrame): Int = {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try df.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.length
      finally spark.conf.unset("spark.sql.adaptive.enabled")
    }
    // narrow per-row operators: a shuffle here would be a plan regression
    assert(exchanges(graft.llm.TextAnalysis
      .chunkDocuments(docs, "doc_id", "text")) == 0)
    assert(exchanges(graft.llm.Curation.assignSplit(docs, "doc_id")) == 0)
    // heavy hitters: text must never cross an exchange — only the
    // (doc_id, term) and (term) aggregate rows do, post partial-agg
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val plan =
      try graft.llm.TextAnalysis.heavyHitters(docs, "doc_id", "text")
        .queryExecution.executedPlan
      finally spark.conf.unset("spark.sql.adaptive.enabled")
    val exs = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exs.nonEmpty)
    exs.foreach { e =>
      val cols = e.child.output.map(_.name.toLowerCase)
      assert(!cols.contains("text"),
        s"text crossed an exchange in heavyHitters: $cols")
      // partial aggregation below every exchange: rows are pre-combined
      assert(e.child.exists {
        case _: org.apache.spark.sql.execution.aggregate.HashAggregateExec => true
        case _: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => true
        case _ => false
      }, s"no partial aggregate below exchange:\n${e.child}")
    }
  }

  test("pk scan plans exactly bucketNum partitions and declares ordering") {
    import spark.implicits._
    withTable { dir =>
      (1 to 500).map(i => (i.toLong, i)).toDF("id", "v").write.format("graft")
        .option("hashPartitions", "id").option("hashBucketNum", "8").save(dir)
      val df = spark.read.format("graft").load(dir)
      assert(df.rdd.getNumPartitions == 8)
      // sort-merge join on pk needs no SortExec below the join
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val joined = df.as("a").join(df.as("b"), "id")
        joined.collect()
        val sorts = collectWithSubqueries(joined.queryExecution.executedPlan) {
          case s: org.apache.spark.sql.execution.SortExec => s
        }
        assert(sorts.isEmpty,
          s"expected sort-free SMJ:\n${joined.queryExecution.executedPlan}")
      } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  /** Writes `1..500` as `(id, v = id)` into a PK table of 8 buckets. */
  private def writePk(dir: String): Unit = {
    import spark.implicits._
    (1 to 500).map(i => (i.toLong, i)).toDF("id", "v").write.format("graft")
      .option("hashPartitions", "id").option("hashBucketNum", "8").save(dir)
  }

  /** Bucket of each key as the write path places it: its
    * `repartition(bucketNum, pk)` sends a row to `pmod(hash(pk), n)`. */
  private def bucketOf(keys: Seq[Long], n: Int): Map[Long, Int] = {
    import spark.implicits._
    keys.toDF("id").select(col("id"), pmod(hash(col("id")), lit(n)))
      .as[(Long, Int)].collect().toMap
  }

  /** The smallest key of each of the first `m` buckets 1..500 reach. */
  private def keysInDistinctBuckets(m: Int): Seq[Long] =
    bucketOf(1L to 500L, 8).groupBy(_._2).toSeq.sortBy(_._1).take(m)
      .map(_._2.keys.min)

  private def pkPartitions(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.flatMap(_.inputPartitions).map(_.asInstanceOf[graft.sources.GraftPkInputPartition])

  /** The distributions `DeclareBucketDistribution` declares on the scans of
    * `df`, read under an aggregate on the key: the rule runs in adaptive
    * planning, which a plan with no distribution requirement skips. */
  private def declared(df: org.apache.spark.sql.DataFrame) =
    collect(df.groupBy("id").count().queryExecution.executedPlan) {
      case g: graft.rules.GraftClusteredExec => g.outputPartitioning
    }

  test("pk point and IN lookups plan only the buckets their keys hash to") {
    import spark.implicits._
    withTable { dir =>
      writePk(dir)
      val df = spark.read.format("graft").load(dir)
      val point = df.filter($"id" === 42L)
      assert(pkPartitions(point).map(_.bucket).toSeq == Seq(bucketOf(Seq(42L), 8)(42L)))
      assert(point.collect().map(_.getInt(1)).toSeq == Seq(42))
      assert(point.queryExecution.executedPlan.toString.contains("buckets=1/8"))
      assert(declared(point) == Seq(
        org.apache.spark.sql.catalyst.plans.physical.SinglePartition))
      val three = keysInDistinctBuckets(3)
      val in3 = df.filter($"id".isin(three: _*))
      assert(pkPartitions(in3).map(_.bucket).toSeq == three.map(bucketOf(three, 8)).sorted)
      assert(in3.collect().map(_.getLong(0)).sorted.toSeq == three)
      assert(declared(in3).isEmpty)
      // a pin covering every bucket is no pin: all 8 planned, hash declared
      val all = df.filter($"id".isin(keysInDistinctBuckets(8): _*))
      assert(pkPartitions(all).length == 8)
      assert(all.queryExecution.sparkPlan.toString.contains("buckets=8/8"))
      assert(declared(all).map(_.numPartitions) == Seq(8))
      assert(pkPartitions(df.filter($"v" === 42)).length == 8)
    }
  }

  test("pinned pk scans: pinned join pinned plans no exchange; pinned join " +
      "unpruned answers correctly") {
    import spark.implicits._
    withTable { dir =>
      writePk(dir)
      def load = spark.read.format("graft").load(dir)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val pinned = load.filter($"id" === 42L).select($"id", $"v".as("a"))
          .join(load.filter($"id" === 42L).select($"id", $"v".as("b")), "id")
        assert(pinned.collect().toSeq == Seq(Row(42L, 42, 42)))
        val plan = pinned.queryExecution.executedPlan
        assert(collect(plan) {
          case e: org.apache.spark.sql.execution.exchange.Exchange => e
        }.isEmpty, s"pinned ⋈ pinned must not shuffle:\n$plan")
        val three = keysInDistinctBuckets(3)
        Seq(load.filter($"id" === 42L), load.filter($"id".isin(three: _*)))
          .foreach { p =>
            val j = p.select($"id", $"v".as("a"))
              .join(load.select($"id", $"v".as("b")), "id")
            val keys = p.collect().map(_.getLong(0)).sorted.toSeq
            assert(j.collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
              .sorted.toSeq == keys.map(k => (k, k.toInt, k.toInt)))
          }
      } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("writes fed by a key-pinned scan keep every row in its bucket's file") {
    import spark.implicits._
    withTable { dir =>
      writePk(dir)
      val target = s"$dir-insert"
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.catalog.spark_catalog", "graft.catalog.GraftCatalog")
      s2.sql(s"CREATE TABLE pq_pinned_insert (id BIGINT, v INT) USING graft " +
        s"LOCATION '$target' " +
        "TBLPROPERTIES('hashPartitions'='id', 'hashBucketNum'='8')")
      try {
        def load = spark.read.format("graft").load(dir)
        val three = keysInDistinctBuckets(3)
        val table = graft.tables.GraftTable.forPath(spark, dir)
        table.upsert(load.filter($"id".isin(three: _*)).withColumn("v", $"v" + 1000))
        table.upsert(load.filter($"id" === 500L).withColumn("v", $"v" + 2000))
        s2.sql(s"INSERT INTO pq_pinned_insert SELECT id, v FROM graft.`$dir` " +
          s"WHERE id IN (${three.mkString(", ")})")
        // every row of a file hashes to the file's bucket, the placement of
        // the write path's repartition(bucketNum, pk)
        Seq(dir, target).foreach { path =>
          graft.tables.GraftTable.forPath(spark, path).snapshot.files.foreach { f =>
            val buckets = spark.read.parquet(f.resolvedPath(path))
              .select(pmod(hash($"id"), lit(8))).distinct().as[Int].collect()
            assert(buckets.forall(_ == f.bucket),
              s"${f.path} of bucket ${f.bucket} holds rows of buckets ${buckets.toSeq}")
          }
        }
        val expect = three.map(k => (k, k.toInt + 1000)) :+ (500L -> 2500)
        assert(load.filter($"id".isin(three :+ 500L: _*)).as[(Long, Int)]
          .collect().sorted.toSeq == expect.sorted)
        assert(spark.read.format("graft").load(target).as[(Long, Int)]
          .collect().sorted.toSeq == three.map(k => (k, k.toInt + 1000)))
      } finally {
        s2.sql("DROP TABLE IF EXISTS pq_pinned_insert")
        graft.write.TransactionalWrite.deleteRecursively(java.nio.file.Paths.get(target))
      }
    }
  }

  test("identical non-PK scans compare equal and the exchange is reused") {
    import spark.implicits._
    withTable { dir =>
      (1 to 200).map(i => (i.toLong, i % 7, i)).toDF("id", "g", "v")
        .write.format("graft").save(dir)
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val df = spark.read.format("graft").load(dir)
        // two IDENTICAL aggregate subplans (same projection, same shuffle)
        val a = df.groupBy("g").agg(sum("v").as("sv"))
        val b = df.groupBy("g").agg(sum("v").as("sv2"))
        val joined = a.join(b, "g")
        joined.collect()
        val plan = joined.queryExecution.executedPlan
        val scans = plan.collect {
          case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            s.scan
        }
        // reuse collapses the second side: one physical scan remains and
        // the join's other input is a ReusedExchange over the first
        assert(scans.distinct.size == 1,
          s"identical graft scans must compare equal:\n$plan")
        val reused = plan.collect {
          case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => r
        }
        assert(reused.nonEmpty, s"expected a ReusedExchange:\n$plan")
      } finally {
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
    }
  }

  test("async-I/O conf reaches the parquet reader's hadoop configuration " +
      "on both scan paths; reads stay correct either way") {
    import spark.implicits._
    withTable { dir =>
      Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.format("graft").save(dir)
      def builtScanConf(): Option[String] = {
        val q = spark.read.format("graft").load(dir)
        val scans = collectWithSubqueries(
          org.apache.spark.sql.classic.ClassicConversions.castToImpl(q)
            .queryExecution.executedPlan) {
          case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s.scan
        }
        scans.collectFirst {
          case g: graft.sources.GraftStreamableScan =>
            // delegate is private[sources]; reach it reflectively
            val f = g.getClass.getDeclaredField("delegate")
            f.setAccessible(true)
            f.get(g)
        }.flatMap {
          case p: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan =>
            Option(p.hadoopConf.get("parquet.hadoop.vectored.io.enabled"))
          case _ => None
        }
      }
      // unset: Parquet's own default governs (no explicit entry)
      assert(builtScanConf().isEmpty, "unset conf must not pin a value")
      spark.conf.set(graft.sources.GraftScanBuilder.ASYNC_IO_CONF, "false")
      try {
        assert(builtScanConf().contains("false"))
        assert(spark.read.format("graft").load(dir).count() == 2,
          "read must work with vectored I/O disabled")
      } finally spark.conf.unset(graft.sources.GraftScanBuilder.ASYNC_IO_CONF)
      spark.conf.set(graft.sources.GraftScanBuilder.ASYNC_IO_CONF, "true")
      try {
        assert(builtScanConf().contains("true"))
        assert(spark.read.format("graft").load(dir).count() == 2)
      } finally spark.conf.unset(graft.sources.GraftScanBuilder.ASYNC_IO_CONF)
    }
  }

  test("change feed collapses append runs: a long window plans O(runs) " +
      "scan subtrees, not O(versions)") {
    import spark.implicits._
    withTable { dir =>
      // 1 create + 29 appends (run 1), one rewrite update (its own diff),
      // 10 more appends (run 2) → 41 versions
      (0 until 2).map(i => (i.toLong, i)).toDF("id", "v")
        .repartition(1).write.format("graft").save(dir)
      (1 until 30).foreach { i =>
        Seq((100L + i, i)).toDF("id", "v").repartition(1)
          .write.format("graft").mode("append").save(dir)
      }
      graft.tables.GraftTable.forPath(spark, dir)
        .updateExpr("id = 0", Map("v" -> "999"))
      (0 until 10).foreach { i =>
        Seq((200L + i, i)).toDF("id", "v").repartition(1)
          .write.format("graft").mode("append").save(dir)
      }
      val latest = graft.meta.SnapshotManagement.store.latestVersion(
        graft.meta.SnapshotManagement.normalize(dir))
      assert(latest >= 40, s"expected 41 versions, got ${latest + 1}")
      val feed = graft.tables.ChangeFeed.changes(spark, dir, 0L)
      // every append version's rows present, each tagged with its OWN version
      val byType = feed.groupBy("_change_type").count()
        .as[(String, Long)].collect().toMap
      assert(byType("insert") == 41L, s"got $byType") // 2 create + 39 appends
      val versions = feed.filter(col("_change_type") === "insert")
        .select("_commit_version").distinct().count()
      assert(versions == 40L, s"each append tags its own version: $versions")
      // the plan reads the window through O(runs) scan relations: 2 run
      // scans + the update diff's pre/post reads — far below 41
      val leaves = org.apache.spark.sql.classic.ClassicConversions
        .castToImpl(feed).queryExecution.optimizedPlan.collectLeaves()
      val scans = leaves.count {
        case _: org.apache.spark.sql.execution.datasources.LogicalRelation => true
        case _: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => true
        case _: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation => true
        case _ => false
      }
      assert(scans <= 8,
        s"41-version window must plan O(runs) scans, found $scans:\n" +
        leaves.map(_.nodeName).mkString(", "))
      // ... and few tasks: the append versions' files share size-packed
      // partitions. The collapsed-run spelling read run 1's 30 files in 4
      // file-scan partitions; the whole window may plan no more than that
      val parts = org.apache.spark.sql.classic.ClassicConversions
        .castToImpl(feed).queryExecution.sparkPlan.collect {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            b.inputPartitions.size
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.inputRDD.getNumPartitions
        }.sum
      assert(parts <= 4, s"41-version window planned $parts input partitions")
    }
  }

  test("128-bit shingle keys shuffle fewer bytes than string shingles " +
      "for the SAME n-gram Jaccard pairs") {
    import spark.implicits._
    // realistic shingle text: 3-gram shingles of multi-word docs are
    // ~20-30 chars, the regime the 16-byte (h1,h2) key trade targets
    // vocabulary entropy matters to this assertion: shuffle blocks are
    // lz4-compressed, and a toy repeated-few-words corpus compresses its
    // string shingles below the (incompressible) 16-byte hash pair,
    // inverting the comparison. Natural corpora have 10k-100k+ word
    // vocabularies; model that, not the toy.
    val rnd = new scala.util.Random(1)
    val vocab = (0 until 20000).map(_ =>
      rnd.alphanumeric.take(4 + rnd.nextInt(9)).mkString)
    val bases = (0 until 300).map(_ =>
      (0 until 40).map(_ => vocab(rnd.nextInt(vocab.size))))
    val docs = bases.zipWithIndex.map { case (base, i) =>
      // every 10th doc near-duplicates its predecessor → guaranteed pairs
      val words =
        if (i % 10 == 0 && i > 0) bases(i - 1).updated(3, "edited") else base
      (i.toLong, words.mkString(" "))
    }.toDF("doc_id", "text")

    def shuffleBytes[T](action: => T): (T, Long) = {
      val bytes = new java.util.concurrent.atomic.AtomicLong(0L)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
          bytes.addAndGet(
            sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        val r = action
        Thread.sleep(1500) // listener bus drains asynchronously
        (r, bytes.get())
      } finally spark.sparkContext.removeSparkListener(listener)
    }

    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq

    val (hashed, hashedBytes) = shuffleBytes {
      canon(graft.llm.Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        k = 3, minInter = 3))
    }
    // the naive spelling: same inverted index, same hot-key guard, same
    // pair counting — but the self-join and aggregate keys stay STRINGS
    val (strung, strungBytes) = shuffleBytes {
      val sh = graft.llm.Dedup.shingleRows(docs, "doc_id", "text", 3)
      val hot = sh.groupBy("s").agg(count(lit(1)).as("freq"))
        .filter(col("freq") > 1000).select("s")
      val f = sh.join(hot, Seq("s"), "left_anti")
      val sizes = f.groupBy("doc_id").agg(count(lit(1)).as("sz"))
      val pairs = f.as("a").join(f.as("b"),
          col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
        .agg(count(lit(1)).as("inter"))
      canon(pairs
        .join(sizes.withColumnRenamed("doc_id", "a_id")
          .withColumnRenamed("sz", "a_size"), "a_id")
        .join(sizes.withColumnRenamed("doc_id", "b_id")
          .withColumnRenamed("sz", "b_size"), "b_id")
        .select("a_id", "b_id", "inter", "a_size", "b_size")
        .filter(col("inter") >= 3))
    }
    assert(hashed == strung, "hashed-key pairs must equal string-key pairs")
    assert(hashed.nonEmpty, "fixture must produce near-duplicate pairs")
    // the trade's claim: long keys strictly shrink the shuffled bytes at
    // the SAME row counts — this is the sf-independent form of the win
    // (per-row key width), asserted on bytes rather than wall-clock
    assert(hashedBytes < strungBytes,
      s"hashed-key shuffle ($hashedBytes B) must be smaller than " +
        s"string-key shuffle ($strungBytes B)")
  }

  /** Java-serialized size of `o`: what a task ships for each reader
    * factory or closure it carries. */
  private def serializedBytes(o: AnyRef): Int = {
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(o)
    oos.close()
    bos.size()
  }

  private def readerFactories(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.batch.createReaderFactory()
    }

  // every task carries its reader factory; a Hadoop conf serialized inside
  // one alone is about 34 KB. Measured: the change-feed factories are
  // about 4.8 KB (non-PK) and 5.6 KB (PK), the DV-masking factory 4.3 KB.
  private val FactoryBytesBound = 8 * 1024

  test("change-feed and DV-masking reader factories ship the Hadoop conf " +
      "by broadcast, not inline") {
    import spark.implicits._
    withTable { dir =>
      (0 until 200).map(i => (i.toLong, i)).toDF("id", "v")
        .write.format("graft").save(dir)
      graft.tables.GraftTable.forPath(spark, dir).delete(col("id") === 7L)
      val feed = readerFactories(graft.tables.ChangeFeed.changes(spark, dir, 0L))
      val masked = readerFactories(spark.read.format("graft").load(dir))
      assert(masked.exists(_.isInstanceOf[graft.sources.DvMaskedReaderFactory]),
        s"expected a DV-masked scan, got $masked")
      (feed ++ masked).foreach { f =>
        val n = serializedBytes(f)
        info(s"${f.getClass.getSimpleName}: $n bytes")
        assert(n < FactoryBytesBound, s"${f.getClass.getSimpleName}: $n bytes")
      }
    }
    withTable { dir =>
      (0 until 200).map(i => (i.toLong, i)).toDF("id", "v").write.format("graft")
        .option("hashPartitions", "id").option("hashBucketNum", "4").save(dir)
      val t = graft.tables.GraftTable.forPath(spark, dir)
      t.upsert(Seq((1L, -1)).toDF("id", "v"))
      t.delete(col("id") === 2L)
      val feed = readerFactories(graft.tables.ChangeFeed.changes(spark, dir, 0L))
      assert(feed.nonEmpty)
      feed.foreach { f =>
        val n = serializedBytes(f)
        info(s"${f.getClass.getSimpleName}: $n bytes")
        assert(n < FactoryBytesBound, s"${f.getClass.getSimpleName}: $n bytes")
      }
    }
  }

  test("applyChanges plans its per-key window, and its exchange, once") {
    import spark.implicits._
    withTable { dir =>
      (0 until 20).map(i => (i.toLong, s"v$i")).toDF("id", "v")
        .write.format("graft")
        .option("hashPartitions", "id").option("hashBucketNum", "2").save(dir)
      val plans = new java.util.concurrent.ConcurrentLinkedQueue[
        org.apache.spark.sql.execution.SparkPlan]()
      val listener = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(name: String,
            qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
          if (name == "graft write") plans.add(qe.executedPlan)
        override def onFailure(name: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            e: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      try {
        graft.tables.GraftTable.forPath(spark, dir).applyChanges(
          Seq((1L, "x", "upsert", 1L), (1L, "y", "upsert", 2L),
              (2L, null, "delete", 1L), (30L, "new", "upsert", 1L))
            .toDF("id", "v", "op", "seq"),
          "op", Seq("seq"))
        val deadline = System.currentTimeMillis() + 10000L
        while (plans.isEmpty && System.currentTimeMillis() < deadline)
          Thread.sleep(20)
      } finally spark.listenerManager.unregister(listener)
      assert(plans.size == 1, s"expected one write, saw ${plans.size}")
      val plan = plans.peek()
      val windows = collect(plan) {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      val windowExchanges = windows.flatMap(w => collect(w) {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      })
      assert(windows.size == 1 && windowExchanges.size == 1,
        s"expected one window over one exchange:\n$plan")
      assert(spark.read.format("graft").load(dir).as[(Long, String)]
        .collect().toMap == (0 until 20).map(i => (i.toLong, s"v$i")).toMap
        .updated(1L, "y").removed(2L).updated(30L, "new"))
    }
  }
}
