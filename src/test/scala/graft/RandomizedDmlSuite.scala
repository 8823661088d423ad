package graft

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.tables.GraftTable

/** Property-style DML sequence harness: random upsert / partial-column
  * upsert / SQL UPDATE / DELETE / MERGE / compaction / RESTORE sequences
  * on a primary-key table, cross-checked against an in-memory model after
  * EVERY commit. The hand-written suites pin each operator's contract;
  * this one hunts the INTERACTION bugs — a tombstone surviving compaction,
  * a restore resurrecting a deleted key, a partial-column upsert merging
  * against the wrong base — the way the round-8 change-feed regression
  * would have been caught before the oracle saw it.
  *
  * Determinism: one seeded RNG drives each sequence, so a failure replays
  * exactly from the printed seed.
  */
class RandomizedDmlSuite extends GraftFunSuite {
  import RandomDmlSequence.ModelRow

  private def readState(dir: String): Map[Long, ModelRow] =
    spark.read.format("graft").load(dir)
      .select("id", "v", "n").collect()
      .map(r => r.getLong(0) ->
        (r.getAs[String]("v"),
          if (r.isNullAt(2)) None else Some(r.getInt(2)))).toMap

  private def assertState(
      dir: String, model: mutable.Map[Long, ModelRow],
      seed: Int, opIdx: Int, op: String): Unit = {
    val actual = readState(dir)
    assert(actual == model.toMap,
      s"seed=$seed op#$opIdx ($op): table diverged from model\n" +
      s"  only in table: ${(actual.toSet -- model.toSet).take(5)}\n" +
      s"  only in model: ${(model.toSet -- actual.toSet).take(5)}")
  }

  private def runSequence(seed: Int, ops: Int): Unit = withTempTable { dir =>
    val g = new RandomDmlSequence(spark, dir, seed)
    import g.{clones, model}
    val t = g.table
    (0 until ops).foreach { i =>
      val op = g.step(i)
      assertState(dir, model, seed, i, op)
    }

    // Change-feed replay invariant: applying every change row of
    // changes(0) in commit order must reconstruct the final state — the
    // whole-feed integration check the per-operator ChangeFeedSuite can't
    // give (restore compensation diffs, tombstone bucket diffs, DV masks
    // and append runs all have to compose). 'upsert' rows carry the
    // delta file's own image (documented contract): in this harness only
    // partial-column upserts write n-less files, so a null n there means
    // "column absent — keep the merged value", never "set to null".
    val feed = t.changes(0)
      .select(col("id"), col("v"), col("n"),
        col(graft.tables.ChangeFeed.CHANGE_TYPE),
        col(graft.tables.ChangeFeed.COMMIT_VERSION))
      .collect()
    val replayed = mutable.Map.empty[Long, ModelRow]
    feed.groupBy(_.getLong(4)).toSeq.sortBy(_._1).foreach { case (_, rows) =>
      rows.foreach { r =>
        val id = r.getLong(0)
        val img = (r.getAs[String]("v"),
          if (r.isNullAt(2)) None else Some(r.getInt(2)))
        r.getString(3) match {
          case "insert" | "update_postimage" => replayed(id) = img
          case "upsert" =>
            replayed(id) = (img._1,
              img._2.orElse(replayed.get(id).flatMap(_._2)))
          case "delete" => replayed.remove(id)
          case "update_preimage" => ()
          case other => fail(s"seed=$seed: unexpected change type $other")
        }
      }
    }
    assert(replayed.toMap == model.toMap,
      s"seed=$seed: change-feed replay diverged from the model\n" +
      s"  only in replay: ${(replayed.toSet -- model.toSet).take(5)}\n" +
      s"  only in model: ${(model.toSet -- replayed.toSet).take(5)}")

    // clone isolation: every fork still holds exactly the state it pinned,
    // regardless of what the sequence did to the source afterwards
    clones.foreach { case (cdir, pinned) =>
      val got = readState(cdir)
      assert(got == pinned,
        s"seed=$seed: clone $cdir diverged from its pinned state\n" +
        s"  only in clone: ${(got.toSet -- pinned.toSet).take(5)}\n" +
        s"  only pinned:   ${(pinned.toSet -- got.toSet).take(5)}")
      graft.write.TransactionalWrite.deleteRecursively(
        java.nio.file.Paths.get(cdir))
      graft.meta.SnapshotManagement.invalidate(cdir)
    }
  }

  // 6 seeds x 30 ops = 180 randomized operations by default, each followed
  // by a full state cross-check (~7 s per sequence keeps CI fast). Deep
  // soak: GRAFT_RANDOM_DML_SEEDS=100 sbt "testOnly graft.RandomizedDmlSuite"
  // replays 100 independent sequences — a failure prints its seed, and
  // rerunning with any seed count >= that seed reproduces it exactly.
  private val numSeeds =
    sys.env.getOrElse("GRAFT_RANDOM_DML_SEEDS", "6").toInt
  (1 to numSeeds).foreach { seed =>
    test(s"random DML sequence, seed $seed (30 ops, checked per commit)") {
      runSequence(seed, 30)
    }
  }
}

/** The seeded PK DML generator behind [[RandomizedDmlSuite]]: creates an
  * (id, v, n) table hash-bucketed on id at `dir`, then each `step` applies
  * one random operation (upsert, partial-column upsert, UPDATE, both
  * DELETEs, MERGE with a DELETE clause, compaction, RESTORE, and, when
  * `layoutOps` is on, shallow clone and rebucket) and mirrors it in
  * `model`. One RNG per sequence, so a seed replays exactly. */
class RandomDmlSequence(
    spark: org.apache.spark.sql.SparkSession, dir: String, seed: Int,
    layoutOps: Boolean = true) {
  import RandomDmlSequence.ModelRow
  import spark.implicits._

  private val rnd = new scala.util.Random(seed)
  val model = mutable.Map.empty[Long, ModelRow]
  // model snapshots keyed by the log version they correspond to (RESTORE)
  private val history = mutable.Map.empty[Long, Map[Long, ModelRow]]
  // (cloneDir, model at clone time): each shallow clone must still hold
  // EXACTLY that state at sequence end — isolation from every subsequent
  // src op (upserts, deletes, merges, restores, rebuckets) in one check
  val clones = mutable.ArrayBuffer.empty[(String, Map[Long, ModelRow])]

  def latestVersion(): Long = graft.meta.SnapshotManagement.store
    .latestVersion(graft.meta.SnapshotManagement.normalize(dir))

  // nullable value columns: partial upserts legitimately null-fill
  private def frame(rows: Seq[(Long, String, Option[Int])]) =
    rows.toDF("id", "v", "n")
      .select(col("id"), expr("if(true, v, null)").as("v"),
        expr("if(true, n, null)").as("n"))

  private val init = (0L until 8L).map(i => (i, s"v$i", Some(i.toInt * 10)))
  frame(init).write.format("graft")
    .option("hashPartitions", "id").option("hashBucketNum", "2").save(dir)
  init.foreach { case (id, v, n) => model(id) = (v, n) }
  history(latestVersion()) = model.toMap

  val table: GraftTable = GraftTable.forPath(spark, dir)
  private def t = table
  private def randKey(): Long = rnd.nextInt(40).toLong

  /** Applies one random operation; returns its description. */
  def step(i: Int): String = {
    val op = rnd.nextInt(12) match {
      case 0 | 1 => // full-row upsert, random batch
        val rows = (0 until 1 + rnd.nextInt(5)).map(_ =>
          (randKey(), s"u$i-${rnd.nextInt(100)}", Some(rnd.nextInt(1000))))
          .distinctBy(_._1)
        t.upsert(frame(rows))
        rows.foreach { case (id, v, n) => model(id) = (v, n) }
        s"upsert(${rows.map(_._1).mkString(",")})"
      case 2 => // partial-column upsert: only (id, v); n merges from base
        val rows = (0 until 1 + rnd.nextInt(3)).map(_ =>
          (randKey(), s"p$i-${rnd.nextInt(100)}")).distinctBy(_._1)
        t.upsert(rows.toDF("id", "v")
          .select(col("id"), expr("if(true, v, null)").as("v")))
        rows.foreach { case (id, v) =>
          model(id) = (v, model.get(id).flatMap(_._2))
        }
        s"partial_upsert(${rows.map(_._1).mkString(",")})"
      case 3 => // SQL UPDATE over an id range
        val lo = rnd.nextInt(40); val hi = lo + rnd.nextInt(10)
        t.updateExpr(s"id >= $lo AND id <= $hi",
          Map("v" -> s"concat(v, '!')", "n" -> "n + 1"))
        model.keys.filter(k => k >= lo && k <= hi).foreach { k =>
          val (v, n) = model(k)
          // SQL semantics: concat(null, '!') is null; null + 1 is null
          model(k) = (if (v == null) null else v + "!", n.map(_ + 1))
        }
        s"update[$lo,$hi]"
      case 4 => // DELETE by id range (tombstone path on PK tables)
        val lo = rnd.nextInt(40); val hi = lo + rnd.nextInt(8)
        t.deleteExpr(s"id >= $lo AND id <= $hi")
        (lo.toLong to hi.toLong).foreach(model.remove)
        s"delete[$lo,$hi]"
      case 5 => // DELETE by value predicate (null-aware)
        val x = rnd.nextInt(1000)
        t.deleteExpr(s"n >= $x")
        model.filterInPlace { case (_, (_, n)) => !n.exists(_ >= x) }
        s"delete[n>=$x]"
      case 6 => // MERGE: delete negatives, update matches, insert the rest
        val rows = (0 until 1 + rnd.nextInt(5)).map(_ =>
          (randKey(), s"m$i-${rnd.nextInt(100)}",
            rnd.nextInt(200) - 40)).distinctBy(_._1)
        rows.toDF("id", "v", "n").createOrReplaceTempView("rdml_src")
        spark.sql(
          s"""MERGE INTO graft.`$dir` tg USING rdml_src s ON tg.id = s.id
             WHEN MATCHED AND s.n < 0 THEN DELETE
             WHEN MATCHED THEN UPDATE SET v = s.v, n = s.n
             WHEN NOT MATCHED AND s.n >= 0 THEN
               INSERT (id, v, n) VALUES (s.id, s.v, s.n)""")
        rows.foreach { case (id, v, n) =>
          if (model.contains(id)) {
            if (n < 0) model.remove(id) else model(id) = (v, Some(n))
          } else if (n >= 0) model(id) = (v, Some(n))
        }
        s"merge(${rows.map(_._1).mkString(",")})"
      case 7 => // compaction: resolves tombstones + delta stacks, no-op on state
        t.compaction(force = true)
        "compact"
      case 8 => // RESTORE to a random earlier version
        val versions = history.keys.toSeq.sorted
        val target = versions(rnd.nextInt(versions.size))
        t.restore(target)
        model.clear()
        model ++= history(target)
        // versions after the restore point are superseded; restores to
        // them remain legal but simplest is to prune so the next restore
        // targets a version the current timeline still agrees with
        history.filterInPlace { case (ver, _) => ver <= target }
        s"restore($target)"
      case 9 if layoutOps && clones.size < 3 => // shallow clone of the
        // current state (compaction first: clone-eligibility needs one
        // write generation per bucket); isolation asserted at sequence end
        t.compaction(force = true)
        val cdir = dir + s"-clone${clones.size}"
        t.cloneTo(cdir)
        clones += ((cdir, model.toMap))
        s"clone(${clones.size - 1})"
      case 10 if layoutOps => // rebucket: layout change is a no-op on
        // state; later ops (and restores ACROSS it, which must revert
        // TableInfo too) keep composing
        val n = 1 + rnd.nextInt(6)
        t.rebucket(n)
        s"rebucket($n)"
      case _ => // no-op read between writes (exercises snapshot caching)
        spark.read.format("graft").load(dir).count()
        "read"
    }
    history(latestVersion()) = model.toMap
    op
  }
}

object RandomDmlSequence {
  /** Model row: (v, n) — either may be null (partial upserts null-fill). */
  type ModelRow = (String, Option[Int])
}
