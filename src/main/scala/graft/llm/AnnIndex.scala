package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent IVF index for exact cosine top-k — the ANN twin of
  * [[MinhashIndex]]: build once, query many times, with the corpus's
  * clustering work materialized into graft tables instead of recomputed
  * per query batch.
  *
  * Layout under `indexPath`:
  *  - `centroids` — (cid, dim, cx): the coarse centroid set as unit
  *    vectors (tiny: nCentroids × dims rows);
  *  - `cellstats` — (cid, cosr, sinr, cnt): each cell's angular radius,
  *    carried as (cos r, sin r) so the probe bound never round-trips
  *    through acos/cos, and its live member count;
  *  - `cells` — (cid, nid, uvec): every corpus vector, UNIT-normalized in
  *    double, RANGE-PARTITIONED BY `cid` — the property the whole design
  *    exists for: a query's probed cells translate to a partition-pruned
  *    scan, so at 100 TB a query batch reads only the few cells whose
  *    angular bound can still matter, straight off the manifest.
  *
  * The tables are [[Ann.ivfLayout]], the same layout `Ann.ivfTopK` builds
  * in memory. Queries stay EXACT with one scan of the corpus:
  * [[Ann.probedCells]] gives each query a kth-best threshold from cell
  * METADATA alone (angular radius and member count per cell) and keeps
  * only the cells whose angular upper bound still reaches it — skipped
  * cells provably hold no top-k member. The probed-cell ids are collected
  * to literals (bounded by nCentroids — metadata-scale by construction) so
  * partition pruning happens at scan PLANNING, not as a runtime join.
  */
object AnnIndex extends org.apache.spark.internal.Logging {

  private def centroidsPath(p: String) = s"$p/centroids"
  private def statsPath(p: String) = s"$p/cellstats"
  private def cellsPath(p: String) = s"$p/cells"
  private def assignPath(p: String) = s"$p/assign"

  /** GENERATION pointer: when present, the four index tables live under
    * `indexPath/<gen>/` instead of `indexPath/` directly. The pointer file
    * is swapped with one atomic rename — that is what makes a deferred
    * [[rebuildIfDue]] an ATOMIC swap: the new generation is built fully
    * off to the side while syncs and queries keep using the old one, and
    * a reader sees either the complete old index or the complete new one,
    * never a half-overwritten table set (the in-place [[build]] rewrites
    * all four tables non-atomically, which is fine for first builds but
    * not for rebuilds under live traffic). Pre-generational indexes have
    * no pointer: their tables stay at the root ("gen 0" = root layout). */
  private val GEN_POINTER = "_graft_ann_gen"

  // Every pointer read/write normalizes the index path the same way the
  // sidecar and lock do (scheme stripped, trailing slash dropped): a raw
  // 'file:/x' or '/x/' spelling from SQL CALL args must resolve the SAME
  // generation as the sync/query pipeline's '/x', or a rebuild could
  // swap a pointer nobody else reads while resetting the shared sidecar.
  private def readGen(indexPath: String): Option[String] = {
    val p = java.nio.file.Paths.get(
      graft.meta.SnapshotManagement.normalize(indexPath), GEN_POINTER)
    if (!java.nio.file.Files.exists(p)) None
    else Some(new String(java.nio.file.Files.readAllBytes(p),
      java.nio.charset.StandardCharsets.UTF_8).trim).filter(_.nonEmpty)
  }

  private def writeGen(indexPath: String, gen: String): Unit = {
    val dir = java.nio.file.Paths.get(
      graft.meta.SnapshotManagement.normalize(indexPath))
    java.nio.file.Files.createDirectories(dir)
    val tmp = java.nio.file.Files.createTempFile(dir, s".$GEN_POINTER", ".tmp")
    java.nio.file.Files.write(tmp,
      gen.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(tmp, dir.resolve(GEN_POINTER),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** The directory the CURRENT generation's tables live under
    * (normalized — stable across path spellings). */
  private[graft] def tableRoot(indexPath: String): String = {
    val norm = graft.meta.SnapshotManagement.normalize(indexPath)
    readGen(norm).fold(norm)(g => s"$norm/$g")
  }

  /** Build (or rebuild) the index tables from `corpus`: [[Ann.ivfLayout]]
    * (centroids refine per `spark.graft.ann.ivf.kmeansIters`, default 1),
    * with the cells written range-partitioned by cell. */
  def build(
      spark: SparkSession, indexPath: String,
      corpus: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int = 16, hashBucketNum: Int = 4): Unit =
    buildAt(spark, tableRoot(indexPath), corpus, idCol, vecCol, nCentroids,
      hashBucketNum)

  /** [[build]]'s body, targeting an explicit table root — [[rebuildIfDue]]
    * points it at a STAGING generation directory. */
  private def buildAt(
      spark: SparkSession, indexPath: String,
      corpus: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int, hashBucketNum: Int): Unit = {
    val layout = Ann.ivfLayout(corpus, idCol, vecCol, nCentroids)
    layout.cents.write.format("graft").mode("overwrite")
      .save(centroidsPath(indexPath))
    // cnt = live members per cell: with the radius it gives topK a
    // metadata-only kth-best lower bound (no cell scanned to get a
    // threshold). Probing correctness needs cnt <= true count, never the
    // reverse — build writes it exact, sync only ever DECREMENTS it.
    layout.stats.write.format("graft").mode("overwrite")
      .save(statsPath(indexPath))
    // cells: RANGE-partitioned by cid (partition-pruned probes) AND
    // PK-bucketed by nid (per-vector upsert/tombstone for syncFromTable).
    // hashBucketNum is a caller choice: the creation-time guess goes stale
    // at corpus growth, and REBUCKET can fix it online — but large builds
    // should size it up front
    layout.cells.write.format("graft").mode("overwrite")
      .option("rangePartitions", "cid")
      .option("hashPartitions", "nid")
      .option("hashBucketNum", hashBucketNum.toString)
      .save(cellsPath(indexPath))
    // assign: (nid -> cid), PK nid — the sync path's O(1)-per-id lookup of
    // which SINGLE cell holds a touched vector's old row, so re-assignment
    // tombstones exactly one (cid, nid) instead of fanning out to every
    // cell. Tiny next to cells (two longs/row vs a full unit vector).
    layout.assign.select(col("nid"), col("cid")).write.format("graft")
      .mode("overwrite")
      .option("hashPartitions", "nid")
      .option("hashBucketNum", hashBucketNum.toString)
      .save(assignPath(indexPath))
  }

  /** Keep the index in lockstep with a graft CORPUS table via its change
    * feed — the ANN twin of [[MinhashIndex.syncFromTable]]. Touched
    * vectors re-assign to their nearest EXISTING centroid; the `assign`
    * table pins down the SINGLE cell holding each touched id's previous
    * row, so re-assignment tombstones exactly one (cid, nid) per moved or
    * deleted id — tombstone rows per sync are bounded by |touched|, never
    * |touched|×|cells|. Cell stats stay EXACT across syncs: a conservative
    * grow-only fold lands first (crash-safe — the bound must be valid
    * before fresh members become visible), then, once the cells table
    * holds the post-sync truth, the touched cells are re-statted exactly
    * via one partition-pruned scan of just those cells ([[restatCells]]) —
    * so stats never decay toward probe-everything between full builds.
    * Centroids stay fixed between builds. First call (no sidecar) builds
    * from the full table. Returns the corpus version the index now
    * reflects. */
  def syncFromTable(
      spark: SparkSession, indexPath: String,
      corpusPath: String, idCol: String, vecCol: String,
      nCentroids: Int = 16, hashBucketNum: Int = 4): Long = {
    import graft.meta.SnapshotManagement
    val normCorpus = SnapshotManagement.normalize(corpusPath)
    val normIdx = SnapshotManagement.normalize(indexPath)
    // pinned ONCE: every table this sync touches belongs to this
    // generation, even if a concurrent rebuild flips the pointer mid-sync
    val root = tableRoot(indexPath)
    val current = SnapshotManagement.snapshot(normCorpus).version
    // one sidecar read: synced version + cumulative ids touched since the
    // last FULL build (a build resets the counter) + the rebuild-due mark
    val (last, prevChurn, prevDue) = SyncSidecar.readValidatedFull(
      normIdx, SYNC_FILE, normCorpus, current)
    val corpusNow = spark.read.format("graft").load(corpusPath)
    var churnOut = prevChurn
    var dueOut = prevDue
    if (last < 0 || !SnapshotManagement.exists(assignPath(root))) {
      churnOut = 0L
      dueOut = false
      // no sidecar (first sync) OR a pre-assign-table index layout: both
      // mean incremental bookkeeping can't be trusted — rebuild in full
      build(spark, indexPath, corpusNow, idCol, vecCol, nCentroids,
        hashBucketNum)
    } else if (current > last) {
      val touched = graft.tables.ChangeFeed
        .changes(spark, normCorpus, last + 1, current)
        .select(col(s"`$idCol`")).distinct()
        .transform(Checkpoints.stabilize)
      if (!touched.isEmpty) {
        // CHURN-TRIGGERED REBUILD, DEFERRED: incremental syncs keep the
        // index EXACT but never move centroids, so sustained churn slowly
        // unbalances the cells and the angular bound prunes less (a pure
        // efficiency decay — the remaining silent-degradation mode after
        // the r12 re-stat fix). Track cumulative touched ids since the
        // last full build in the sidecar; once they reach
        // `rebuildChurnFraction` of the live corpus (Σcnt from the tiny
        // stats table — never a corpus scan), mark "rebuild due" and KEEP
        // SYNCING INCREMENTALLY — the sync path's latency stays O(touched)
        // no matter how long the rebuild is deferred, because the decay is
        // efficiency-only. [[rebuildIfDue]] (operator CALL, or
        // [[maintainStream]] with autoRebuild=true) pays the build off the
        // sync path and atomically swaps generations. 0 disables.
        val churnFrac = spark.conf
          .getOption("spark.graft.ann.index.rebuildChurnFraction")
          .map(_.toDouble).getOrElse(0.5)
        // disabled (0) skips ALL bookkeeping — no touched.count() job, no
        // stats scan — the hot sync path pays nothing for an off feature
        if (churnFrac > 0 && !dueOut) {
          val newChurn = churnOut + touched.count()
          val sumRow = spark.read.format("graft").load(statsPath(root))
            .agg(sum(col("cnt"))).collect().head
          // sum over zero rows is NULL (index built from an empty corpus)
          val liveSize = math.max(1L,
            if (sumRow.isNullAt(0)) 0L else sumRow.getLong(0))
          if (newChurn >= churnFrac * liveSize) dueOut = true
          churnOut = newChurn
        }
        // already-due syncs skip ALL churn bookkeeping: the flag is
        // sticky, rebuildIfDue resets the counter unconditionally on
        // swap, and nothing in between reads it — counting touched ids
        // would be a pure extra job on the hot O(touched) path
        val cents = spark.read.format("graft")
          .load(centroidsPath(root)).transform(Checkpoints.stabilize)
        val live = corpusNow.join(broadcast(touched), Seq(idCol), "left_semi")
        val cu = Ann.unitRows(live, idCol, vecCol, "nid", "nx")
          .transform(Checkpoints.stabilize)
        val (assignNew, newRows) = Ann.assignAndFold(cents, cu)
        // the assign table names each touched id's ONE previous cell: a
        // bucketed semi-join on the (tiny, PK-nid) assign table, never a
        // cells-table scan. Tombstone exactly that (cid, nid) when the id
        // moved cells, was deleted, or went zero-norm; an id that stays in
        // its cell needs no marker (the fresh upsert row supersedes it),
        // and a brand-new insert has no old cell at all. Rows written per
        // sync: |new assignments| + |moved ∪ deleted| ≤ 2·|touched|.
        val touchedN = touched.select(col(s"`$idCol`").as("nid"))
        val oldAssign = spark.read.format("graft").load(assignPath(root))
          .join(broadcast(touchedN), Seq("nid"), "left_semi")
          .select(col("nid"), col("cid").as("oldCid"))
          .transform(Checkpoints.stabilize)
        val moved = oldAssign
          .join(assignNew.select(col("nid"), col("cid").as("newCid")),
            Seq("nid"), "left_outer")
          .filter(col("newCid").isNull || col("newCid") =!= col("oldCid"))
        val tomb = moved.select(col("oldCid").as("cid"), col("nid"),
          lit(true).as(graft.meta.Tombstones.COL))
        val delta = newRows.unionByName(tomb, allowMissingColumns = true)
        // assign-table delta: fresh assignments upsert; ids with an old
        // assignment and no new one (deleted / zero-norm) tombstone out
        val assignDelta = assignNew.select(col("nid"), col("cid"))
          .unionByName(
            oldAssign.join(assignNew.select("nid"), Seq("nid"), "left_anti")
              .select(col("nid"), col("oldCid").as("cid"),
                lit(true).as(graft.meta.Tombstones.COL)),
            allowMissingColumns = true)
        // RADII FIRST, cells second: a crash (or concurrent topK) between
        // the two writes must land on the conservative side. An over-grown
        // radius with the old cells only costs extra probes; the reverse
        // order would expose a window where a fresh far-from-centroid
        // member is visible while the bound still claims the old, tighter
        // radius — and the probe would skip its cell, breaking exactness.
        // Grow-only fold of the new members' csims into the stored stats
        // (tiny table — full overwrite is the honest cost).
        val stored = spark.read.format("graft").load(statsPath(root))
        val grown = Ann.cellStats(assignNew)
          .select(col("cid"), col("cosr").as("newCosr"))
        // cnt fold mirrors the radii's conservatism, in the direction that
        // keeps the METADATA THRESHOLD valid: cnt must never exceed the
        // cell's true live membership, so sync only DECREMENTS (members
        // leaving their old cell), never counts arrivals — an undercount
        // merely weakens the kth-best bound (more probing), an overcount
        // would let topK skip a cell holding a true neighbor. Replays of a
        // crashed window double-decrement at worst: still conservative.
        // The next full build restores exact counts, like the radii.
        val losses = moved.groupBy(col("oldCid").as("cid"))
          .agg(count(lit(1)).as("loss"))
        // FULL outer: a cell empty at build time (no stored radius) that
        // receives its first member now must enter the stats — an inner or
        // left fold would hide it from the probe's stats and silently
        // break exactness
        val folded = Ann.withSinr(stored.join(grown, Seq("cid"), "full_outer")
          .join(losses, Seq("cid"), "left_outer")
          .select(col("cid"),
            least(coalesce(col("cosr"), col("newCosr")),
              coalesce(col("newCosr"), col("cosr"))).as("cosr"),
            greatest(lit(0L),
              coalesce(col("cnt"), lit(0L)) - coalesce(col("loss"), lit(0L)))
              .as("cnt")))
          .transform(Checkpoints.stabilize)
        folded.write.format("graft").mode("overwrite")
          .save(statsPath(root))
        val normCells = SnapshotManagement.normalize(cellsPath(root))
        SnapshotManagement.withRewriteTransaction(normCells) { txn =>
          graft.commands.UpsertCommand.runDeltaIn(
            spark, normCells, delta, Map.empty, txn)
        }
        // assign LAST (after cells, before the sidecar): a crash anywhere
        // in between replays the same feed window next sync, and every
        // step is idempotent — re-tombstoning an already-dead (cid, nid)
        // and re-upserting the same rows are both no-ops under the merge
        // reader, whether the replay sees the stale or the fresh assign
        // state
        val normAssign = SnapshotManagement.normalize(assignPath(root))
        SnapshotManagement.withRewriteTransaction(normAssign) { txn =>
          graft.commands.UpsertCommand.runDeltaIn(
            spark, normAssign, assignDelta, Map.empty, txn)
        }
        // threshold-gated compaction (the trigger plain upserts get): sync
        // deltas + death warrants otherwise accumulate in every cell range
        // partition between full builds and every topK merge-read pays the
        // fan-in. Safe under the crash-replay contract — compaction is a
        // semantics-preserving rewrite, and a replayed warrant for a row
        // the compaction already resolved away is a no-op merge-side.
        graft.commands.CompactionCommand.run(spark, normCells, force = false)
        graft.commands.CompactionCommand.run(spark, normAssign, force = false)
        // EXACT RE-STAT of the touched cells, now that the cells table holds
        // the post-sync truth. The grow-only fold above exists only for the
        // crash window (stats must be conservative BEFORE fresh members
        // become visible); left alone it decays — radii grow-only, cnt
        // decrement-only — until the metadata threshold t0 degrades to
        // probe-every-cell. One partition-pruned scan of exactly the cells
        // that gained or lost members (cost ∝ touched cells, the same order
        // as the sync itself) restores build-exact (cosr, cnt) for them; a
        // crash before this write just leaves the valid conservative stats
        // for the replay to tighten.
        restatCells(spark, root, cents,
          assignNew.select("cid").unionByName(moved.select(col("oldCid")
            .as("cid"))).distinct().collect().map(_.get(0)).toSeq)
      }
    }
    if (current != last) {
      // generation re-check: if a concurrent rebuild flipped the pointer
      // while this sync ran, its sidecar (version = rebuild's corpus pin,
      // churn 0) must WIN — this sync wrote into the superseded
      // generation. Overwriting it here would claim versions the new
      // generation never saw (topK would silently miss them), so the
      // CHECK AND WRITE are atomic against rebuildIfDue's swap+write
      // under the per-index lock (JVM monitor + OS file lock, so a
      // rebuild issued from ANOTHER driver process serializes too). The
      // skipped window replays next sync; every sync step is idempotent
      // under replay by design.
      withIndexLock(normIdx) {
        if (tableRoot(indexPath) == root)
          SyncSidecar.write(normIdx, SYNC_FILE, normCorpus, current,
            churnOut, rebuildDue = dueOut)
      }
    }
    current
  }

  // Serializes the sidecar-write-vs-generation-swap decision: a JVM
  // monitor (threads in this process — maintainStream sync vs autoRebuild
  // daemon) NESTING an OS file lock at the index root (other processes —
  // CALL ann_rebuild_if_due can legitimately run from a different
  // driver). Both guarded sections are a couple of tiny file writes, so
  // the file lock is held for microseconds; the monitor prevents
  // same-JVM OverlappingFileLockException.
  private val indexLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def withIndexLock[T](normIdx: String)(body: => T): T =
    indexLocks.computeIfAbsent(normIdx, _ => new Object).synchronized {
      val dir = java.nio.file.Paths.get(normIdx)
      java.nio.file.Files.createDirectories(dir)
      val ch = java.nio.channels.FileChannel.open(
        dir.resolve(s"$GEN_POINTER.lock"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        val l = ch.lock()
        try body finally l.release()
      } finally ch.close()
    }

  /** Is a deferred churn-triggered rebuild pending for this index? (One
    * sidecar read; false for a never-synced or pre-flag index.) */
  def rebuildDue(indexPath: String): Boolean =
    SyncSidecar.readRebuildDue(
      graft.meta.SnapshotManagement.normalize(indexPath), SYNC_FILE)

  // one rebuild in flight per index per JVM — a second concurrent call
  // returns false instead of double-building
  private val rebuildActive =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Run the deferred churn-triggered rebuild if one is due (or `force`):
    * builds a FRESH GENERATION of the four index tables off to the side —
    * syncs and topK keep using the current generation, completely
    * unblocked — then atomically swaps the generation pointer and resets
    * the sync sidecar to the corpus version the rebuild pinned. A sync
    * that raced the swap replays its window against the new generation
    * (idempotent); generations older than the one just replaced are
    * deleted, and stranded staging dirs from a CRASHED builder (ahead of
    * the pointer, referenced by nothing) are swept before building.
    * Returns true iff a rebuild ran to completion; false when no rebuild
    * is due or ANOTHER builder — this JVM or any other process — already
    * holds the build. */
  def rebuildIfDue(
      spark: SparkSession, indexPath: String, corpusPath: String,
      idCol: String, vecCol: String,
      nCentroids: Int = 16, hashBucketNum: Int = 4,
      force: Boolean = false): Boolean = {
    import graft.meta.SnapshotManagement
    val normIdx = SnapshotManagement.normalize(indexPath)
    val normCorpus = SnapshotManagement.normalize(corpusPath)
    if (!force && !rebuildDue(indexPath)) return false
    if (!rebuildActive.add(normIdx)) return false
    try {
      // CROSS-PROCESS single-flight: an OS file lock held for the WHOLE
      // build + swap, not just the pointer write. CALL ann_rebuild_if_due
      // may legitimately run from another driver; without this, two
      // builders would read the same old pointer, buildAt into the SAME
      // staging dir with interleaved overwrites, and the loser would keep
      // rewriting the winner's now-live generation after the swap —
      // silently breaking topK exactness. tryLock, not lock: the second
      // builder reports "not rebuilt" instead of queueing a redundant
      // full build (same contract as the JVM-local rebuildActive guard;
      // OverlappingFileLockException covers a same-JVM holder outside
      // that guard, e.g. a test pinning the lock).
      val dir = java.nio.file.Paths.get(normIdx)
      java.nio.file.Files.createDirectories(dir)
      val ch = java.nio.channels.FileChannel.open(
        dir.resolve(s"$GEN_POINTER.buildlock"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      val bl =
        try ch.tryLock()
        catch {
          case _: java.nio.channels.OverlappingFileLockException => null
        }
      if (bl == null) { ch.close(); return false }
      try {
        val current = SnapshotManagement.snapshot(normCorpus).version
        val oldGen = readGen(indexPath)
        val curNum = oldGen.map(_.stripPrefix("gen-").toLong).getOrElse(0L)
        // sweep CRASHED staging dirs before building: a generation numbered
        // ahead of the pointer is a build that died before its swap — no
        // reader references it, and with the build lock held no writer can
        // be mid-build in it. Left alone it would strand disk space until
        // rebuilds happen to reuse its exact number.
        listGenDirs(dir).foreach { case (n, p) =>
          if (n > curNum) graft.write.TransactionalWrite.deleteRecursively(p)
        }
        val nextGen = s"gen-${curNum + 1L}"
        buildAt(spark, s"$normIdx/$nextGen",
          spark.read.format("graft").load(corpusPath), idCol, vecCol,
          nCentroids, hashBucketNum)
        // THE swap: one atomic rename; then the sidecar records the rebuild's
        // corpus pin with churn reset. Between the two writes a crash leaves
        // the new generation live with the OLD sidecar — the next sync
        // replays [last+1, current] into the new generation, idempotently.
        // Swap + sidecar share the per-index lock with the sync path's
        // check-and-write: without it a sync that applied a NEWER corpus
        // version into the old generation could land its sidecar after this
        // one, claiming versions the new generation never saw.
        withIndexLock(normIdx) {
          // defense-in-depth: the pointer cannot move while the build lock
          // is held (every writer path takes it), so a moved pointer means
          // out-of-band surgery — abandon the staging build loudly rather
          // than swap over state this build never saw
          require(readGen(indexPath) == oldGen,
            s"generation pointer of $normIdx moved during a locked rebuild " +
            s"(was $oldGen) — not swapping; the staging dir $nextGen is " +
            "left for the next rebuild to sweep")
          writeGen(indexPath, nextGen)
          SyncSidecar.write(normIdx, SYNC_FILE, normCorpus, current, 0L,
            rebuildDue = false)
        }
        // keep the generation just replaced (in-flight readers may hold its
        // file lists); drop anything older. Root-layout tables from
        // pre-generational indexes are left in place.
        val keep = Set(nextGen) ++ oldGen
        listGenDirs(dir).foreach { case (_, p) =>
          if (!keep.contains(p.getFileName.toString))
            graft.write.TransactionalWrite.deleteRecursively(p)
        }
        true
      } finally { bl.release(); ch.close() }
    } finally rebuildActive.remove(normIdx)
  }

  /** (number, path) of every `gen-N` directory under `dir`. */
  private def listGenDirs(
      dir: java.nio.file.Path): Seq[(Long, java.nio.file.Path)] = {
    if (!java.nio.file.Files.isDirectory(dir)) return Nil
    val out = Seq.newBuilder[(Long, java.nio.file.Path)]
    val ls = java.nio.file.Files.list(dir)
    try ls.iterator().forEachRemaining { p =>
      val n = p.getFileName.toString
      if (n.startsWith("gen-") && java.nio.file.Files.isDirectory(p)) {
        try out += ((n.stripPrefix("gen-").toLong, p))
        catch { case _: NumberFormatException => () }
      }
    } finally ls.close()
    out.result()
  }

  private val SYNC_FILE = "_graft_ann_sync.json"

  /** Continuous maintenance: tail the corpus table's change feed and run
    * [[syncFromTable]] once per microbatch — see [[graft.streaming.ContinuousSync]] for
    * the liveness-only contract (CDF rows are discarded; each sync
    * re-reads its exact sidecar window under its own pins). Stop the
    * returned query to stop maintenance. */
  def maintainStream(
      spark: SparkSession, indexPath: String, corpusPath: String,
      idCol: String, vecCol: String, checkpointDir: String,
      nCentroids: Int = 16, hashBucketNum: Int = 4,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.ProcessingTime("10 seconds"),
      autoRebuild: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery =
    graft.streaming.ContinuousSync.tail(spark, corpusPath, indexPath, checkpointDir, trigger,
      "ann") {
      syncFromTable(spark, indexPath, corpusPath, idCol, vecCol, nCentroids,
        hashBucketNum)
      // autoRebuild: pay the deferred churn rebuild on a DAEMON thread so
      // the microbatch loop keeps syncing at O(touched) latency while the
      // build runs; rebuildIfDue's single-flight guard makes repeated
      // microbatch kicks no-ops until the running build finishes and swaps
      if (autoRebuild && rebuildDue(indexPath)) {
        val t = new Thread(() => {
          try rebuildIfDue(spark, indexPath, corpusPath, idCol, vecCol,
            nCentroids, hashBucketNum)
          catch { case e: Throwable => logWarning(
            s"[graft-ann] background rebuild of $indexPath failed: " +
            e.getMessage) }
        }, s"graft-ann-rebuild-$indexPath")
        t.setDaemon(true)
        t.start()
      }
      ()
    }

  /** Recompute (cosr, sinr, cnt) EXACTLY for `touchedCids` from the live
    * cells table and overwrite just those stats rows. `touchedCids` is
    * bounded by nCentroids (metadata-scale), so the isin literal prunes the
    * cells scan to the touched range partitions at planning. A touched cell
    * with zero live members keeps a stats row with cnt=0 and radius 0
    * (cosr=1): it claims nothing for the threshold, its probe bound
    * collapses to cos(a), and probing it reads no rows — whereas dropping
    * the row would make topK's conservative missing-stats default (ub=1)
    * probe it on every query forever. */
  private def restatCells(
      spark: SparkSession, indexPath: String, cents: DataFrame,
      touchedCids: Seq[Any]): Unit = {
    if (touchedCids.isEmpty) return
    val live = Ann.cellStats(spark.read.format("graft").load(cellsPath(indexPath))
      .filter(col("cid").isin(touchedCids: _*))
      .select(col("cid"), col("nid"), posexplode(col("uvec"))
        .as(Seq("dim", "nx")))
      .join(broadcast(cents), Seq("cid", "dim"))
      .groupBy("cid", "nid").agg(sum(col("nx") * col("cx")).as("csim")))
    val touchedDf = spark.createDataFrame(
      java.util.Arrays.asList(touchedCids.map(c =>
        org.apache.spark.sql.Row(c)): _*),
      org.apache.spark.sql.types.StructType(Seq(org.apache.spark.sql.types
        .StructField("cid", live.schema("cid").dataType))))
    val exact = touchedDf.join(live, Seq("cid"), "left_outer")
      .select(col("cid"), coalesce(col("cosr"), lit(1.0d)).as("cosr"),
        coalesce(col("sinr"), lit(0.0d)).as("sinr"),
        coalesce(col("cnt"), lit(0L)).as("cnt"))
    val untouched = spark.read.format("graft").load(statsPath(indexPath))
      .filter(!col("cid").isin(touchedCids: _*))
    untouched.unionByName(exact).transform(Checkpoints.stabilize)
      .write.format("graft").mode("overwrite").save(statsPath(indexPath))
  }

  // Centroids and stats are metadata-scale BY CONSTRUCTION (nCentroids
  // rows each), yet as graft tables each read pays snapshot + scan
  // planning. Compiled ONCE per (index, versions): keyed by the INDEX path
  // (one entry per index, so rebuild swaps replace their index's entry
  // instead of accumulating one per superseded generation); the value
  // carries the generation root it was read from, so a swap invalidates
  // even if the new generation's table versions coincide with the old.
  private val boundsCache = new java.util.concurrent.ConcurrentHashMap[
    String, (String, Long, Long, Ann.CellBounds)]()

  private def cellBounds(
      spark: SparkSession, normIdx: String, root: String): Ann.CellBounds = {
    import graft.meta.SnapshotManagement
    val cv = SnapshotManagement
      .snapshot(SnapshotManagement.normalize(centroidsPath(root))).version
    val rv = SnapshotManagement
      .snapshot(SnapshotManagement.normalize(statsPath(root))).version
    boundsCache.get(normIdx) match {
      case (croot, ccv, crv, b) if croot == root && ccv == cv && crv == rv => b
      case _ =>
        val b = Ann.cellBounds(
          spark.read.format("graft").load(centroidsPath(root)),
          spark.read.format("graft").load(statsPath(root)))
        boundsCache.put(normIdx, (root, cv, rv, b))
        b
    }
  }

  /** Exact cosine top-k of `queries` against the indexed corpus. Output
    * (qid, rank, nid) — identical to [[Ann.bruteTopK]] over the corpus the
    * index was built from (zero-norm corpus vectors were dropped at build;
    * null and zero-norm queries return no rows, as everywhere in the ANN
    * family). Query ids must be unique per call: a qid given twice fails
    * the query with an error naming it.
    *
    * [[Ann.probeTopK]] plans it from the cached [[Ann.CellBound]]s over the
    * `cells` table: the probed cids become `isin` literals that
    * partition-prune the cells scan at PLANNING. */
  def topK(
      spark: SparkSession, indexPath: String,
      queries: DataFrame, queryIdCol: String, queryVecCol: String,
      k: Int = 10): DataFrame = {
    // pinned once per call: a rebuild flipping the pointer mid-query still
    // leaves this call on one coherent generation (kept on disk through
    // the next rebuild)
    val root = tableRoot(indexPath)
    Ann.probeTopK(
      cellBounds(spark, graft.meta.SnapshotManagement.normalize(indexPath), root),
      spark.read.format("graft").load(cellsPath(root)),
      queries, queryIdCol, queryVecCol, k)
  }
}
