package graft.commands

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.meta._
import graft.schema.SchemaUtils
import graft.write.TransactionalWrite

/** DML commands over Graft tables. All follow the same transactional shape
  * as the reference (`commands/UpsertCommand.scala`, `UpdateCommand.scala`,
  * `DeleteCommand.scala`, `CompactionCommand.scala`, `CleanupCommand.scala`,
  * `DropTableCommand.scala`): open a transaction, compute the touched file
  * set from metadata, rewrite data distributed, commit (adds, removes).
  */
object UpsertCommand {

  /** Delta-mode upsert (reference `UpsertCommand.scala:107-111`): append the
    * source as PK-sorted delta files per bucket; reads merge-on-read. The
    * source may carry a column subset (must include the PKs); missing
    * columns keep their previous values via `fileExistCols`.
    *
    * Merge mode (`mode=merge` option or
    * `spark.graft.upsert.deltaFile.enabled=false`; reference
    * `UpsertCommand.scala:112-153`): full-outer join target x source on the
    * PK with source-wins `coalesce` per column, rewritten as base files —
    * write-heavy, read-fast.
    */
  def run(
      spark: SparkSession,
      tablePath: String,
      source: DataFrame,
      extraOptions: Map[String, String] = Map.empty): Unit = {
    val deltaEnabled = spark.conf
      .getOption("spark.graft.upsert.deltaFile.enabled").forall(_.toBoolean)
    if (extraOptions.get("mode").contains("merge") || !deltaEnabled) {
      return runMergeMode(spark, tablePath, source, extraOptions.get("condition"))
    }
    val path = SnapshotManagement.normalize(tablePath)
    SnapshotManagement.withNewTransaction(path) { txn =>
      runDeltaIn(spark, path, source, extraOptions, txn)
    }
    // Compaction trigger (reference `CompactionCommand.scala:50-68`): when a
    // partition's delta-file count reaches the threshold, compact it so the
    // merge fan-in stays bounded (the reference's part-merge anti-OOM goal).
    if (spark.conf.getOption("spark.graft.compaction.auto").exists(_.toBoolean)) {
      CompactionCommand.run(spark, path, force = false)
    }
  }

  /** Delta-mode upsert inside an already-open transaction. MERGE INTO uses
    * this with `rewriteGuard` (and `strictWindow` when a NOT MATCHED BY
    * SOURCE clause read the whole table): its emitted images were computed
    * from the transaction's PINNED snapshot, so a concurrent commit
    * touching the same partitions must conflict-and-restart rather than be
    * silently shadowed by the stale full-row images — the read-modify-write
    * hazard plain appends don't have. Plain upserts (caller-supplied rows,
    * no target read) stay unguarded: concurrent delta appends commute by
    * design. */
  def runDeltaIn(
      spark: SparkSession,
      path: String,
      source: DataFrame,
      extraOptions: Map[String, String],
      txn: graft.meta.Transaction,
      rewriteGuard: Boolean = false,
      strictWindow: Boolean = false): Long = {
    val snapshot = txn.snapshotOpt.getOrElse(
      throw new GraftTableNotFoundException(path))
    val info = snapshot.tableInfo
    require(info.hasPrimaryKey,
      "upsert requires a hash-partitioned (primary-key) table")
    // A condition on a delta upsert is pure row validation: appends only
    // touch the partitions of the source rows, so there is nothing to
    // scope — but the caller's predicate must not be silently dropped
    // (the merge path enforces it; asymmetry would corrupt silently).
    val checked = extraOptions.get("condition") match {
      case None => source
      case Some(p) =>
        validateUpsertCondition(spark, info, p)
        source.filter(coalesce(
          assert_true(expr(p),
            lit(s"[graft upsert] source row outside condition ($p)")),
          lit(true)))
    }
    val (newInfo, aligned) = WriteIntoTable.evolveSchema(
      spark, checked, info, extraOptions, allowMissingColumns = true)
    // (txnAppId, txnVersion) idempotence, same contract as batch appends:
    // a delta upsert carrying a pair whose version is at or below the
    // app's committed high-water mark becomes a silent no-op. Replication
    // rides this — the applied SOURCE version travels IN the apply commit
    // (readable from the replica's log by any driver, under any MetaStore)
    // and replayed microbatches skip instead of re-appending.
    val txnInfo = WriteIntoTable.parseTxnOptions(extraOptions)
    val files = TransactionalWrite.writeFiles(
      spark, path, newInfo, aligned, isBase = false)
    txn.commit("delta", if (newInfo == info) None else Some(newInfo), files,
      Nil, streaming = txnInfo, rewriteGuard = rewriteGuard,
      strictWindow = strictWindow)
  }

  /** The upsert condition must reference ONLY range partition columns —
    * same rule and message style as replaceWhere; anything else would
    * either fail opaquely inside partition filtering or, on a
    * non-range-partitioned table, silently degenerate to a whole-table
    * rewrite the caller believed was scoped. */
  private def validateUpsertCondition(
      spark: SparkSession, info: TableInfo, predicate: String): Unit = {
    // parse the TEXT: SparkShims.expression(expr(p)) yields a lazy
    // ColumnNodeExpression whose SQL is still unparsed, so collecting
    // attributes over it finds nothing
    val refs = RewriteSupport.referencedNames(
      org.apache.spark.sql.classic.ClassicConversions.castToImpl(spark)
        .sessionState.sqlParser.parseExpression(predicate))
    val bad = refs.filterNot(r =>
      info.rangeColumns.exists(_.equalsIgnoreCase(r)))
    require(bad.isEmpty,
      s"upsert condition may reference only range partition columns " +
      s"${info.rangeColumns.mkString("[", ", ", "]")}; got ${bad.mkString(", ")}")
  }

  private def runMergeMode(
      spark: SparkSession, tablePath: String, source0: DataFrame,
      condition: Option[String]): Unit = {
    val path = SnapshotManagement.normalize(tablePath)
    SnapshotManagement.withRewriteTransaction(path) { txn =>
      val snapshot = txn.snapshotOpt.getOrElse(
        throw new GraftTableNotFoundException(path))
      val info = snapshot.tableInfo
      require(info.hasPrimaryKey,
        "upsert requires a hash-partitioned (primary-key) table")
      val pk = info.hashColumns
      require(pk.forall(source0.columns.contains),
        s"source is missing PK columns ${pk.filterNot(source0.columns.contains)}")
      // Merge-mode resolves collisions with source-wins coalesce; on a
      // table whose DECLARED operators say values combine (sum/concat),
      // that would silently diverge from what delta-mode upserts + reads
      // produce for the same calls. Such tables stay on delta mode.
      val declaredOps = graft.merge.GraftMergeOperator.declaredOperators(info)
      val conflicting = declaredOps.keys
        .filter(c => source0.columns.exists(_.equalsIgnoreCase(c)))
      require(conflicting.isEmpty,
        s"merge-mode upsert would overwrite (not combine) declared " +
        s"merge-operator column(s) ${conflicting.mkString(", ")}; use the " +
        "default delta mode (values combine at read/compaction time)")
      // Condition scopes the rewrite: only matching range partitions are
      // read, joined, and replaced — a one-partition upsert stays a
      // one-partition job no matter the table size. Source rows OUTSIDE the
      // condition would be silently merged into partitions the commit does
      // not replace, so they fail the write (codegen'd assert, no extra
      // pass), exactly like an invariant violation.
      val touchedFiles = condition match {
        case None => snapshot.files
        case Some(p) =>
          validateUpsertCondition(spark, info, p)
          val cond = org.apache.spark.sql.graft.SparkShims.expression(expr(p))
          PartitionFilter.filterFiles(spark, snapshot, Seq(cond))
      }
      val source = condition match {
        case None => source0
        case Some(p) =>
          require(info.rangeColumns.forall(source0.columns.contains),
            "conditional upsert needs the range partition columns in the source")
          source0.filter(coalesce(
            assert_true(expr(p),
              lit(s"[graft upsert] source row outside condition ($p)")),
            lit(true)))
      }
      val target = GraftTableFiles.read(spark, path, snapshot, touchedFiles).as("t")
      val s = source.as("s")
      val joinCond = pk.map(c => col(s"t.`$c`") <=> col(s"s.`$c`")).reduce(_ && _)
      val targetCols = target.columns.toSeq
      // CASE-INSENSITIVE source-column lookup (like every other write
      // path): exact-case matching would silently drop a source `Val`'s
      // updates for target `val` AND append `Val` as a duplicate-modulo-
      // case column whose reads then fail as ambiguous
      val srcByLower = source.columns.map(c => c.toLowerCase -> c).toMap
      val merged = target.join(s, joinCond, "full_outer").select(
        (targetCols.map { c =>
          srcByLower.get(c.toLowerCase) match {
            case Some(sc) =>
              coalesce(col(s"s.`$sc`"), col(s"t.`$c`")).as(c)
            case None => col(s"t.`$c`").as(c)
          }
        } ++ source.columns.toSeq
          .filterNot(c => targetCols.exists(_.equalsIgnoreCase(c)))
          .map(c => col(s"s.`$c`").as(c))): _*)
      val newInfo =
        if (merged.columns.length == targetCols.length) info
        else info.copy(schemaJson =
          graft.schema.SchemaUtils.mergeSchemas(info.schema, source.schema).json)
      val files = TransactionalWrite.writeFiles(spark, path, newInfo, merged,
        isBase = true)
      txn.commit("upsert",
        if (newInfo == info) None else Some(newInfo), files, touchedFiles)
    }
  }
}

/** CDC APPLY: ingest one change batch — mixed inserts/updates/deletes,
  * possibly SEVERAL changes per key — into a PK table as ONE delta commit
  * (the "apply changes into" primitive CDC replication pipelines need;
  * replaying a Debezium/CDF-shaped feed row-by-row would pay a commit per
  * change and interleave wrong under retries).
  *
  * Per key, the surviving change is the one greatest by `sequenceCols`
  * (source's event order; ties broken deletes-win — the safe direction
  * when a replicator emits an update and a delete with one timestamp).
  * Surviving upserts land as ordinary delta rows; surviving deletes land
  * as tombstone rows in the same commit, so the batch is atomic: readers
  * see all of it or none. With NO sequence columns the batch must carry at
  * most one change per key — enforced in-plan (assert_true over a key
  * count window), not by a separate validation pass.
  *
  * Scale: one shuffle of the batch on the key for the window, one
  * bucket-partitioned write; the TABLE is never read or rewritten — cost
  * is ∝ batch, like every delta upsert. */
object ApplyChangesCommand {

  def run(
      spark: SparkSession,
      tablePath: String,
      source: DataFrame,
      opCol: String,
      sequenceCols: Seq[String] = Nil,
      deleteOps: Seq[String] = Seq("delete", "d"),
      writeOptions: Map[String, String] = Map.empty): Unit = {
    import org.apache.spark.sql.expressions.Window
    val path = SnapshotManagement.normalize(tablePath)
    SnapshotManagement.withRewriteTransaction(path) { txn =>
      val info = txn.snapshotOpt.getOrElse(
        throw new GraftTableNotFoundException(path)).tableInfo
      require(info.hasPrimaryKey,
        "applyChanges requires a hash-partitioned (primary-key) table")
      // CDC rows are ABSOLUTE images (last-wins); a table with declared
      // merge OPERATORS folds deltas instead — applying images there would
      // accumulate them (and a streaming replay would double-fold).
      val declaredOps = graft.merge.GraftMergeOperator.declaredOperators(info)
      require(declaredOps.isEmpty,
        "applyChanges requires last-wins merge semantics; this table " +
        s"declares merge operators for [${declaredOps.keys.mkString(", ")}]")
      def named(n: String): String =
        source.columns.find(_.equalsIgnoreCase(n)).getOrElse(
          throw new GraftWriteException(
            s"applyChanges: column $n not found in the change batch " +
            s"[${source.columns.mkString(", ")}]"))
      val op = named(opCol)
      val seqs = sequenceCols.map(named)
      val pk = info.hashColumns.map(named)
      // a NULL op would be neither a delete nor an upsert and silently
      // vanish from both branches below (worse: in the sequenced branch it
      // could WIN the per-key window and shadow a valid change) — fail
      // in-plan instead, riding the rows that already flow
      val checked = source.filter(coalesce(
        assert_true(col(s"`$op`").isNotNull,
          lit(s"[graft applyChanges] NULL value in op column '$op'")),
        lit(true)))
      val isDel = lower(col(s"`$op`")).isin(deleteOps.map(_.toLowerCase): _*)
      val latest =
        if (seqs.nonEmpty) {
          val w = Window.partitionBy(pk.map(c => col(s"`$c`")): _*)
            .orderBy(seqs.map(c => col(s"`$c`").desc) :+ isDel.desc: _*)
          checked.withColumn("__graft_rn", row_number().over(w))
            .filter(col("__graft_rn") === 1).drop("__graft_rn")
        } else {
          val w = Window.partitionBy(pk.map(c => col(s"`$c`")): _*)
          checked.withColumn("__graft_cnt", count(lit(1)).over(w))
            .filter(coalesce(
              assert_true(col("__graft_cnt") === 1,
                lit("[graft applyChanges] multiple changes for one key " +
                  "but no sequence columns to order them — pass " +
                  "sequenceCols")),
              lit(true)))
            .drop("__graft_cnt")
        }
      val dataCols = source.columns.filterNot(c =>
        c.equalsIgnoreCase(op) || seqs.exists(_.equalsIgnoreCase(c)))
      require(pk.forall(k => dataCols.exists(_.equalsIgnoreCase(k))),
        s"applyChanges: change batch must carry the key columns " +
        s"[${info.hashColumns.mkString(", ")}]")
      // one projection over the winners: a delete keeps its key and
      // carries the tombstone marker, every other winner keeps its data
      // with a null marker (two filtered branches unioned would compute
      // the per-key window, and its shuffle, once per branch)
      val delta = latest.select(dataCols.toSeq.map { c =>
        if (pk.exists(_.equalsIgnoreCase(c))) col(s"`$c`")
        else when(!isDel, col(s"`$c`")).as(c)
      } :+ when(isDel, lit(true)).as(graft.meta.Tombstones.COL): _*)
      UpsertCommand.runDeltaIn(spark, path, delta, writeOptions, txn)
    }
    if (spark.conf.getOption("spark.graft.compaction.auto")
        .exists(_.toBoolean)) {
      CompactionCommand.run(spark, path, force = false)
    }
  }
}

object UpdateCommand {

  /** Rewrite-on-update (reference `UpdateCommand.scala:61-153`): find
    * candidate files from partition predicates, locate the files that
    * actually contain matching rows via `input_file_name()` (file names
    * only — metadata-scale), rewrite those files with
    * `CASE WHEN cond THEN newExpr ELSE old END`, commit (adds, removes).
    */
  def run(
      spark: SparkSession,
      tablePath: String,
      condition: Column,
      setExprs: Map[String, Column]): Unit = {
    val path = SnapshotManagement.normalize(tablePath)
    // partition / primary-key columns are identity- and layout-bearing:
    // updating one would silently move rows across buckets/partitions and
    // could collide with existing keys (the reference rejects this too,
    // `commands/UpdateCommand.scala`)
    SnapshotManagement.snapshotOpt(path).foreach { snap =>
      val banned = (snap.tableInfo.rangeColumns ++ snap.tableInfo.hashColumns)
        .map(_.toLowerCase).toSet
      val bad = setExprs.keys.filter(k => banned.contains(k.toLowerCase))
      require(bad.isEmpty,
        s"cannot update partition/primary-key column(s): ${bad.mkString(", ")}")
    }
    // one transaction for the whole strategy ladder: the DV probe and the
    // rewrite fallback share the pinned snapshot and partition-filter work
    SnapshotManagement.withRewriteTransaction(path) { txn =>
      if (DvUpdate.tryRunIn(spark, path, condition, setExprs, txn)) return
      RewriteSupport.rewriteMatchingFilesIn(spark, path, condition, "update",
        txn)(applySet(setExprs))
    }
  }

  /** SQL UPDATE assigns SIMULTANEOUSLY: every SET expression reads the
    * OLD row. Stage the new values in temp columns first — a foldLeft
    * of direct withColumn(name, ...) would let later SETs see earlier
    * columns' NEW values (SET a = b, b = a would swap into a == b).
    * Dotted keys (`props.a.b`) address nested struct fields (reference
    * `UpdateExpressionsSupport`); `col("props.a")` reads the old
    * nested value and `withField` writes the new one in place.
    * a key naming an actual top-level column wins over nested-path
    * interpretation: column names may legally contain literal dots */
  def applySet(setExprs: Map[String, Column])(
      df: DataFrame, cond: Column): DataFrame = {
    val topLevel = df.columns.toSet
    val staged = setExprs.toSeq.zipWithIndex
    val withTmp = staged.foldLeft(df) { case (d, ((key, value), i)) =>
      val old = if (topLevel.contains(key)) col(s"`$key`") else col(key)
      d.withColumn(s"__graft_set_$i", when(cond, value).otherwise(old))
    }
    staged.foldLeft(withTmp) { case (d, ((key, _), i)) =>
      val parts = key.split("\\.")
      val assigned =
        if (topLevel.contains(key) || parts.length == 1)
          d.withColumn(key, col(s"__graft_set_$i"))
        else d.withColumn(parts.head, col(s"`${parts.head}`")
          .withField(parts.tail.mkString("."), col(s"__graft_set_$i")))
      assigned.drop(s"__graft_set_$i")
    }
  }
}

object DeleteCommand {

  /** DELETE strategy ladder: metadata-only partition delete, then deletion
    * vectors (non-PK) or tombstone markers (PK), then rewrite-on-delete
    * (reference `DeleteCommand.scala:69-147`): keep rows whose condition is
    * not true (null-safe). */
  def run(spark: SparkSession, tablePath: String, condition: Column): Unit = {
    val path = SnapshotManagement.normalize(tablePath)
    // one transaction for the whole strategy ladder: the DV probe and the
    // rewrite fallback share the pinned snapshot and partition-filter work
    SnapshotManagement.withRewriteTransaction(path) { txn =>
      if (DvDelete.tryRunIn(spark, path, condition, txn)) return
      if (PkTombstoneDelete.tryRunIn(spark, path, condition, txn)) return
      RewriteSupport.rewriteMatchingFilesIn(spark, path, condition, "delete",
        txn) { (df, cond) => df.filter(!coalesce(cond, lit(false))) }
    }
  }
}

/** Shared 3-case rewrite engine for update/delete. */
object RewriteSupport {

  /** Apply `rewrite(df, cond)` to the files containing rows matching
    * `condition`; untouched files stay as-is. */
  def rewriteMatchingFiles(
      spark: SparkSession, path: String, condition: Column, commitType: String)(
      rewrite: (DataFrame, Column) => DataFrame): Unit =
    SnapshotManagement.withRewriteTransaction(path) { txn =>
      rewriteMatchingFilesIn(spark, path, condition, commitType, txn)(rewrite)
    }

  /** Same, inside an already-open transaction — lets the DELETE/UPDATE
    * strategy ladder ([[DvDelete]]/[[DvUpdate]] probe, then rewrite
    * fallback) resolve ONE snapshot and create ONE transaction instead of
    * paying a second log listing + partition-filter job on fallback. */
  def rewriteMatchingFilesIn(
      spark: SparkSession, path: String, condition: Column, commitType: String,
      txn: graft.meta.Transaction)(
      rewrite: (DataFrame, Column) => DataFrame): Unit = {
    {
      val snapshot = txn.snapshotOpt.getOrElse(
        throw new GraftTableNotFoundException(path))
      val info = snapshot.tableInfo

      // Case analysis (reference UpdateCommand.scala:72-117): split the
      // predicate into partition-only conjuncts (prunable from metadata)
      // and data conjuncts.
      val conjuncts = splitConjuncts(
        org.apache.spark.sql.graft.SparkShims.expression(condition))
      val (partConj, dataConj) = conjuncts.partition { c =>
        val refs = referencedNames(c)
        refs.nonEmpty && refs.forall(info.rangeColumns.contains)
      }
      val candidates =
        if (partConj.isEmpty) snapshot.files
        else PartitionFilter.filterFiles(spark, snapshot,
          partConj.map(rebindByName(_)))

      if (candidates.isEmpty) return // case 1: nothing to touch

      val touched: Seq[DataFileInfo] =
        if (dataConj.isEmpty) candidates // case 2: partition-only predicate
        else if (info.hasPrimaryKey) {
          // PK tables: merge-on-read makes per-file row attribution unsound
          // (a row's visible value merges several files) — rewrite all
          // candidate buckets (reference: all candidates on PK tables).
          candidates
        } else {
          // case 3: ask the data which files hold matching rows.
          // input_file_name() returns URL-ENCODED URIs — decode before
          // comparing against the manifest's raw paths, or a partition
          // value with a space ("p=New%20York") silently matches nothing
          // and the DML no-ops
          val reader = GraftTableFiles.read(spark, path, snapshot, candidates)
          val names = reader.filter(condition)
            .select(input_file_name()).distinct().collect().map(_.getString(0))
          val nameSet = names.map(n => stripScheme(decodeFileUri(n))).toSet
          candidates.filter(f => nameSet.contains(f.resolvedPath(path)))
        }
      if (touched.isEmpty) return

      // Rewrite the touched files' rows (distributed), preserving layout.
      val df = GraftTableFiles.read(spark, path, snapshot, touched)
      val rewritten = rewrite(df, condition)
      val files = TransactionalWrite.writeFiles(spark, path, info, rewritten,
        isBase = true)
      txn.commit(commitType, None, files, touched)
    }
  }

  /** Column names referenced by a possibly-unresolved expression. */
  def referencedNames(e: org.apache.spark.sql.catalyst.expressions.Expression): Seq[String] =
    e.collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => a.name
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference => a.name
    }

  def splitConjuncts(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
      splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  def rebindByName(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.catalyst.expressions.Expression = e.transform {
    case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
      org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute.quoted(a.name)
  }

  def stripScheme(p: String): String = graft.meta.FsMetaStore.stripScheme(p)

  /** Decode the URL-encoded URI strings `input_file_name()` /
    * `_metadata.file_path` return (e.g. `file:/a/p=New%20York/x.parquet`)
    * back to the raw on-disk path the manifest records. Percent-decoding
    * ONLY: a literal `+` in a path is legal and stays un-encoded in the
    * URI, so it is protected first (URLDecoder would form-decode it to a
    * space and corrupt the key). */
  def decodeFileUri(uri: String): String =
    java.net.URLDecoder.decode(uri.replace("+", "%2B"), "UTF-8")
}

/** Reads a pinned file list of a table as a DataFrame (the
  * `BatchDataFileIndexV2` path, reference `StarLakeFileIndex.scala:125-150`),
  * with full merge-on-read semantics for PK tables.
  */
object GraftTableFiles {
  def read(
      spark: SparkSession, path: String, snapshot: Snapshot,
      files: Seq[DataFileInfo],
      options: Map[String, String] = Map.empty): DataFrame =
    graft.sources.GraftRead.readFiles(spark, path, snapshot, files, options)
}

object CompactionCommand extends org.apache.spark.internal.Logging {

  /** Table property declaring persistent clustering columns: every
    * compaction rewrite (explicit, auto-trigger, scan-heal) re-clusters
    * on these instead of silently de-clustering a zOrder'ed layout. */
  val ZORDER_PROPERTY = "graft.zOrderBy"

  /** Merge-read each range partition and rewrite it as deduplicated base
    * files (reference `CompactionCommand.scala:38-185`). `force=false`
    * compacts only partitions whose delta-file count reached
    * `spark.graft.compaction.deltaFileMaxNum` (default 5).
    */
  /** `mergeOperators` (reference `compaction(mergeOperatorInfo)`) applies
    * the named per-column operators while merging, so their results are
    * MATERIALIZED into the base files — after which plain reads see the
    * combined values and operator reads are identity over single rows. */
  /** `zOrderBy` (non-PK tables only): rewrite the selected partitions
    * clustered on the Morton curve of the given columns — every file then
    * covers a narrow [min, max] window on EACH column and the manifest
    * stats ([[graft.sources.FileStats]]) prune multi-dimensional filters.
    * Implies a full rewrite of the selected partitions (clustering is the
    * point), not just the small-file ones. */
  /** Guard shared by every full-merge rewrite (compaction, rebucket): an
    * operator naming an unknown column would be silently dropped by the
    * scan and the rewrite would irreversibly materialize last-wins values
    * for a column whose semantics were declared as sum/concat. */
  private[commands] def validateMergeOperators(
      info: graft.meta.TableInfo, ops: Map[String, String]): Unit = {
    if (ops.isEmpty) return
    require(info.hasPrimaryKey,
      "merge operators need a hash-partitioned (primary-key) table")
    val dataCols = info.dataSchema.fieldNames.map(_.toLowerCase).toSet
    val pkCols = info.hashColumns.map(_.toLowerCase).toSet
    ops.keys.foreach { c =>
      require(dataCols.contains(c.toLowerCase), s"merge operator " +
        s"column $c does not exist in the table schema")
      require(!pkCols.contains(c.toLowerCase),
        s"merge operator column $c is a primary-key column")
    }
  }

  def run(
      spark: SparkSession,
      tablePath: String,
      force: Boolean = true,
      partitionPredicate: Option[String] = None,
      rangeKeys: Option[Set[String]] = None,
      mergeOperators: Map[String, String] = Map.empty,
      zOrderBy: Seq[String] = Nil): Unit = {
    val path = SnapshotManagement.normalize(tablePath)
    SnapshotManagement.withRewriteTransaction(path) { txn =>
      val snapshot = txn.snapshotOpt.getOrElse(
        throw new GraftTableNotFoundException(path))
      val info = snapshot.tableInfo
      // explicit zOrderBy wins; otherwise the table's DECLARED clustering
      // (graft.zOrderBy table property) applies, so auto-trigger and
      // plain-compaction rewrites keep the layout the table promised
      // instead of silently de-clustering it
      val declaredZ = info.configuration.collectFirst {
        case (k, v) if k.equalsIgnoreCase(ZORDER_PROPERTY) =>
          v.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      }.getOrElse(Nil)
      def zOrderValid(cols: Seq[String], loud: Boolean): Boolean = {
        def fail(msg: String): Boolean =
          if (loud) throw new IllegalArgumentException(msg)
          else { logWarning(s"ignoring declared $ZORDER_PROPERTY: $msg"); false }
        val rangeSet = info.rangeColumns.map(_.toLowerCase).toSet
        val dataFields = info.dataSchema.fields
          .map(f => f.name.toLowerCase -> f.dataType).toMap
        if (info.hasPrimaryKey)
          fail("zOrderBy applies to non-PK tables (primary-key tables are " +
            "already clustered and PK-sorted by bucket)")
        else cols.forall { c =>
          if (rangeSet.contains(c.toLowerCase))
            fail(s"zOrderBy column $c is a range-partition column " +
              "(constant per partition; clustering on it is a no-op)")
          else dataFields.get(c.toLowerCase) match {
            case None => fail(s"zOrderBy column $c not found")
            case Some(dt) if !ZOrder.supported(dt) =>
              fail(s"zOrderBy column $c has unsupported type ${dt.simpleString}")
            case _ => true
          }
        }
      }
      // EXPLICIT zOrderBy fails loudly on misuse; a DECLARED property that
      // does not validate is logged and IGNORED — otherwise a bad property
      // (set before validation existed, or after an ALTER) would turn every
      // implicit compaction (upsert auto-trigger, read-path scan-heal) into
      // a runtime failure
      val zOrderCols =
        if (zOrderBy.nonEmpty) { zOrderValid(zOrderBy, loud = true); zOrderBy }
        else if (declaredZ.nonEmpty && zOrderValid(declaredZ, loud = false))
          declaredZ
        else Nil
      val maxDelta = spark.conf.getOption("spark.graft.compaction.deltaFileMaxNum")
        .map(_.toInt).getOrElse(5)
      val candidateKeys: Set[String] = rangeKeys match {
        case Some(keys) => keys
        case None => partitionPredicate match {
          case Some(p) => PartitionFilter.matchingRangeKeys(spark, snapshot,
            Seq(org.apache.spark.sql.graft.SparkShims.expression(expr(p))))
          case None => snapshot.filesByRange.keySet
        }
      }
      // PK tables: compact partitions holding delta files. Non-PK tables:
      // bin-pack partitions fragmented into many small files (small-file
      // management, reference `CompactionCommand.scala` + SURVEY §4).
      val smallFileMax = spark.conf
        .getOption("spark.graft.compaction.smallFileBytes")
        .map(_.toLong).getOrElse(32L * 1024 * 1024)
      // memoized lookup of the clustering a commit RECORDED
      // (CommitInfo.clusterBy) for the clustered-already check below —
      // commit-type inference cannot tell a z-ordered rewrite from a plain
      // bin-pack, so it wrongly skipped partitions compacted before the
      // property was declared
      val clusterByCache = scala.collection.mutable.Map.empty[Long, Seq[String]]
      // negative writeVersions are cloned-in generations (CloneCommand's
      // order-preserving remap) — no log entry of THIS table describes
      // them, so they conservatively count as unclustered
      def clusterByOf(v: Long): Seq[String] = clusterByCache.getOrElseUpdate(v,
        if (v < 0) Nil
        else SnapshotManagement.store.read(path, v).flatMap(_.commit).headOption
          .map(_.clusterBy.map(_.toLowerCase)).getOrElse(Nil))
      // a FORCED compaction also localizes shallow-clone state: partitions
      // still referencing files outside the table root rewrite into local
      // files even when they hold a single clean base generation (the
      // "no work" heuristics below would otherwise skip them and the clone
      // could never cut its dependency on the source's storage)
      def externalRefs(f: DataFileInfo): Boolean =
        DataFileInfo.isExternal(f.path) ||
          (f.hasDv && DataFileInfo.isExternal(f.dvPath))
      val toCompact: Map[String, Seq[DataFileInfo]] =
        snapshot.filesByRange.flatMap { case (key, files) =>
          if (!candidateKeys.contains(key)) None
          else if (info.hasPrimaryKey) {
            val deltas = files.count(!_.isBase)
            if ((force || deltas >= maxDelta) &&
                (files.exists(!_.isBase) ||
                  (force && files.exists(externalRefs))))
              Some(key -> files)
            else None
          } else if (zOrderCols.nonEmpty) {
            if (zOrderBy.nonEmpty) { // explicit: always rewrite
              if (files.nonEmpty) Some(key -> files) else None
            } else {
              // DECLARED clustering must be idempotent: a partition whose
              // whole file set came out of ONE rewrite that RECORDED these
              // clustering columns is already clustered — skipping it keeps
              // scheduled maintenance from rewriting 100% of the table
              // every run, while partitions compacted under a different
              // (or no) clustering still get rewritten once. A deletion
              // vector voids the verdict: its masked rows only leave on a
              // rewrite.
              val versions = files.map(_.writeVersion).distinct
              val alreadyClustered = versions.length == 1 &&
                files.forall(_.isBase) && !files.exists(_.hasDv) &&
                clusterByOf(versions.head) == zOrderCols.map(_.toLowerCase)
              if (files.nonEmpty && !alreadyClustered) Some(key -> files)
              else None
            }
          } else {
            // bin-pack the SMALL subset: one already-large file must not
            // block compaction of any number of small neighbors (a
            // `forall(small)` gate would let streaming appends grow the
            // read fan-in unboundedly next to a single 200 MB base file).
            // Large files stay untouched unless they carry a DV to purge.
            val small = files.filter(_.size < smallFileMax)
            val dvdLarge = files.filter(f =>
              f.size >= smallFileMax && f.hasDv)
            val pick =
              ((if (small.length > 1) small
                else small.filter(_.hasDv)) ++ dvdLarge ++
                (if (force) files.filter(externalRefs) else Nil)).distinct
            if (pick.nonEmpty) Some(key -> pick) else None
          }
        }
      if (toCompact.isEmpty) return
      val oldFiles = toCompact.values.flatten.toSeq
      // explicit operators win; otherwise the table's DECLARED operators
      // apply — so auto-trigger and scan-heal compactions cannot silently
      // materialize last-wins values for a table whose semantics are
      // operator merges
      val ops =
        if (mergeOperators.nonEmpty) mergeOperators
        else graft.merge.GraftMergeOperator.declaredOperators(info)
      validateMergeOperators(info, ops)
      val readOpts =
        if (ops.isEmpty) Map.empty[String, String]
        else Map(graft.merge.GraftMergeOperator.SCAN_OPTION ->
          graft.merge.GraftMergeOperator.formatAssignments(ops))
      val df0 = GraftTableFiles.read(spark, path, snapshot, oldFiles, readOpts)
      // non-PK bin-pack: coalesce to ~128 MB outputs (PK tables re-bucket
      // in writeFiles; coalescing there would fight the bucket layout)
      val df =
        if (info.hasPrimaryKey) df0
        else {
          val targetBytes = spark.conf
            .getOption("spark.graft.compaction.targetFileBytes")
            .map(_.toLong).getOrElse(128L * 1024 * 1024)
          val target = math.max(1,
            (oldFiles.map(_.size).sum / targetBytes).toInt)
          if (zOrderCols.nonEmpty) ZOrder.cluster(df0, zOrderCols, target)
          else df0.coalesce(target)
        }
      val files = TransactionalWrite.writeFiles(spark, path, info, df, isBase = true)
      // record clusterBy only when the rewrite ACTUALLY clustered: the PK
      // branch never applies ZOrder.cluster (buckets are the layout), and a
      // false claim in the log would mislead any future consumer
      val recordedCluster = if (info.hasPrimaryKey) Nil else zOrderCols
      txn.commit("compaction", None, files, oldFiles,
        clusterBy = recordedCluster)
    }
  }
}

object RebucketCommand {

  /** Change a primary-key table's hash-bucket count in ONE transactional
    * rewrite. The bucket count is the table's parallelism unit — it bounds
    * shuffle-free join/agg width AND per-bucket file size — and the number
    * chosen at creation is wrong after 100× growth: too few buckets at
    * 100 TB means multi-GB bucket files and 16-way parallelism on a
    * 1000-executor cluster. The reference cannot change it after creation;
    * this command can, without table downtime.
    *
    * Mechanics: full merge-on-read of the current snapshot (tombstones and
    * deletion vectors resolve, declared merge operators materialize —
    * exactly like compaction), rewritten through the normal bucketed write
    * under the NEW bucket count, committed with the new `TableInfo` and the
    * removal of every old file in one `rebucket` commit. Readers pin
    * snapshots, so running queries keep the old layout; time travel to an
    * old version replays the old TableInfo with the old files (the log
    * pairs them by construction).
    *
    * Concurrency: the rewrite must not LIVELOCK under sustained writes, so
    * it converges incrementally instead of restarting. Phase 1 rewrites
    * the pinned snapshot's full merged state into new-layout BASE files
    * (no transaction held — writers keep committing). Each commit attempt
    * then pins the current version, replays only the commits since the
    * last replay as new-layout DELTA files — per-key last-state from the
    * change feed (`resolveUpserts` gives true post-images), tombstone
    * markers for deleted keys — and tries a `strictWindow` cutover. A
    * commit racing the cutover costs one more sliver-sized catch-up round,
    * never a second full rewrite; per-file `writeVersion`s (base stamped
    * below every round, rounds stamped with their window end) make the
    * k-way merge reader resolve base < round 1 < … < future commits. The
    * reverse race — a writer that pinned the OLD layout committing
    * bucketed files AFTER the rebucket — is closed by the layout guard in
    * [[graft.meta.Transaction.commit]]. Tables with declared merge
    * operators take the old whole-rewrite restart path: their feed rows
    * are raw contributions, and replaying them onto the materialized base
    * would apply the operator fold twice.
    *
    * Returns the rebucket commit's version. */
  def run(spark: SparkSession, tablePath: String, newBucketNum: Int,
      onBaseRewritten: () => Unit = () => ()): Long = {
    require(newBucketNum > 0, s"rebucket: bucket count must be positive " +
      s"(got $newBucketNum)")
    val path = SnapshotManagement.normalize(tablePath)
    val first = SnapshotManagement.snapshotOpt(path).getOrElse(
      throw new GraftTableNotFoundException(path))
    val info0 = first.tableInfo
    require(info0.hasPrimaryKey,
      "rebucket applies to hash-partitioned (primary-key) tables; non-PK " +
      "tables have no bucket layout — use compaction() to re-bin files")
    if (newBucketNum == info0.bucketNum) return first.version
    val ops = graft.merge.GraftMergeOperator.declaredOperators(info0)
    CompactionCommand.validateMergeOperators(info0, ops)
    if (ops.nonEmpty) return runStrict(spark, path, newBucketNum)

    // phase 1 — full merged rewrite from the PINNED snapshot, outside any
    // transaction. Base files stamp writeVersion 1: every catch-up round
    // stamps its window's end version (>= first.version + 1 >= 1), and
    // within the one rebucket commit ties resolve in addFiles order (base
    // first), so the merge order is always base, then rounds, then any
    // post-rebucket commit (stamped with its own, higher, version).
    val newInfo = info0.copy(bucketNum = newBucketNum)
    val df = GraftTableFiles.read(spark, path, first, first.files)
    var newFiles = TransactionalWrite
      .writeFiles(spark, path, newInfo, df, isBase = true)
      .map(_.copy(writeVersion = 1L))
    onBaseRewritten()
    // Catch-up rounds run OUTSIDE any transaction — their (Spark-job-
    // sized) duration must not sit inside the conflict window. The cutover
    // attempt only fires when the replay is fully caught up, so its window
    // is pin→CAS: milliseconds. A busy table costs sliver-sized rounds
    // (each triggered by the commits that landed during the previous one,
    // so slivers SHRINK as the replay closes in); a table with genuinely
    // continuous sub-second commits exhausts the round bound and fails
    // with quiesce advice rather than silently rewriting forever.
    var replayedTo = first.version
    var rounds = 0
    val maxRounds = 10
    while (true) {
      val cur = SnapshotManagement.snapshot(path)
      // a mid-flight TableInfo change (ALTER, schema-evolving write)
      // invalidates the pinned layout and the catch-up frames' schema:
      // only the whole-rewrite restart path heals that (rare) race
      if (cur.tableInfo != info0) return runStrict(spark, path, newBucketNum)
      if (cur.version > replayedTo) {
        rounds += 1
        if (rounds > maxRounds) throw new IllegalStateException(
          s"rebucket($path): still chasing concurrent commits after " +
          s"$maxRounds catch-up rounds — quiesce writers (or raise " +
          "the round bound) and retry")
        val catchup = catchupFrame(spark, path, replayedTo, cur.version)
        newFiles = newFiles ++ TransactionalWrite
          .writeFiles(spark, path, newInfo, catchup, isBase = false)
          .map(_.copy(writeVersion = cur.version))
        replayedTo = cur.version
      } else {
        try {
          return SnapshotManagement.withNewTransaction(path) { txn =>
            val pinned = txn.snapshotOpt.getOrElse(
              throw new GraftTableNotFoundException(path))
            if (pinned.version != replayedTo || pinned.tableInfo != info0) {
              // a commit slipped in between the snapshot above and the
              // pin: loop — the next round replays just that sliver
              throw new GraftConcurrentModificationException(
                s"rebucket($path): new commits since replay")
            }
            txn.commit("rebucket", Some(newInfo), newFiles, pinned.files,
              preserveWriteVersions = true, strictWindow = true)
          }
        } catch {
          case _: GraftConcurrentModificationException =>
            SnapshotManagement.invalidate(path)
        }
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Per-key LAST state of the window (fromV, toV], as new-layout delta
    * rows: live keys carry their resolved post-image, deleted keys a
    * tombstone marker. `resolveUpserts` makes raw delta commits yield
    * resolved post-images (merged bucket state), so one row per key per
    * commit survives the pre-image filter and the per-key window is
    * unambiguous. */
  private def catchupFrame(
      spark: SparkSession, path: String, fromV: Long, toV: Long): DataFrame = {
    import graft.tables.ChangeFeed
    val snap = SnapshotManagement.snapshot(path)
    val keys = snap.tableInfo.rangeColumns ++ snap.tableInfo.hashColumns
    val changes = ChangeFeed.changes(spark, path, fromV + 1, toV,
      resolveUpserts = true)
      .filter(col(ChangeFeed.CHANGE_TYPE) =!= "update_preimage")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(k => col(s"`${k.replace("`", "``")}`")): _*)
      .orderBy(col(ChangeFeed.COMMIT_VERSION).desc)
    val dataCols = changes.columns.filterNot(Set(ChangeFeed.CHANGE_TYPE,
      ChangeFeed.COMMIT_VERSION, ChangeFeed.COMMIT_TIMESTAMP))
    changes.withColumn("__rb_rn", row_number().over(w))
      .filter(col("__rb_rn") === 1)
      .select(dataCols.map(c => col(s"`${c.replace("`", "``")}`")).toSeq :+
        when(col(ChangeFeed.CHANGE_TYPE) === "delete", lit(true))
          .otherwise(lit(null).cast("boolean"))
          .as(graft.meta.Tombstones.COL): _*)
  }

  /** The original whole-rewrite path (merge operators materialize like in
    * compaction); `strictWindow` + whole-body restart on any concurrent
    * commit. Kept for operator tables and mid-flight schema changes. */
  private def runStrict(
      spark: SparkSession, path: String, newBucketNum: Int): Long = {
    SnapshotManagement.withRewriteTransaction(path) { txn =>
      val snapshot = txn.snapshotOpt.getOrElse(
        throw new GraftTableNotFoundException(path))
      val info = snapshot.tableInfo
      if (newBucketNum == info.bucketNum) return snapshot.version
      val oldFiles = snapshot.files
      // declared merge operators materialize here like in compaction — the
      // rewrite is a full merge, so operator semantics must fold now
      val ops = graft.merge.GraftMergeOperator.declaredOperators(info)
      CompactionCommand.validateMergeOperators(info, ops)
      val readOpts =
        if (ops.isEmpty) Map.empty[String, String]
        else Map(graft.merge.GraftMergeOperator.SCAN_OPTION ->
          graft.merge.GraftMergeOperator.formatAssignments(ops))
      val df = GraftTableFiles.read(spark, path, snapshot, oldFiles, readOpts)
      val newInfo = info.copy(bucketNum = newBucketNum)
      val files = TransactionalWrite.writeFiles(spark, path, newInfo, df,
        isBase = true)
      txn.commit("rebucket", Some(newInfo), files, oldFiles,
        strictWindow = true)
    }
  }
}

object CleanupCommand {

  /** Vacuum: delete files under the table dir that the latest snapshot does
    * not reference and that are older than `retainMillis` (reference
    * `CleanupCommand.scala:36-233`). Listing runs distributed when the dir
    * set is large; here the dir tree comes from range partitions
    * (metadata-scale), so a driver walk suffices at any table size because
    * the walk is per-partition-dir, not per-row.
    *
    * The delete phase runs UNDER THE COMMIT LOG: vacuum first commits a
    * `vacuum` marker carrying a wall-clock lease (`CommitInfo.leaseUntil`)
    * with `strictWindow` conflict rules — ANY commit since the pinned
    * snapshot (a restore re-referencing old files, above all) restarts the
    * whole vacuum from a fresh snapshot BEFORE anything is deleted. While
    * the lease is open, RESTORE fails cleanly ("vacuum in progress"), so
    * the old restore-vs-vacuum TOCTOU window is closed from both sides.
    * Deletion ends with a `vacuum_end` marker releasing the lease (also on
    * failure); a vacuum that dies mid-delete blocks restores only until
    * the lease expires. Appends/rewrites are never blocked: their files
    * are younger than the retention cutoff by the MIN_RETAIN floor.
    */
  /** Default retention: 5 hours, matching `GraftTable.cleanup`. */
  val DEFAULT_RETAIN_MILLIS: Long = 5L * 3600 * 1000
  /** Retention floor: below this an in-flight write (files land in the
    * table layout BEFORE the metadata commit) could be vacuumed away. */
  val MIN_RETAIN_MILLIS: Long = 3600 * 1000L
  /** Delete-phase lease of a vacuum. */
  private val LEASE_MILLIS: Long = 15L * 60 * 1000
  /** Lease-scan horizon: commits older than this hold no live lease. */
  private val MAX_LEASE_MILLIS: Long = 24L * 3600 * 1000

  /** The open, unexpired vacuum lease at or below `fromVersion`, if any:
    * (markerVersion, leaseUntil). Scans DOWN from `fromVersion` and stops
    * at the first vacuum/vacuum_end marker or at commits too old to hold a
    * live lease — O(commits since the last vacuum), not O(log). */
  def activeLease(
      store: graft.meta.MetaStore, path: String, fromVersion: Long,
      nowMs: Long): Option[(Long, Long)] = {
    val horizon = nowMs - MAX_LEASE_MILLIS
    var v = fromVersion
    while (v >= 0) {
      store.read(path, v).flatMap(_.commit).headOption match {
        case Some(ci) if ci.commitType == "vacuum_end" => return None
        case Some(ci) if ci.commitType == "vacuum" =>
          return if (ci.leaseUntil > nowMs) Some((v, ci.leaseUntil)) else None
        case Some(ci) if ci.timestamp < horizon => return None
        case _ =>
      }
      v -= 1
    }
    None
  }

  def run(
      spark: SparkSession,
      tablePath: String,
      retainMillis: Long = DEFAULT_RETAIN_MILLIS,
      dryRun: Boolean = false): Seq[String] = {
    val retentionCheck = spark.conf
      .getOption("spark.graft.cleanup.retentionCheck.enabled")
      .forall(_.toBoolean)
    if (retentionCheck && retainMillis < MIN_RETAIN_MILLIS) {
      throw new IllegalArgumentException(
        s"cleanup retention ${retainMillis}ms is below the ${MIN_RETAIN_MILLIS}ms " +
        "safety floor (a concurrent in-flight write stages files into the " +
        "table layout before its commit); set " +
        "spark.graft.cleanup.retentionCheck.enabled=false to override")
    }
    val path = SnapshotManagement.normalize(tablePath)
    if (dryRun) {
      // read-only: no lease, sweep against the latest snapshot
      return sweep(spark, path, SnapshotManagement.snapshot(path),
        retainMillis, dryRun = true)
    }
    SnapshotManagement.withRewriteTransaction(path) { txn =>
      val snapshot = txn.snapshotOpt.getOrElse(
        throw new GraftTableNotFoundException(path))
      // one vacuum at a time: a second overlapping vacuum's lease would be
      // MASKED once the first's vacuum_end commits (the lease scan stops at
      // the newest end marker), so refuse to start while a lease is open.
      // The strict marker commit below makes this airtight: a lease that
      // commits after this check invalidates our marker, restarts the body,
      // and re-runs this check against the fresh log.
      activeLease(SnapshotManagement.store, path, snapshot.version,
          System.currentTimeMillis()).foreach { case (v, until) =>
        throw new IllegalStateException(
          s"cannot vacuum $path: another vacuum's lease is open (committed " +
          s"at v$v, expires ${java.time.Instant.ofEpochMilli(until)}); " +
          "retry after it completes or expires")
      }
      // the marker commit is the serialization point: it wins or the whole
      // vacuum restarts against a fresh snapshot — never deletes on stale
      // state
      txn.commit("vacuum", None, Nil, Nil,
        strictWindow = true,
        leaseUntil = System.currentTimeMillis() + LEASE_MILLIS)
      try sweep(spark, path, snapshot, retainMillis, dryRun = false)
      finally SnapshotManagement.withNewTransaction(path)(
        _.commit("vacuum_end", None, Nil, Nil))
    }
  }

  private def sweep(
      spark: SparkSession,
      path: String,
      snapshot: Snapshot,
      retainMillis: Long,
      dryRun: Boolean): Seq[String] = {
    val cutoff = System.currentTimeMillis() - retainMillis
    val hconf = graft.write.GraftFs.conf(spark)
    val root = new HPath(path)
    val fs = root.getFileSystem(hconf)
    // live set keyed by FULLY-QUALIFIED path string so the listed files
    // (qualified by the same FileSystem) compare exactly; deletion vectors
    // referenced by the snapshot are as live as their data files
    // external (shallow-clone) refs resolve OUTSIDE the table root: they
    // qualify to paths the listing below never visits, so a clone's vacuum
    // can never delete source-table files — only the clone's own orphans
    val live = (snapshot.files.map(_.path) ++
        snapshot.files.collect { case f if f.hasDv => f.dvPath })
      .map(rel => fs.makeQualified(
        new HPath(graft.meta.DataFileInfo.resolve(path, rel))).toString).toSet

    // Driver lists only the table root (metadata-scale: one entry per range
    // partition plus root-level files); each partition directory's walk and
    // delete runs distributed — on an object store with millions of files
    // per partition the driver never enumerates data files (reference
    // parallelizes at cleanup.parallelism=200, `utils/FileOperation.scala`).
    val skip = Set(graft.meta.FsMetaStore.LOG_DIR_NAME, "_graft_staging",
      GenerateCommand.MANIFEST_DIR)
    val entries = fs.listStatus(root).toSeq
      .filterNot(st => skip.contains(st.getPath.getName))
    val (dirs, rootFiles) = entries.partition(_.isDirectory)
    val rootDeleted = rootFiles
      .filter(st => st.getPath.getName.endsWith(".parquet") &&
        !live.contains(fs.makeQualified(st.getPath).toString) &&
        st.getModificationTime < cutoff)
      .map { st =>
        if (!dryRun) fs.delete(st.getPath, false)
        st.getPath.toUri.getPath
      }
    val dirDeleted =
      if (dirs.isEmpty) Nil
      else {
        val liveB = spark.sparkContext.broadcast(live)
        val confB = graft.write.GraftFs.broadcastConf(spark, hconf)
        val doDelete = !dryRun
        spark.sparkContext
          .parallelize(dirs.map(_.getPath.toUri.toString),
            math.min(dirs.size, 64))
          .flatMap(d => orphansUnder(new HPath(d), confB.value.value, liveB.value,
            cutoff, doDelete))
          .collect().toSeq
      }
    rootDeleted ++ dirDeleted ++ vacuumStaging(fs, root, cutoff, dryRun)
  }

  /** Walk `start` via Hadoop FS; delete (or report) dead orphans. Runs on
    * EXECUTORS — one task per partition directory. */
  private def orphansUnder(
      start: HPath,
      conf: org.apache.hadoop.conf.Configuration,
      liveSet: Set[String],
      cutoff: Long,
      doDelete: Boolean): Seq[String] = {
    val fs = start.getFileSystem(conf)
    if (!fs.exists(start)) return Nil
    val out = Seq.newBuilder[String]
    try {
      val it = fs.listFiles(start, true)
      while (it.hasNext) {
        val st = it.next()
        val p = st.getPath
        // reclaimable: data files and deletion-vector files (orphaned by a
        // newer vector, a purge compaction, or an expired version)
        val reclaimable = p.getName.endsWith(".parquet") ||
          (p.getName.startsWith("dv-") && p.getName.endsWith(".bin"))
        if (reclaimable &&
            !liveSet.contains(fs.makeQualified(p).toString) &&
            st.getModificationTime < cutoff) {
          out += p.toUri.getPath
          if (doDelete) try fs.delete(p, false) catch { case _: Exception => }
        }
      }
    } catch {
      // dir vanished mid-walk (concurrent drop/compaction cleanup): done
      case _: java.io.FileNotFoundException =>
    }
    out.result()
  }

  /** Legacy staging dirs (`_graft_staging/<id>/`) from writers predating
    * the direct-to-final [[graft.write.GraftCommitProtocol]]: no snapshot
    * ever references them, so the main walk (which skips the staging root)
    * would leak them forever. Liveness = the NEWEST mtime of anything under
    * the dir — only a dir whose every entry predates the cutoff belongs to
    * a dead writer. */
  private def vacuumStaging(
      fs: FileSystem, root: HPath, cutoff: Long, dryRun: Boolean): Seq[String] = {
    val stagingRoot = new HPath(root, "_graft_staging")
    if (!fs.exists(stagingRoot)) return Nil
    fs.listStatus(stagingRoot).toSeq.flatMap { d =>
      // A writer may finalize (delete its dir) between our list and walk —
      // entries vanishing mid-walk mean the dir is LIVE; skip it rather
      // than abort the whole cleanup run.
      try {
        var newest = d.getModificationTime
        val staged = Seq.newBuilder[String]
        val it = fs.listFiles(d.getPath, true)
        while (it.hasNext) {
          val st = it.next()
          newest = math.max(newest, st.getModificationTime)
          if (st.getPath.getName.endsWith(".parquet"))
            staged += st.getPath.toUri.getPath
        }
        if (newest >= cutoff) Nil
        else {
          if (!dryRun) fs.delete(d.getPath, true)
          staged.result()
        }
      } catch {
        case _: java.io.FileNotFoundException => Nil
      }
    }
  }
}

object DropCommands {

  /** Drop the whole table: metadata first, then data (reference
    * `DropTableCommand.scala`). Data delete goes through Hadoop FS so
    * object-store table roots drop the same way local ones do. */
  def dropTable(tablePath: String): Unit = {
    val path = SnapshotManagement.normalize(tablePath)
    SnapshotManagement.invalidate(path)
    graft.write.GraftFs.deleteRecursively(
      org.apache.spark.sql.SparkSession.active, path)
  }

  /** Drop one range partition (metadata removal; data via cleanup). */
  def dropPartition(spark: SparkSession, tablePath: String, predicate: String): Unit = {
    val path = SnapshotManagement.normalize(tablePath)
    SnapshotManagement.withNewTransaction(path) { txn =>
      val snapshot = txn.snapshotOpt.getOrElse(
        throw new GraftTableNotFoundException(path))
      val cond = org.apache.spark.sql.graft.SparkShims.expression(expr(predicate))
      val files = PartitionFilter.filterFiles(spark, snapshot, Seq(cond))
      require(files.nonEmpty, s"no partition matches $predicate")
      txn.commit("delete", None, Nil, files)
    }
  }
}
