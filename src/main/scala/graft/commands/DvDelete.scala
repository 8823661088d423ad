package graft.commands

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.And
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SparkShims
import org.roaringbitmap.longlong.Roaring64Bitmap

import graft.meta.{DataFileInfo, GraftTableNotFoundException, Snapshot, SnapshotManagement, TableInfo}
import graft.sources.DeletionVectors
import graft.write.GraftFs

/** Shared deletion-vector write machinery (non-PK tables): collect matched
  * row indices per file via Spark's `_metadata.row_index`, build roaring
  * bitmaps (unioned with any existing vector) and write them as `_dv/`
  * files EXECUTOR-side — the driver only ever sees per-file metadata —
  * then classify each touched file as vector-able, rewrite-worthy (deleted
  * fraction past `spark.graft.dv.maxDeletedFraction`) or fully dead.
  *
  * PK tables never take the DV path: merge-on-read resolves a key across
  * files, so masking one file's rows could resurrect an OLDER version of
  * the key from a file the DML never touched.
  */
object DvSupport {

  val ENABLED_CONF = "spark.graft.dv.enabled"
  val TABLE_PROPERTY = "graft.deletionVectors"
  val MAX_FRACTION_CONF = "spark.graft.dv.maxDeletedFraction"
  val DEFAULT_MAX_FRACTION = 0.8

  def dvEnabled(spark: SparkSession, info: TableInfo): Boolean =
    // writer-option-declared properties arrive lowercased
    // (CaseInsensitiveStringMap); match the property case-insensitively
    info.configuration.collectFirst {
      case (k, v) if k.equalsIgnoreCase(TABLE_PROPERTY) => v.toBoolean
    }.getOrElse(spark.conf.getOption(ENABLED_CONF).forall(_.toBoolean))

  /** Conjuncts of `condition` split into (partition-only, data). */
  def splitByPartition(info: TableInfo, condition: Column)
      : (Seq[org.apache.spark.sql.catalyst.expressions.Expression],
         Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =
    RewriteSupport.splitConjuncts(SparkShims.expression(condition))
      .partition { c =>
        val refs = RewriteSupport.referencedNames(c)
        refs.nonEmpty && refs.forall(info.rangeColumns.contains)
      }

  /** The per-file outcome of a vector-building pass. */
  case class VectorPlan(
      dvAdds: Seq[DataFileInfo],     // re-adds with the new vector attached
      toRewrite: Seq[DataFileInfo],  // deleted fraction too high — rewrite
      fullyGone: Seq[DataFileInfo])  // every physical row deleted

  /** Build + write vectors for the rows of `candidates` matching the data
    * conjuncts; None when no row matched. Vectors for files that end up
    * classified `toRewrite`/`fullyGone` become unreferenced (vacuumable).
    */
  def buildVectors(
      spark: SparkSession,
      path: String,
      info: TableInfo,
      candidates: Seq[DataFileInfo],
      dataConj: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Option[VectorPlan] = {
    // ---- collect matched (file, rowIndex) pairs ----------------------
    val dataCond = SparkShims.column(
      dataConj.map(RewriteSupport.rebindByName(_)).reduce(And))
    val readSchema = graft.sources.GraftPkScan.asNullable(info.dataSchema)
    val paths = candidates.map(_.resolvedPath(path))
    val raw = spark.read.schema(readSchema).parquet(paths: _*)
    val needsRange = dataConj.exists(c =>
      RewriteSupport.referencedNames(c).exists(info.rangeColumns.contains))
    // relational FsMetaStore.stripScheme (file:///a → /a, file:/a → /a,
    // other schemes untouched) + URL-decode — `_metadata.file_path` is a
    // URL-ENCODED URI, while every driver-side key below is the manifest's
    // raw path: without the decode a partition value with a space
    // ("p=New%20York") would never match `byStripped`/`oldDv` and the
    // DELETE would crash or silently miss rows. `+` is protected first
    // (legal raw in a URI path; url_decode would form-decode it to a
    // space). All built-ins — the DV hot path stays codegen'd, no UDF.
    val withMeta = raw
      .withColumn("__gf_file",
        url_decode(regexp_replace(
          regexp_replace(col("_metadata.file_path"), "^file:/+", "/"),
          "\\+", "%2B")))
      .withColumn("__gf_idx", col("_metadata.row_index"))
    val joined =
      if (!needsRange) withMeta
      else {
        // mixed conjuncts reference partition columns the raw files lack:
        // attach each file's partition values via a broadcast join
        val pschema = info.rangePartitionSchema
        import scala.jdk.CollectionConverters._
        // values attach as strings then cast: partition values live as
        // strings in the manifest
        val strRows = candidates.map { f =>
          org.apache.spark.sql.Row.fromSeq(
            RewriteSupport.stripScheme(f.resolvedPath(path)) +:
              pschema.fields.toSeq.map(sf =>
                f.partitionValues.getOrElse(sf.name, null)))
        }
        val schema = org.apache.spark.sql.types.StructType(
          org.apache.spark.sql.types.StructField("__gf_file2",
            org.apache.spark.sql.types.StringType) +:
            pschema.fields.map(sf => org.apache.spark.sql.types.StructField(
              s"__gf_str_${sf.name}", org.apache.spark.sql.types.StringType)))
        val pvDf = spark.createDataFrame(strRows.asJava, schema)
        val typed = pschema.fields.foldLeft(pvDf) { (d, sf) =>
          d.withColumn(sf.name, col(s"__gf_str_${sf.name}").cast(sf.dataType))
            .drop(s"__gf_str_${sf.name}")
        }
        withMeta.join(broadcast(typed),
          withMeta("__gf_file") === typed("__gf_file2"), "left")
          .drop("__gf_file2")
      }
    import spark.implicits._
    val matched = joined.filter(dataCond)
      .select(col("__gf_file"), col("__gf_idx"))
      .as[(String, Long)]

    // ---- build + write vectors executor-side -------------------------
    val oldDv = candidates.iterator.filter(_.hasDv).map(f =>
      RewriteSupport.stripScheme(f.resolvedPath(path)) -> f.dvPath).toMap
    val hconf = GraftFs.broadcastConf(spark)
    val results: Array[(String, String, Long)] = matched
      .groupByKey(_._1)
      .mapGroups { (file, it) =>
        val bm = new Roaring64Bitmap()
        it.foreach(t => bm.addLong(t._2))
        oldDv.get(file).foreach(rel =>
          bm.or(DeletionVectors.read(path, hconf.value.value, rel)))
        val rel = DeletionVectors.write(path, hconf.value.value, bm)
        (file, rel, bm.getLongCardinality)
      }
      .collect()
    if (results.isEmpty) return None // predicate matched no rows

    // ---- per-file decision: DV, rewrite, or drop ---------------------
    val maxFrac = spark.conf.getOption(MAX_FRACTION_CONF).map(_.toDouble)
      .getOrElse(DEFAULT_MAX_FRACTION)
    val byStripped = candidates.map(f =>
      RewriteSupport.stripScheme(f.resolvedPath(path)) -> f).toMap
    val dvAdds = Seq.newBuilder[DataFileInfo]
    val toRewrite = Seq.newBuilder[DataFileInfo]
    val fullyGone = Seq.newBuilder[DataFileInfo]
    results.foreach { case (file, rel, card) =>
      val f = byStripped(file)
      if (f.numRecords >= 0L && card >= f.numRecords) fullyGone += f
      else if (f.numRecords > 0L && card.toDouble / f.numRecords > maxFrac)
        toRewrite += f
      else dvAdds += f.copy(dvPath = rel, dvCardinality = card)
    }
    Some(VectorPlan(dvAdds.result(), toRewrite.result(), fullyGone.result()))
  }

  /** Candidate files after partition pruning. */
  def pruneCandidates(
      spark: SparkSession, snapshot: Snapshot,
      partConj: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[DataFileInfo] =
    if (partConj.isEmpty) snapshot.files
    else PartitionFilter.filterFiles(spark, snapshot,
      partConj.map(RewriteSupport.rebindByName(_)))
}

/** Cheap DELETE strategies that avoid rewriting data files (reference
  * deletes always rewrite, `star/commands/DeleteCommand.scala:69-147`;
  * both strategies here are engine extensions following Delta's published
  * partition-delete and deletion-vector designs):
  *
  *   1. **Metadata-only partition delete** (any table): a predicate over
  *      range-partition columns only removes whole files from the manifest —
  *      zero data I/O at ANY scale.
  *   2. **Deletion vectors** (non-PK tables): see [[DvSupport]]. The commit
  *      re-adds each touched data file with its new `dvPath`; scans mask
  *      the rows below the query ([[graft.sources.DvMaskedBatch]]) and
  *      compaction purges vectors.
  */
object DvDelete {

  /** Attempt a rewrite-free delete; false = caller falls back to the
    * rewrite engine. */
  def tryRun(spark: SparkSession, tablePath: String, condition: Column): Boolean = {
    val path = SnapshotManagement.normalize(tablePath)
    SnapshotManagement.withRewriteTransaction(path) { txn =>
      tryRunIn(spark, path, condition, txn)
    }
  }

  /** Ladder step inside an already-open transaction (shares the pinned
    * snapshot + partition-filter work with the rewrite fallback). */
  def tryRunIn(
      spark: SparkSession, path: String, condition: Column,
      txn: graft.meta.Transaction): Boolean = {
    {
      val snapshot = txn.snapshotOpt.getOrElse(
        throw new GraftTableNotFoundException(path))
      val info = snapshot.tableInfo
      val (partConj, dataConj0) = DvSupport.splitByPartition(info, condition)
      // a literal-true conjunct (DELETE with no WHERE, `expr("true")`)
      // matches everything: dropping it turns a truncate into pure metadata
      val dataConj = dataConj0.filterNot {
        case org.apache.spark.sql.catalyst.expressions.Literal(true, _) => true
        case _ => false
      }
      val candidates = DvSupport.pruneCandidates(spark, snapshot, partConj)
      if (candidates.isEmpty) return true // nothing matches — done

      if (dataConj.isEmpty) {
        // partition-only predicate: every row of every candidate file
        // matches (partition values are per-file constants and the filter
        // evaluated them exactly) — delete is pure metadata
        txn.commit("delete", None, Nil, candidates)
        return true
      }
      if (info.hasPrimaryKey || !DvSupport.dvEnabled(spark, info)) return false

      val plan = DvSupport.buildVectors(spark, path, info, candidates, dataConj)
        .getOrElse(return true) // predicate matched no rows
      val rewritten =
        if (plan.toRewrite.isEmpty) Nil
        else {
          // read masked by the files' OLD vectors (pinned snapshot carries
          // them), keep the survivors
          val df = GraftTableFiles.read(spark, path, snapshot, plan.toRewrite)
            .filter(!coalesce(condition, lit(false)))
          graft.write.TransactionalWrite.writeFiles(spark, path, info, df,
            isBase = true)
        }
      // a DV "delete" never removes the re-added files: replay replaces by
      // path, and a same-commit remove would win over the add
      txn.commit("delete", None,
        addFiles = rewritten ++ plan.dvAdds,
        removeFiles = plan.toRewrite ++ plan.fullyGone,
        rewriteGuard = true)
      true
    }
  }
}

/** Rewrite-free DELETE for PRIMARY-KEY tables via row-level TOMBSTONES
  * (see [[graft.meta.Tombstones]]): the matching keys are appended as a
  * delta file whose rows carry only (range, pk, `__graft_deleted=true`);
  * the k-way merge reader resolves the marker as "this key's history is
  * reset", so the key disappears without rewriting ANY bucket. Write cost
  * is proportional to the keys deleted — at 100 TB a one-key DELETE
  * commits one tiny delta file where the rewrite path would rewrite every
  * candidate bucket. Compaction merges the partition's full stack, so
  * resolved markers leave the physical layout on the normal maintenance
  * cadence (the same contract delta upserts already rely on).
  *
  * The reference always rewrites (`star/commands/DeleteCommand.scala:
  * 69-147`); this is an engine extension following Delta's published
  * merge-on-read DELETE design, expressed through the existing delta-file
  * machinery rather than a new file kind.
  */
object PkTombstoneDelete {

  val ENABLED_CONF = "spark.graft.delete.tombstone.enabled"

  /** Ladder step inside an already-open transaction: PK tables only, data
    * predicates only (partition-only deletes are already pure metadata).
    * Returns false to fall back to the rewrite engine. */
  def tryRunIn(
      spark: SparkSession, path: String, condition: Column,
      txn: graft.meta.Transaction): Boolean = {
    val snapshot = txn.snapshotOpt.getOrElse(
      throw new GraftTableNotFoundException(path))
    val info = snapshot.tableInfo
    if (!info.hasPrimaryKey) return false
    if (!spark.conf.getOption(ENABLED_CONF).forall(_.toBoolean)) return false
    val (partConj, dataConj) = DvSupport.splitByPartition(info, condition)
    if (dataConj.isEmpty) return false // metadata-only step already handled
    val candidates = DvSupport.pruneCandidates(spark, snapshot, partConj)
    if (candidates.isEmpty) return true // nothing matches — done

    // the MERGED pinned view decides which keys die (a key's visible row
    // may combine several delta files; deciding on raw files would delete
    // keys whose merged value no longer matches)
    val keyCols = (info.rangeColumns ++ info.hashColumns).map(c => col(s"`$c`"))
    val markers = GraftTableFiles.read(spark, path, snapshot, candidates)
      .filter(coalesce(condition, lit(false)))
      .select(keyCols :+ lit(true).as(graft.meta.Tombstones.COL): _*)
    val files = graft.write.TransactionalWrite.writeFiles(
      spark, path, info, markers, isBase = false)
    // rewriteGuard even though this is adds-only: the markers were decided
    // on the PINNED merged view, so a concurrent upsert of a matching key
    // landing after the pin would be silently killed by our newer-version
    // marker even if its fresh value no longer matches the predicate — a
    // lost update. The guard turns that into a conflict; the ladder's
    // withRewriteTransaction restarts and re-decides on a fresh snapshot.
    if (files.nonEmpty)
      txn.commit("delete", None, files, Nil, rewriteGuard = true)
    true
  }
}

/** UPDATE via deletion vectors (non-PK tables): matched rows are masked
  * out of their files by a new vector and their UPDATED images appended as
  * fresh files — write cost proportional to the rows changed, not the
  * files touched. Files past the deleted-fraction threshold take the
  * classic CASE-WHEN rewrite instead (their updated rows stay inline, so
  * nothing is appended for them). The appended images are computed from
  * the MASKED pinned read — rows already dead under an older vector can
  * never resurrect as updates.
  */
object DvUpdate {

  def tryRun(
      spark: SparkSession, tablePath: String, condition: Column,
      setExprs: Map[String, Column]): Boolean = {
    val path = SnapshotManagement.normalize(tablePath)
    SnapshotManagement.withRewriteTransaction(path) { txn =>
      tryRunIn(spark, path, condition, setExprs, txn)
    }
  }

  /** Ladder step inside an already-open transaction. */
  def tryRunIn(
      spark: SparkSession, path: String, condition: Column,
      setExprs: Map[String, Column], txn: graft.meta.Transaction): Boolean = {
    {
      val snapshot = txn.snapshotOpt.getOrElse(
        throw new GraftTableNotFoundException(path))
      val info = snapshot.tableInfo
      if (info.hasPrimaryKey || !DvSupport.dvEnabled(spark, info)) return false
      val (partConj, dataConj) = DvSupport.splitByPartition(info, condition)
      if (dataConj.isEmpty) return false // partition-only: every row
        // changes value — a straight rewrite beats mask-all + append-all
      val candidates = DvSupport.pruneCandidates(spark, snapshot, partConj)
      if (candidates.isEmpty) return true // nothing matches — done

      val plan0 = DvSupport.buildVectors(spark, path, info, candidates, dataConj)
        .getOrElse(return true) // predicate matched no rows
      // an update has no "fully gone" outcome — a file whose every row
      // changed still holds every (updated) row: rewrite it
      val rewriteSet = plan0.toRewrite ++ plan0.fullyGone
      val dvAddPaths = plan0.dvAdds.map(_.path).toSet
      val dvSources = candidates.filter(f => dvAddPaths.contains(f.path))

      val appended =
        if (dvSources.isEmpty) Nil
        else {
          // updated images of the masked-out rows, read MASKED by the old
          // vectors so previously-deleted rows cannot resurrect
          val live = GraftTableFiles.read(spark, path, snapshot, dvSources)
            .filter(coalesce(condition, lit(false)))
          val updated = UpdateCommand.applySet(setExprs)(live, condition)
          graft.write.TransactionalWrite.writeFiles(spark, path, info,
            updated, isBase = true)
        }
      val rewritten =
        if (rewriteSet.isEmpty) Nil
        else {
          val df = GraftTableFiles.read(spark, path, snapshot, rewriteSet)
          val updated = UpdateCommand.applySet(setExprs)(df, condition)
          graft.write.TransactionalWrite.writeFiles(spark, path, info,
            updated, isBase = true)
        }
      txn.commit("update", None,
        addFiles = plan0.dvAdds ++ appended ++ rewritten,
        removeFiles = rewriteSet,
        rewriteGuard = true)
      true
    }
  }
}
