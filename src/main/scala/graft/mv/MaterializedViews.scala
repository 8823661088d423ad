package graft.mv

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Command, DeleteFromTable, Filter, Join, LogicalPlan, MergeIntoTable, Project, SubqueryAlias, UpdateTable, V2WriteCommand}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.classic.ClassicConversions.castToImpl

import graft.meta.{MaterialViewInfo, SnapshotManagement}
import graft.sources.GraftRead

/** Materialized views with staleness tracking and automatic query rewrite
  * (reference `commands/CreateMaterialViewCommand.scala`,
  * `UpdateMaterialViewCommand.scala`, `rules/RewriteQueryByMaterialView.scala`).
  *
  * A view is a graft table plus `_graft_mv.json` holding the SQL text and
  * the pinned `(tablePath -> version)` of every graft relation it read.
  * The rewrite rule substitutes a query's plan with a scan of the view when
  * the view is fresh and either
  *   - the subtree's canonicalized plan equals the view's plan, or
  *   - the subtree is a single-table select-project whose filter is
  *     CONTAINED in the view's filter (range + equality implication, the
  *     core of the reference's `RewriteQueryByMaterialView.scala:125-178` +
  *     `material_view/RangeInfo.scala:149-312`): the query then re-applies
  *     its own predicate over the view scan as the compensating filter —
  *     always sound because the view's rows are a superset.
  */
object MaterializedViews {
  implicit private val formats: Formats = DefaultFormats

  /** Session conf listing the registered MV table paths. */
  val CONF_KEY = "spark.graft.materializedViews"

  /** TEST hook: when this conf is "true", the per-group recompute frame of
    * the last incremental refresh is captured so suites can assert its
    * PLAN (e.g. that the touched-group isin filters pruned the base scan
    * to the touched partitions). Off by default — zero production cost. */
  private[graft] val CAPTURE_RECOMPUTE_KEY =
    "spark.graft.mv.captureRecomputePlan"
  @volatile private[graft] var lastRecomputeFrame
      : Option[org.apache.spark.sql.DataFrame] = None

  private def mvMetaPath(viewPath: String) =
    Paths.get(SnapshotManagement.normalize(viewPath), "_graft_mv.json")

  /** Meta sidecar write via temp + atomic rename (same contract as
    * SyncSidecar.write): a crash mid-write must leave either the old meta
    * or the new one, never torn JSON that poisons every probe/refresh. */
  private def writeInfo(viewPath: String, info: MaterialViewInfo): Unit = {
    val target = mvMetaPath(viewPath)
    val tmp = Files.createTempFile(target.getParent, "._graft_mv", ".tmp")
    Files.write(tmp, Serialization.write(info).getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, target,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  def create(spark: SparkSession, viewPath: String, sqlText: String,
      options: Map[String, String] = Map.empty): Unit = {
    // analyze WITHOUT the rewrite rule: if another registered view contained
    // this query, the rewritten plan would record a dependency on that VIEW
    // instead of the base tables — and this view would then never go stale
    // when the base advances (silent stale serving)
    val (df, relations) = pinnedViewFrame(spark, sqlText)
    options.get("hashPartitions").foreach(hp =>
      assertKeyUnique(df, hp.split(",").map(_.trim).filter(_.nonEmpty).toSeq,
        s"createMaterialView($viewPath)"))
    val beforeV = SnapshotManagement.store
      .latestVersion(SnapshotManagement.normalize(viewPath))
    RewriteQueryByMaterialView.withoutRewrite {
      val w = df.write.format("graft").mode("overwrite")
      options.foreach { case (k, v) => w.option(k, v) }
      w.save(viewPath)
    }
    val info = MaterialViewInfo(viewPath, sqlText, relations,
      viewTableVersion = pinIfOwn(viewPath, beforeV))
    writeInfo(viewPath, info)
    invalidateProbeCaches(viewPath)
    register(spark, viewPath)
  }

  /** Recompute iff any relation table advanced (reference
    * `UpdateMaterialViewCommand.scala:30-76`). Single-table aggregate
    * views refresh INCREMENTALLY from the change feed when eligible (see
    * [[tryIncrementalRefresh]]) — cost ∝ changed data, not base size. */
  def refresh(spark: SparkSession, viewPath: String): Boolean = {
    readInfo(viewPath) match {
      case Some(info) if isStale(info) =>
        if (spark.conf.getOption(INCREMENTAL_KEY).forall(_.toBoolean) &&
            tryIncrementalRefresh(spark, viewPath, info)) return true
        val (df, relations) = pinnedViewFrame(spark, info.sqlText)
        // the overwrite inherits the existing view table's layout, so a
        // PK-layout view re-checks key uniqueness on every rebuild — the
        // base tables may have grown duplicates since create
        SnapshotManagement.snapshotOpt(SnapshotManagement.normalize(viewPath))
          .map(_.tableInfo).filter(_.hasPrimaryKey).foreach(ti =>
            assertKeyUnique(df, ti.hashColumns, s"refresh($viewPath)"))
        val beforeV = SnapshotManagement.store
          .latestVersion(SnapshotManagement.normalize(viewPath))
        RewriteQueryByMaterialView.withoutRewrite {
          df.write.format("graft").mode("overwrite").save(viewPath)
        }
        writeInfo(viewPath, info.copy(relationVersions = relations,
          viewTableVersion = pinIfOwn(viewPath, beforeV)))
        invalidateProbeCaches(viewPath)
        true
      case _ => false
    }
  }

  /** The view table's latest version, pinned only when it is provably the
    * version OUR write just committed (exactly one commit past `beforeV`).
    * A stray concurrent commit leaves the pin EMPTY, so the next refresh
    * takes the idempotent full recompute instead of folding a delta onto
    * state the meta never described. */
  private def pinIfOwn(viewPath: String, beforeV: Long): Option[Long] = {
    val after = SnapshotManagement.store
      .latestVersion(SnapshotManagement.normalize(viewPath))
    if (after == beforeV + 1) Some(after) else None
  }

  /** Conf gate for incremental refresh (default on; full recompute is the
    * universal fallback either way). */
  val INCREMENTAL_KEY = "spark.graft.mv.incremental.enabled"

  /** Incremental refreshes applied this process (test observability). */
  private[graft] val incrementalRefreshes =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Incremental view maintenance: fold the changed base table's
    * change-feed window into the stored aggregates instead of rescanning
    * the base. Applies when ALL of:
    *
    *  - the view is a filter + GROUP BY aggregate over one graft table OR
    *    an inner equi-join tree of graft tables (self-joins included —
    *    the expansion is per OCCURRENCE). ANY subset of the relations may
    *    have changed since the last refresh: each changed occurrence
    *    folds in sequence — its delta joined against earlier occurrences
    *    at their NEW versions and later ones at their OLD pinned versions
    *    — which telescopes to the exact multi-relation delta by multiset
    *    linearity (the ΔA ⋈ ΔB cross term lands in the later fold's
    *    NEW-pinned side). Every group expression must
    *    surface as an output column (the join key back into the stored
    *    state) and every aggregate is `COUNT`/`SUM` — FILTER variants
    *    fold via guarded arguments, `MIN`/`MAX`/`AVG` fold under the
    *    conditions below, and `COUNT(DISTINCT)`/`SUM(DISTINCT)` columns
    *    recompute per CHANGED GROUP from a group-pruned base scan while
    *    the additive columns fold;
    *  - some output column is a row count (`COUNT(*)` or `COUNT` of a
    *    non-nullable argument) — group lifecycle (a group's row count
    *    reaching zero deletes its row) is undecidable without one;
    *  - each `SUM(e)` is over an exact type (integral/decimal — a double
    *    sum would accumulate float error across refreshes and drift from
    *    the recompute), and, when `e` is nullable, some output column is
    *    `COUNT(e)` (the combined sum must return to NULL when the last
    *    non-null contributor is deleted);
    *  - `AVG(e)` folds through companion `SUM(e)` + `COUNT(e)` output
    *    columns (integral `e`): the stored avg value already carries its
    *    division's rounding and cannot reconstruct the exact sum; the
    *    companions re-derive it exactly (bit-identical to a recompute
    *    below 2^53 group sums, at-least-as-accurate above — Average's own
    *    integral accumulator is a double). Companion-less, filtered or
    *    decimal `AVG` recomputes per CHANGED GROUP like DISTINCT columns;
    *    fp `AVG`/`SUM` stay ineligible (accumulation-order-dependent);
    *  - the window's commits all yield row-level pre/post images in the
    *    feed: raw-image delta upserts (the canonical CDC ingest) DO —
    *    the feed runs with `resolveUpserts`, diffing the touched buckets'
    *    merged state — while `alter` (schema change) falls back. Checked
    *    from commit METADATA only — the fallback decision costs zero
    *    data I/O.
    *
    * The delta is `changes(lastVersion+1, current)` with weight +1 for
    * insert/update_postimage and -1 for delete/update_preimage, joined
    * against any pinned relations, pushed through the view's own filter
    * and group/aggregate expressions (re-bound onto the feed and pinned
    * frames), then full-outer-joined with the stored view state: counts
    * add, sums add, groups whose row count reaches 0 drop out. At 100 TB
    * this turns an O(base) nightly rebuild into an O(changed rows ⋈
    * pinned) fold. */
  private def tryIncrementalRefresh(
      spark: SparkSession, viewPath: String,
      info: MaterialViewInfo): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Expression, NamedExpression}
    import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min, Sum}
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graft.SparkShims
    import org.apache.spark.sql.types.{DecimalType, DoubleType, FloatType}
    import graft.tables.ChangeFeed
    val RQ = RewriteQueryByMaterialView

    if (info.relationVersions.isEmpty) return false
    // idempotence pin: the stored state must be EXACTLY the one this
    // meta file describes — a crash between a previous refresh's table
    // write and its meta write leaves them out of step, and folding the
    // same delta into an already-folded state double-counts. Mismatch
    // (or a legacy meta without the pin) → idempotent full recompute.
    val normView = SnapshotManagement.normalize(viewPath)
    if (!info.viewTableVersion.contains(
      SnapshotManagement.store.latestVersion(normView))) return false
    // multi-relation views fold for ANY subset of changed relations via
    // SEQUENTIAL single-relation folds. Multiset linearity of the inner
    // join gives, for A and B both changing,
    //   A_new ⋈ B_new − A_old ⋈ B_old = ΔA ⋈ B_old + A_new ⋈ ΔB
    // (expand (A_old+ΔA) ⋈ (B_old+ΔB): the ΔA ⋈ ΔB cross term is exactly
    // what the second fold's NEW-pinned side absorbs). Generalized to n
    // changed relations: fold Δᵢ against every EARLIER-changed relation
    // pinned at its NEW version and every later/unchanged one at its OLD
    // pinned version — each fold is the same O(changed ⋈ pinned) shape.
    val normBy: Map[String, (String, Long)] = info.relationVersions.map {
      case (p, v) => SnapshotManagement.normalize(p) -> (p, v) }
    if (normBy.size != info.relationVersions.size) return false
    val snapsNow = normBy.keys.map { np =>
      np -> SnapshotManagement.snapshotOpt(np).getOrElse(return false)
    }.toMap
    // a pinned version AHEAD of the table's current one means the history
    // was rewound (restore/recreate) — only the full recompute heals that
    if (normBy.exists { case (np, (_, v)) => snapsNow(np).version < v })
      return false
    val changedPaths = normBy.keys.toSeq
      .filter(np => snapsNow(np).version > normBy(np)._2)
    if (changedPaths.isEmpty) return false
    // metadata-only window precheck, per changed relation: every commit
    // must yield row-level pre/post images in the feed.
    val store = SnapshotManagement.store
    // ONE short-circuiting metadata pass decides both verdicts: a
    // disqualifying commit (alter, raw-image delta) returns immediately —
    // a 10k-commit backlog must not read 10k commit files just to learn
    // the first one already forces the full recompute. `appendOnly` =
    // every commit in EVERY changed relation's window either yields pure
    // INSERT feed rows (insert-only type cross-checked against the
    // removes/tombstone evidence — a mislabeled commit must degrade to the
    // safe fallback, never to a wrong fold) or is a REWRITE that yields no
    // feed rows at all (compaction / rebucket / vacuum — routine
    // maintenance must not defeat the MIN/MAX fold). This is what makes MIN/MAX foldable below:
    // an extreme can only be EXTENDED by inserts, never retracted.
    var appendOnly = true
    changedPaths.foreach { cnorm =>
      var wv = normBy(cnorm)._2 + 1
      while (wv <= snapsNow(cnorm).version) {
        val entries = store.read(cnorm, wv)
        val ct = entries.flatMap(_.commit).headOption
          .map(_.commitType).getOrElse("append")
        val adds = graft.meta.DataFileInfo.stampedAdds(entries, wv)
        val hasTomb = graft.meta.Tombstones.anyHas(adds)
        if (ct == "alter") return false // may retype columns mid-window
        // raw-image delta (the canonical CDC upsert) IS foldable: the feed
        // below runs with resolveUpserts = true, which diffs the touched
        // buckets' merged state to recover per-key pre-images. It still
        // counts as NOT insert-only (an overwrite can retract a stored
        // extreme), so MIN/MAX folding stays disabled over such windows.
        val insertOnly =
          graft.sources.GraftMicroBatchStream.INSERT_ONLY_TYPES.contains(ct) &&
          entries.forall(_.remove.isEmpty) && !hasTomb
        val rewriteNoRows =
          graft.sources.GraftMicroBatchStream.REWRITE_TYPES.contains(ct)
        if (!insertOnly && !rewriteNoRows) appendOnly = false
        wv += 1
      }
    }

    val viewDf = RQ.withoutRewrite { spark.sql(info.sqlText) }
    val plan = org.apache.spark.sql.classic.ClassicConversions
      .castToImpl(viewDf).queryExecution.analyzed
    val dec = RQ.decomposeAgg(plan).getOrElse(return false)
    val (rels, joinConjs) = dec.source match {
      case RQ.RelSource(rel) => (Seq(rel), Seq.empty[Expression])
      case RQ.JoinSource(rs, js) => (rs, js)
    }
    val relPaths = rels.map(r => RQ.graftPath(r)
      .map(SnapshotManagement.normalize).getOrElse(return false))
    // self-joins fold too: the telescoping expansion below is over
    // OCCURRENCES, not tables — two occurrences of one table are two
    // arguments of the multilinear join product, changing simultaneously
    // with equal deltas (ΔA ⋈ A_old + A_new ⋈ ΔA telescopes exactly)
    if (relPaths.toSet != normBy.keySet) return false
    if (dec.groupExprs.exists(!_.deterministic) ||
      dec.conjuncts.exists(!_.deterministic) ||
      joinConjs.exists(!_.deterministic)) return false

    def strip(e: Expression): Expression = e match {
      case a: Alias => strip(a.child)
      case other => other
    }
    // classify output columns against the group/agg expressions
    sealed trait Kind
    case class KeyCol(groupIdx: Int) extends Kind
    case class CountCol(arg: Option[Expression]) extends Kind // None = count(*)
    case class SumCol(arg: Expression) extends Kind
    case class MinCol(arg: Expression) extends Kind // + per-group retraction
    case class MaxCol(arg: Expression) extends Kind // + per-group retraction
    case class AvgCol(arg: Expression) extends Kind // needs sum+count mates
    case class DistinctCol(arg: Expression, isSum: Boolean) extends Kind
    val cols: Seq[(String, Kind, org.apache.spark.sql.types.DataType)] =
      dec.aggList.map { ne: NamedExpression =>
        val kind = strip(ne) match {
          case ae: AggregateExpression
              if ae.filter.exists(!_.deterministic) => return false
          // DISTINCT aggregates cannot fold from a stored scalar (whether
          // an inserted value is already present, or a retracted one was
          // the last copy, is unknowable without the group's value set) —
          // but they don't forfeit the window either: every group the
          // delta touches recomputes its DISTINCT columns from the
          // group-pruned pinned base scan below, while the additive
          // columns fold as usual. Refresh cost is ∝ the CHANGED groups'
          // base rows, not view or base size. The recompute is Spark's
          // own aggregate over base rows, so fp args are exact here (no
          // cross-refresh accumulation to drift).
          case AggregateExpression(Count(args), _, true, filterOpt, _)
              if args.size == 1 && args.head.deterministic =>
            DistinctCol(filterOpt match {
              case Some(f) =>
                If(f, args.head, Literal.create(null, args.head.dataType))
              case None => args.head
            }, isSum = false)
          case AggregateExpression(Sum(e, _), _, true, filterOpt, _)
              if e.deterministic =>
            DistinctCol(filterOpt match {
              case Some(f) => If(f, e, Literal.create(null, e.dataType))
              case None => e
            }, isSum = true)
          case ae: AggregateExpression if ae.isDistinct => return false
          // FILTER (WHERE p) folds by GUARDING the argument: the fold
          // evaluates args over pre/post image rows, and an If-wrapped arg
          // contributes exactly the filtered rows — count/sum skip nulls
          // and min/max combine via null-skipping least/greatest. A
          // filtered count is nullable-by-construction, so it can never be
          // picked as the row-count lifecycle column; a filtered sum's
          // nullable arg routes it through the usual companion-count
          // guard, which then requires the SAME filter on the count. AVG
          // keeps its no-filter rule (its companions' filters would have
          // to match pairwise — recompute is the honest path).
          case AggregateExpression(Count(args), _, _, filterOpt, _) =>
            def guard(e: Expression): Expression = filterOpt match {
              case Some(f) => If(f, e, Literal.create(null, e.dataType))
              case None => e
            }
            if (args.forall(_.foldable)) filterOpt match {
              case None => CountCol(None)
              case Some(_) => CountCol(Some(guard(Literal(1))))
            }
            else if (args.size == 1 && args.head.deterministic)
              CountCol(Some(guard(args.head)))
            else return false
          case AggregateExpression(Sum(e, _), _, _, filterOpt, _) =>
            e.dataType match {
              case DoubleType | FloatType => return false // fp drift
              case _ if !e.deterministic => return false
              case _ => SumCol(filterOpt match {
                case Some(f) => If(f, e, Literal.create(null, e.dataType))
                case None => e
              })
            }
          // MIN/MAX fold exactly (selection, not accumulation — floats
          // are fine). Over insert-only windows an extreme can only be
          // EXTENDED — least/greatest of stored and inserted. Over windows
          // WITH retractions (raw-image upserts, deletes) the fold cannot
          // know the runner-up from the stored image alone, so it flags
          // the groups whose retracted values reach the stored extreme and
          // recomputes ONLY those from a group-pruned pinned base scan —
          // a single touched group no longer forfeits the whole window.
          case AggregateExpression(Min(e), _, _, filterOpt, _)
              if e.deterministic =>
            MinCol(filterOpt match {
              case Some(f) => If(f, e, Literal.create(null, e.dataType))
              case None => e
            })
          case AggregateExpression(Max(e), _, _, filterOpt, _)
              if e.deterministic =>
            MaxCol(filterOpt match {
              case Some(f) => If(f, e, Literal.create(null, e.dataType))
              case None => e
            })
          // AVG folds exactly via companion SUM + COUNT columns in the
          // view (validated below): the stored avg value alone cannot
          // reconstruct the exact sum (it already carries the division's
          // rounding), and folding through it would drift from the
          // recompute — the very thing the double-SUM bail above forbids.
          // Companion fold is integral-and-unfiltered only: it divides the
          // EXACT long sum by the count, which is at-least-as-accurate as
          // Spark's Average (whose integral accumulator is a double — for
          // group sums beyond 2^53 the recompute itself may be off in the
          // last ulp where the fold is exact; below 2^53 the two agree
          // bit-for-bit). Without companions — or filtered, or decimal —
          // the column rides the per-changed-group recompute overlay
          // (exact: Spark's own Average over the group's base rows, no
          // cross-refresh accumulation). Fp args stay ineligible: their
          // value is accumulation-order-dependent, so even a "correct"
          // group recompute would not reproduce the full recompute.
          case AggregateExpression(
              org.apache.spark.sql.catalyst.expressions.aggregate
                .Average(e, _), _, _, filterOpt, _)
              if e.deterministic && (e.dataType match {
                case org.apache.spark.sql.types.ByteType |
                  org.apache.spark.sql.types.ShortType |
                  org.apache.spark.sql.types.IntegerType |
                  org.apache.spark.sql.types.LongType => true
                case _: DecimalType => true
                case _ => false
              }) =>
            AvgCol(filterOpt match {
              case Some(f) => If(f, e, Literal.create(null, e.dataType))
              case None => e
            })
          case e =>
            val i = dec.groupExprs.indexWhere(_.semanticEquals(e))
            if (i < 0) return false
            KeyCol(i)
        }
        (ne.name, kind, ne.dataType)
      }
    // every group expression must surface as a key column, exactly once
    val keyIdx = cols.collect { case (_, KeyCol(i), _) => i }
    if (keyIdx.sorted != dec.groupExprs.indices.toSeq) return false
    // a row-count column decides group lifecycle
    val rowCountCol = cols.collectFirst {
      case (n, CountCol(None), _) => n
      case (n, CountCol(Some(e)), _) if !e.nullable => n
    }.getOrElse(return false)
    // nullable sums need a matching count(e) to restore NULL-ness
    val countByArg = cols.collect { case (n, CountCol(Some(e)), _) => (e, n) }
    val sumGuards: Map[String, String] = cols.collect {
      case (n, SumCol(e), _) if e.nullable =>
        n -> countByArg.collectFirst {
          case (ce, cn) if ce.semanticEquals(e) => cn
        }.getOrElse(return false)
    }.toMap
    // AVG companions: the exact sum and the matching denominator count
    // (guarded args compare by semanticEquals, so a FILTER avg pairs only
    // with SAME-filtered companions). A nullable arg REQUIRES count(arg)
    // (count(*) would count null contributions into the denominator); a
    // non-nullable arg may borrow count(*). Decimal avg never uses
    // companions — the fold's double division is not Average's decimal
    // division. None = the column rides the changed-group recompute.
    val avgComp: Map[String, Option[(String, String,
        org.apache.spark.sql.types.DataType)]] = cols.collect {
      case (n, AvgCol(e), _) =>
        n -> (if (e.dataType.isInstanceOf[DecimalType]) None
        else for {
          sp <- cols.collectFirst {
            case (sn2, SumCol(se), sdt2) if se.semanticEquals(e) =>
              (sn2, sdt2)
          }
          cn <- countByArg.collectFirst {
            case (ce, cn2) if ce.semanticEquals(e) => cn2
          }.orElse(if (!e.nullable) cols.collectFirst {
            case (cn2, CountCol(None), _) => cn2
          } else None)
        } yield (sp._1, cn, sp._2))
    }.toMap

    // a view expression referencing something absent from the feed frame
    // aborts eligibility from arbitrarily deep call positions
    val bail = new scala.util.control.ControlThrowable() {}
    try {

    def bq(n: String) = s"`${n.replace("`", "``")}`"
    val keyNames: Seq[String] = dec.groupExprs.indices.map(i =>
      cols.collectFirst { case (n, KeyCol(`i`), _) => n }.get)

    // ONE single-occurrence fold: the change window of occurrence
    // `changedIdx`'s table, weighted, joined against every other
    // occurrence's pinned snapshot. Re-bind the view's expressions onto
    // the replacement frames: the CHANGED occurrence's attributes map (by
    // case-resolver name) onto the feed frame, each PINNED occurrence's
    // onto a frame reading its pinned snapshot's files directly —
    // immutable files, so a commit racing this refresh cannot leak newer
    // pinned-side rows into the fold. Lookups key on the original
    // expression ids, so duplicate column names across occurrences (and
    // the two sides of a self-join) stay unambiguous. Occurrences BEFORE
    // the changed one in tree order pin at their NEW version, occurrences
    // after at the meta's OLD version — the telescoping split that makes
    // the sequential folds sum to the exact multi-occurrence delta (see
    // the linearity argument above).
    def foldDelta(changedIdx: Int): DataFrame = {
      val cnorm = relPaths(changedIdx)
      val fromV = normBy(cnorm)._2
      val toV = snapsNow(cnorm).version
      val changes = ChangeFeed.changes(spark, cnorm, fromV + 1, toV,
        resolveUpserts = true)
      val feedAttrs = org.apache.spark.sql.classic.ClassicConversions
        .castToImpl(changes).queryExecution.analyzed.output
      val changedRel = rels(changedIdx)
      val pinnedFrames: Seq[(org.apache.spark.sql.catalyst.plans.logical
          .LogicalPlan, DataFrame)] =
        rels.zipWithIndex.filter(_._2 != changedIdx).map { case (r, j) =>
          val np = relPaths(j)
          val s =
            if (snapsNow(np).version == normBy(np)._2 ||
              (changedPaths.contains(np) && j < changedIdx))
              snapsNow(np)
            else SnapshotManagement.snapshotAt(np, normBy(np)._2)
          (r, graft.sources.GraftRead.readFiles(spark, np, s, s.files))
        }
      val resolver = spark.sessionState.conf.resolver
      val attrMap: Map[org.apache.spark.sql.catalyst.expressions.ExprId,
          Expression] = {
        val pairs = scala.collection.mutable.ArrayBuffer
          .empty[(org.apache.spark.sql.catalyst.expressions.ExprId, Expression)]
        def link(out: Seq[org.apache.spark.sql.catalyst.expressions.Attribute],
            frameAttrs: Seq[org.apache.spark.sql.catalyst.expressions
              .Attribute]): Unit =
          out.foreach { a =>
            frameAttrs.find(fa => resolver(fa.name, a.name))
              .foreach(fa => pairs += (a.exprId -> fa))
          }
        link(changedRel.output, feedAttrs)
        pinnedFrames.foreach { case (r, df) =>
          link(r.output, org.apache.spark.sql.classic.ClassicConversions
            .castToImpl(df).queryExecution.analyzed.output)
        }
        pairs.toMap
      }
      def rebindCol(e: Expression): org.apache.spark.sql.Column = {
        var ok = true
        val out = e.transform {
          case a: AttributeReference =>
            attrMap.get(a.exprId) match {
              case Some(fa) => fa
              case None => ok = false; a
            }
        }
        if (!ok) throw bail
        SparkShims.column(out)
      }

      val weighted = changes.withColumn("__w",
        when(col(ChangeFeed.CHANGE_TYPE)
          .isin("insert", "update_postimage"), lit(1L))
          .when(col(ChangeFeed.CHANGE_TYPE)
            .isin("delete", "update_preimage"), lit(-1L))
          .otherwise(raise_error(concat(lit("incremental MV refresh: " +
            "unexpected change type "), col(ChangeFeed.CHANGE_TYPE)))
            .cast("long")))
      // Δ ⋈ pinned: chain the pinned frames onto the weighted feed and let
      // the equi-conjuncts (applied as filters) collapse the cross joins
      // into inner equi-joins in the optimizer — join order/shape is
      // Catalyst's call (broadcast for dimension-sized pinned sides, AQE
      // otherwise). Each feed row's ±weight rides through the fan-out, so a
      // pre-image joining m pinned rows retracts exactly m joined rows.
      val joinedSrc = pinnedFrames.map(_._2).foldLeft(weighted)(_ crossJoin _)
      val filtered = (dec.conjuncts ++ joinConjs).foldLeft(joinedSrc)((d, c) =>
        d.filter(rebindCol(c)))
      // extremes split by weight sign: __d_n = inserted-side extreme (the
      // extension candidate), __r_n (retraction windows only) = the
      // retracted-side extreme — a group's stored extreme was possibly
      // removed iff its __r_n reaches it. Over insert-only windows every
      // row has __w > 0, so the w>0 guard is the same plan as before.
      val deltaAggs: Seq[org.apache.spark.sql.Column] = cols.flatMap {
        case (n, CountCol(None), _) =>
          Seq(sum(col("__w")).as(s"__d_$n"))
        case (n, CountCol(Some(e)), _) =>
          Seq(sum(when(rebindCol(e).isNotNull, col("__w")).otherwise(lit(0L)))
            .as(s"__d_$n"))
        case (n, SumCol(e), _) =>
          Seq(sum(rebindCol(e) * col("__w")).as(s"__d_$n"))
        case (n, MinCol(e), _) =>
          min(when(col("__w") > 0, rebindCol(e))).as(s"__d_$n") +:
            (if (appendOnly) Nil
             else Seq(min(when(col("__w") < 0, rebindCol(e))).as(s"__r_$n")))
        case (n, MaxCol(e), _) =>
          max(when(col("__w") > 0, rebindCol(e))).as(s"__d_$n") +:
            (if (appendOnly) Nil
             else Seq(max(when(col("__w") < 0, rebindCol(e))).as(s"__r_$n")))
        case _ => Nil
      }
      filtered
        .groupBy(dec.groupExprs.zip(keyNames).map { case (g, n) =>
          rebindCol(g).as(n) }: _*)
        .agg(deltaAggs.head, deltaAggs.tail: _*)
    }

    // sequential folds in the view tree's occurrence order; combine the
    // per-fold group deltas with the aggregates' own combiners (counts and
    // sums ADD — sum skips a fold's null delta, matching the single-fold
    // image — extremes take least/greatest via min/max)
    val changedIdxs = rels.indices
      .filter(i => changedPaths.contains(relPaths(i)))
    val foldParts = changedIdxs.map(foldDelta)
    val deltaAgg =
      if (foldParts.size == 1) foldParts.head
      else {
        val combAggs: Seq[org.apache.spark.sql.Column] = cols.flatMap {
          case (n, CountCol(_) | SumCol(_), _) =>
            Seq(sum(col(s"`__d_$n`")).as(s"__d_$n"))
          case (n, MinCol(_), _) =>
            min(col(s"`__d_$n`")).as(s"__d_$n") +:
              (if (appendOnly) Nil
               else Seq(min(col(s"`__r_$n`")).as(s"__r_$n")))
          case (n, MaxCol(_), _) =>
            max(col(s"`__d_$n`")).as(s"__d_$n") +:
              (if (appendOnly) Nil
               else Seq(max(col(s"`__r_$n`")).as(s"__r_$n")))
          case _ => Nil
        }
        foldParts.reduce(_ unionByName _)
          .groupBy(keyNames.map(n => col(bq(n))): _*)
          .agg(combAggs.head, combAggs.tail: _*)
      }
    def comb(n: String, dt: org.apache.spark.sql.types.DataType)
        : org.apache.spark.sql.Column = {
      val z = lit(0).cast(dt match {
        case d: DecimalType => d
        case _ => org.apache.spark.sql.types.LongType
      })
      coalesce(col(s"__mo.${bq(n)}"), z) + coalesce(col(s"__md.`__d_$n`"), z)
    }

    // ---- per-group MIN/MAX retraction (windows with overwrites) ----
    // The candidate extreme is least/greatest(stored, inserted-side); if no
    // retracted value reaches the CANDIDATE, the candidate's element
    // provably survives the window (everything retracted sits strictly
    // inside it) and the fold is exact. If one does, the runner-up is
    // unknowable from the stored image and THAT GROUP recomputes from the
    // pinned base. Comparing against the candidate — not the stored image
    // alone — matters in both directions: a group CREATED this window has
    // no stored image yet its inserted rows can be retracted by a later
    // commit in the same window (insert-then-delete), and a retraction
    // that reaches the stored extreme but not a deeper inserted one leaves
    // the fold exact with no recompute. `touched` stays conservative under
    // duplicates (retracting one of two copies of the extreme flags the
    // group although the extreme survives) — a recompute is never wrong,
    // only unnecessary.
    val extremeCols = cols.collect {
      case (n, MinCol(e), _) => (n, e, true)
      case (n, MaxCol(e), _) => (n, e, false)
    }
    val distinctCols = cols.collect {
      case (n, DistinctCol(e, isSum), _) => (n, e, isSum)
    }
    // companion-less (or filtered, or decimal) AVG columns: recomputed per
    // changed group, exactly like DISTINCT columns
    val avgRcCols = cols.collect {
      case (n, AvgCol(e), _) if avgComp(n).isEmpty => (n, e)
    }
    val retractions = !appendOnly && extremeCols.nonEmpty
    val rcOnly = distinctCols.nonEmpty || avgRcCols.nonEmpty
    val needsOverlay = retractions || rcOnly
    // a group the delta touched at all — its DISTINCT/AVG-recompute
    // columns always recompute (even an insert-only window may add an
    // already-present value / shift an average); non-null because the
    // row-count delta sums non-null ±weights
    val changedGroup: org.apache.spark.sql.Column =
      col(s"__md.`__d_$rowCountCol`").isNotNull
    val groupTouched: org.apache.spark.sql.Column = (extremeCols.map {
      case (n, _, isMin) =>
        val r = col(s"__md.`__r_$n`")
        val stored = col(s"__mo.${bq(n)}")
        val ins = col(s"__md.`__d_$n`")
        val cand = if (isMin) least(stored, ins) else greatest(stored, ins)
        coalesce(if (isMin) r <= cand else r >= cand, lit(false))
    }.filter(_ => retractions) ++
      (if (rcOnly) Seq(changedGroup) else Nil))
      .reduceOption(_ || _).getOrElse(lit(false))
    // group key as visible on the stored ⋈ delta join, either join order
    def joinedKey(n: String) =
      coalesce(col(s"__mo.${bq(n)}"), col(s"__md.${bq(n)}"))

    val rcAggs: Seq[org.apache.spark.sql.Column] =
      extremeCols.map { case (n, _, isMin) =>
        (if (isMin) min(col(s"`__arg_$n`"))
         else max(col(s"`__arg_$n`"))).as(s"__rc_$n")
      } ++ distinctCols.map { case (n, _, isSum) =>
        (if (isSum) sum_distinct(col(s"`__arg_$n`"))
         else count_distinct(col(s"`__arg_$n`"))).as(s"__rc_$n")
      } ++ avgRcCols.map { case (n, _) =>
        avg(col(s"`__arg_$n`")).as(s"__rc_$n")
      }

    /** Extremes of the touched groups, recomputed from every relation
      * PINNED at its new version (immutable file lists — a racing commit
      * cannot leak rows past the versions the meta update records). The
      * semi join prunes BEFORE the aggregate, so the small touched set
      * broadcasts and runtime-filters the base scan. */
    def recomputeExtremes(touchedKeys: DataFrame): DataFrame = {
      val frames = rels.zip(relPaths).map { case (r, np) =>
        val s = snapsNow(np)
        (r, graft.sources.GraftRead.readFiles(spark, np, s, s.files))
      }
      val resolver = spark.sessionState.conf.resolver
      val pairs = scala.collection.mutable.ArrayBuffer
        .empty[(org.apache.spark.sql.catalyst.expressions.ExprId, Expression)]
      frames.foreach { case (r, df) =>
        val fa = org.apache.spark.sql.classic.ClassicConversions
          .castToImpl(df).queryExecution.analyzed.output
        r.output.foreach { a =>
          fa.find(f => resolver(f.name, a.name)).foreach(f =>
            pairs += (a.exprId -> f))
        }
      }
      val amap = pairs.toMap
      def rc(e: Expression): org.apache.spark.sql.Column = {
        var ok = true
        val out = e.transform {
          case a: AttributeReference => amap.get(a.exprId) match {
            case Some(f) => f
            case None => ok = false; a
          }
        }
        if (!ok) throw bail
        SparkShims.column(out)
      }
      val src = frames.map(_._2).reduceLeft(_ crossJoin _)
      val filtered = (dec.conjuncts ++ joinConjs).foldLeft(src)((d, c) =>
        d.filter(rc(c)))
      val keyed = filtered.select(
        dec.groupExprs.zip(keyNames).map { case (g, n) => rc(g).as(n) } ++
          extremeCols.map { case (n, e, _) => rc(e).as(s"__arg_$n") } ++
          distinctCols.map { case (n, e, _) => rc(e).as(s"__arg_$n") } ++
          avgRcCols.map { case (n, e) => rc(e).as(s"__arg_$n") }: _*)
      // group restriction, spelled by touched-set size (the same
      // bounded-collect contract as AnnIndex's probe-cell literals):
      //  - small SINGLE-key sets become literal isin/isNull filters that
      //    push INTO the base scan (partition + rowgroup pruning at plan
      //    time — a semi join only filters after the scan has read), and
      //    the isin IS exact — no join needed at all;
      //  - small MULTI-key sets push a CONJUNCTION of per-key isin
      //    filters (the cartesian SUPERSET of the touched combinations —
      //    still plan-time pruning on every key) with the exact
      //    null-safe semi join behind it, against a LOCAL relation of
      //    the already-collected keys (free to broadcast, no recompute);
      //  - larger sets keep the plain null-safe semi join (the bounded
      //    probe collect is then one extra ≤10001-row job — accepted: the
      //    recompute aggregate it precedes dominates at that size);
      //  - keys whose TYPE cannot literalize (struct/map/array group
      //    keys) contribute no isin conjunct — the semi join behind the
      //    remaining conjuncts keeps exactness, and an all-unliterable
      //    key set degrades to the plain semi join (the pre-r13 path).
      val cap = 10000
      val rows = touchedKeys.limit(cap + 1).collect()
      def semiJoin(src: DataFrame, keys: DataFrame): DataFrame =
        src.alias("__kd")
          .join(keys.alias("__tk"),
            keyNames.map(k =>
              col(s"__kd.${bq(k)}") <=> col(s"__tk.${bq(k)}")).reduce(_ && _),
            "left_semi")
      def literable(i: Int): Boolean =
        touchedKeys.schema(i).dataType match {
          case _: org.apache.spark.sql.types.StructType |
               _: org.apache.spark.sql.types.ArrayType |
               _: org.apache.spark.sql.types.MapType |
               _: org.apache.spark.sql.types.UserDefinedType[_] => false
          case _ => true
        }
      val restricted = if (rows.length > cap) semiJoin(keyed, touchedKeys)
      else {
        def keyFilter(i: Int): org.apache.spark.sql.Column = {
          val vals = rows.map(_.get(i))
          val nonNull = vals.filter(_ != null).distinct.toSeq
          val kc = col(bq(keyNames(i)))
          val base = if (nonNull.nonEmpty) kc.isin(nonNull: _*) else lit(false)
          if (vals.contains(null)) base || kc.isNull else base
        }
        val conjuncts = keyNames.indices.filter(literable).map(keyFilter)
        // rows is the COMPLETE touched-key set here (<= cap): every semi
        // join below runs against the already-collected local relation —
        // re-joining the distributed touchedKeys frame would re-execute
        // its whole upstream (view ⋈ delta) lineage
        lazy val localKeys = spark.createDataFrame(
          java.util.Arrays.asList(rows: _*), touchedKeys.schema)
        if (keyNames.size == 1 && conjuncts.nonEmpty)
          keyed.filter(conjuncts.head)
        else if (conjuncts.isEmpty) semiJoin(keyed, localKeys)
        else semiJoin(keyed.filter(conjuncts.reduce(_ && _)), localKeys)
      }
      val out = restricted
        .groupBy(keyNames.map(n => col(bq(n))): _*)
        .agg(rcAggs.head, rcAggs.tail: _*)
      if (spark.conf.getOption(MaterializedViews.CAPTURE_RECOMPUTE_KEY)
          .contains("true"))
        MaterializedViews.lastRecomputeFrame = Some(out)
      out
    }

    /** Attach `__rc.*` recomputed columns (extremes, DISTINCT aggregates)
      * for the touched groups (no-op when no column needs the overlay). */
    def withRecomputedExtremes(joined: DataFrame): DataFrame =
      if (!needsOverlay) joined
      else {
        val touchedKeys = joined.filter(groupTouched)
          .select(keyNames.map(n => joinedKey(n).as(n)): _*)
        joined.join(recomputeExtremes(touchedKeys).alias("__rc"),
          keyNames.map(k =>
            joinedKey(k) <=> col(s"__rc.${bq(k)}")).reduce(_ && _),
          "left_outer")
      }
    // unaliased combined-image expression per output column (aliases are
    // applied at the projection site — an alias nested inside a later
    // when() would be illegal)
    def outExpr(n: String, kind: Kind,
        dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.Column =
      kind match {
        case KeyCol(_) =>
          coalesce(col(s"__mo.${bq(n)}"), col(s"__md.${bq(n)}"))
        case CountCol(_) => comb(n, dt).cast(dt)
        case SumCol(_) =>
          val raw = comb(n, dt)
          sumGuards.get(n) match {
            case Some(cntName) =>
              when(comb(cntName, org.apache.spark.sql.types.LongType) === 0L,
                lit(null)).otherwise(raw).cast(dt)
            case None => raw.cast(dt)
          }
        // least/greatest SKIP nulls (null only when both sides are null) —
        // exactly SQL MIN/MAX semantics for a new group (no stored image)
        // or an all-null delta window. On retraction windows a TOUCHED
        // group (some retracted value reached a stored extreme) takes its
        // recomputed image instead — all of its extreme columns do: the
        // group-pruned scan already paid for them together.
        case MinCol(_) =>
          val folded = least(col(s"__mo.${bq(n)}"), col(s"__md.`__d_$n`"))
          (if (retractions)
            when(groupTouched, col(s"__rc.`__rc_$n`")).otherwise(folded)
          else folded).cast(dt)
        case MaxCol(_) =>
          val folded = greatest(col(s"__mo.${bq(n)}"), col(s"__md.`__d_$n`"))
          (if (retractions)
            when(groupTouched, col(s"__rc.`__rc_$n`")).otherwise(folded)
          else folded).cast(dt)
        // DISTINCT columns: changed groups take the group-pruned
        // recompute's image, unchanged groups keep the stored one — there
        // is no foldable middle ground for distinctness
        case DistinctCol(_, _) =>
          when(changedGroup, col(s"__rc.`__rc_$n`"))
            .otherwise(col(s"__mo.${bq(n)}")).cast(dt)
        // AVG re-derives from its companions' combined images: exact long
        // sum / long count, the same division Average itself performs for
        // integral args. NULL when the denominator returns to zero.
        // Companion-less/filtered/decimal AVG takes the changed-group
        // recompute image instead.
        case AvgCol(_) => avgComp(n) match {
          case Some((sn, cn, sdt)) =>
            val den = comb(cn, org.apache.spark.sql.types.LongType)
            when(den === 0L, lit(null))
              .otherwise(comb(sn, sdt).cast("double") / den.cast("double"))
              .cast(dt)
          case None =>
            when(changedGroup, col(s"__rc.`__rc_$n`"))
              .otherwise(col(s"__mo.${bq(n)}")).cast(dt)
        }
      }
    val outCols = cols.map { case (n, k, dt) => outExpr(n, k, dt).as(n) }
    def alive = comb(rowCountCol, org.apache.spark.sql.types.LongType) > 0L

    // PK-LAYOUT views whose (range ∪ hash) key IS the group key skip the
    // overwrite entirely: ONLY the changed groups write — survivors as
    // delta-upsert images, emptied groups as tombstone marker rows in the
    // SAME commit — so refresh WRITE cost is ∝ changed groups, not view
    // size (a per-user aggregate view at 100 TB is itself huge). The key
    // sets must match EXACTLY: merge-on-read identity is the layout key,
    // so a narrower layout cannot address groups individually — two new
    // groups sharing a layout key, or a net-zero new group's tombstone
    // erasing a different stored group, would corrupt silently. Narrower
    // (or non-PK) layouts take the whole-state overwrite below, where
    // assertKeyUnique still reports genuine collisions loudly.
    val viewTi = SnapshotManagement.snapshotOpt(normView).map(_.tableInfo)
    val layoutCols = viewTi.toSeq
      .flatMap(ti => ti.rangeColumns ++ ti.hashColumns)
    val keyLower = keyNames.map(_.toLowerCase).toSet
    val canUpsert = viewTi.exists(_.hasPrimaryKey) &&
      layoutCols.map(_.toLowerCase).toSet == keyLower

    val committedVersion: Option[Long] = if (canUpsert) {
      Some(SnapshotManagement.withRewriteTransaction(normView) { txn =>
        val vsnap = txn.snapshotOpt.getOrElse(throw bail)
        // re-verify the idempotence pin against the PINNED snapshot: a
        // conflict restart re-enters here with a fresh (advanced) version
        if (!info.viewTableVersion.contains(vsnap.version)) throw bail
        val curPinned = graft.sources.GraftRead
          .readFiles(spark, normView, vsnap, vsnap.files)
        val joinedD = withRecomputedExtremes(
          deltaAgg.alias("__md").join(curPinned.alias("__mo"),
            keyNames.map(k => col(s"__mo.${bq(k)}") <=> col(s"__md.${bq(k)}"))
              .reduce(_ && _),
            "left_outer"))
        // ONE projection over ONE evaluation of the join: survivors carry
        // their combined image (marker null), emptied groups carry their
        // key + marker true — a filter/filter/union would run the feed
        // aggregation and the view scan once per branch
        val marker = graft.meta.Tombstones.COL
        val out = joinedD.select(cols.map {
          case (n, k @ KeyCol(_), dt) => outExpr(n, k, dt).as(n)
          case (n, k, dt) =>
            when(alive, outExpr(n, k, dt)).otherwise(lit(null).cast(dt)).as(n)
        } :+ when(alive, lit(null).cast("boolean")).otherwise(lit(true))
          .as(marker): _*)
        graft.commands.UpsertCommand.runDeltaIn(spark, normView, out,
          Map.empty, txn, rewriteGuard = true)
      })
    } else {
      // pin the read: a stray write landing between the version check and
      // the (lazy) scan must not be folded into the combined state
      val vsnap = SnapshotManagement.snapshotOpt(normView).getOrElse(throw bail)
      if (!info.viewTableVersion.contains(vsnap.version)) throw bail
      val cur = graft.sources.GraftRead
        .readFiles(spark, normView, vsnap, vsnap.files)
      val joined = withRecomputedExtremes(
        cur.alias("__mo").join(deltaAgg.alias("__md"),
          keyNames.map(k => col(s"__mo.${bq(k)}") <=> col(s"__md.${bq(k)}"))
            .reduce(_ && _),
          "full_outer"))
      val combined = joined.filter(alive).select(outCols: _*)
      // a PK-layout view that fell through here (layout key narrower than
      // the group key) re-checks uniqueness like the full path does
      viewTi.filter(_.hasPrimaryKey).foreach(ti =>
        assertKeyUnique(combined, ti.hashColumns,
          s"incremental refresh($viewPath)"))
      val beforeV = SnapshotManagement.store.latestVersion(normView)
      RQ.withoutRewrite {
        combined.write.format("graft").mode("overwrite").save(viewPath)
      }
      // pin only a version that is provably OUR commit — if a stray write
      // raced in, leave the pin stale so the next refresh heals via the
      // idempotent full recompute instead of folding onto unknown state
      val afterV = SnapshotManagement.store.latestVersion(normView)
      if (afterV == beforeV + 1) Some(afterV) else None
    }
    committedVersion.foreach { v =>
      writeInfo(viewPath, info.copy(
        relationVersions = info.relationVersions.map { case (p, pv) =>
          val np = SnapshotManagement.normalize(p)
          p -> (if (changedPaths.contains(np)) snapsNow(np).version else pv)
        },
        viewTableVersion = Some(v)))
      incrementalRefreshes.incrementAndGet()
    }
    invalidateProbeCaches(viewPath)
    // None = the overwrite raced a stray commit and could not pin its own
    // version: report ineligible so the caller's idempotent full recompute
    // re-establishes a known state + pin
    committedVersion.isDefined
    } catch { case t: Throwable if t eq bail => false }
  }

  /** A PK-layout view table deduplicates its key at read (merge-on-read
    * last-wins) — if the view SQL yields multiple rows per hash key, the
    * view would silently LOSE rows and the rewrite rule would then serve
    * wrong results for contained queries. One extra aggregate pass over
    * the view query at create/refresh (rare, write-time) buys the loud
    * failure. */
  private def assertKeyUnique(
      df: DataFrame, keys: Seq[String], ctx: String): Unit = {
    import org.apache.spark.sql.functions.{col, count, lit}
    val dup = df
      .groupBy(keys.map(k => col(s"`${k.replace("`", "``")}`")): _*)
      .agg(count(lit(1)).as("__gmv_cnt"))
      .filter(col("__gmv_cnt") > 1).limit(1).collect()
    if (dup.nonEmpty) throw new IllegalStateException(
      s"$ctx: the view query returns multiple rows for hash key " +
      s"(${keys.mkString(", ")}) = " +
      s"(${dup.head.toSeq.dropRight(1).mkString(", ")}); a hash-partitioned " +
      "view keeps ONE row per key (last-wins), so serving it would " +
      "silently drop rows — aggregate the view query on its key or drop " +
      "the hashPartitions layout")
  }

  def isStale(info: MaterialViewInfo): Boolean =
    info.relationVersions.exists { case (path, v) =>
      SnapshotManagement.snapshotOpt(path).forall(_.version != v)
    }

  // Memoized probes: resolution rules fire many times per query, and a
  // per-invocation disk read + store listing per registered view grows
  // linearly with the catalog — at dozens of views it dominates planning.
  // `readInfo` memoizes on the meta file's mtime (one stat per probe, one
  // READ per actual change); staleness memoizes on the snapshot-cache
  // epoch (any table-state change this process observes bumps it).
  private val infoCache =
    new java.util.concurrent.ConcurrentHashMap[
      String, (java.nio.file.attribute.FileTime, MaterialViewInfo)]()
  private val staleCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Boolean)]()
  /** Count of actual meta-file disk reads (test observability). */
  private[graft] val metaFileReads = new java.util.concurrent.atomic.AtomicLong(0L)

  private[graft] def invalidateProbeCaches(viewPath: String): Unit = {
    val norm = SnapshotManagement.normalize(viewPath)
    infoCache.remove(norm)
    staleCache.remove(norm)
  }

  /** CONTINUOUS maintenance: tail each base relation's change-data-feed
    * stream and refresh the view once per microbatch — each refresh takes
    * the incremental fold whenever the window qualifies, so steady-state
    * cost is ∝ changes, not view or base size. The CDF rows themselves are
    * DISCARDED: the fold re-reads its exact version window under its own
    * pins (a transactional boundary a streamed frame cannot provide); the
    * stream contributes liveness — a microbatch fires iff the relation
    * committed data changes (rewrites are invisible to CDF streams and
    * change nothing a refresh could observe). One query per base relation
    * (join views tail both sides); stop them all to stop maintenance.
    * Triggers from one view's relations are serialized by an in-process
    * per-view lock (two stream threads folding concurrently could land an
    * interleaved overwrite — [[graft.streaming.ContinuousSync]] keys its
    * lock on the VIEW path, so a join view's two tails share one);
    * cross-process races stay covered by the refresh path's version pins —
    * a refresh that lost one leaves the pin stale and the next refresh
    * heals via the full recompute. */
  def maintainStream(
      spark: SparkSession, viewPath: String, checkpointRoot: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.ProcessingTime("10 seconds"))
      : Seq[org.apache.spark.sql.streaming.StreamingQuery] = {
    val norm = SnapshotManagement.normalize(viewPath)
    val info = readInfo(norm).getOrElse(throw new IllegalArgumentException(
      s"no materialized view at $viewPath"))
    val session = spark // stable reference for the closures below
    info.relationVersions.keySet.toSeq.sorted.zipWithIndex.map {
      case (rel, i) =>
        graft.streaming.ContinuousSync.tail(session, rel, norm,
          s"$checkpointRoot/rel$i", trigger, s"mv-$i") {
          refresh(session, norm); ()
        }
    }
  }

  def readInfo(viewPath: String): Option[MaterialViewInfo] = {
    val norm = SnapshotManagement.normalize(viewPath)
    val p = mvMetaPath(norm)
    try {
      val mtime = Files.getLastModifiedTime(p)
      val cached = infoCache.get(norm)
      if (cached != null && cached._1 == mtime) Some(cached._2)
      else {
        metaFileReads.incrementAndGet()
        val info = Serialization.read[MaterialViewInfo](
          new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
        infoCache.put(norm, (mtime, info))
        Some(info)
      }
    } catch {
      case _: java.nio.file.NoSuchFileException =>
        infoCache.remove(norm); None
      // writes are atomic (temp + rename), so unparseable meta is real
      // corruption, not a crash window — fail with the remedy instead of
      // letting a raw parser error surface from every probe/refresh/drop
      case e @ (_: com.fasterxml.jackson.core.JacksonException |
          _: org.json4s.MappingException) =>
        throw new IllegalStateException(
          s"materialized-view meta at $p is corrupt (${e.getMessage}) — " +
          "delete the view directory and re-create the view", e)
    }
  }

  /** Epoch-memoized [[isStale]] for the per-query rewrite path. `refresh`
    * keeps the direct probe: it must see the true store state. */
  private[graft] def isStaleCached(viewPath: String, info: MaterialViewInfo): Boolean = {
    val e = SnapshotManagement.cacheEpoch
    val norm = SnapshotManagement.normalize(viewPath)
    val cached = staleCache.get(norm)
    if (cached != null && cached._1 == e) cached._2
    else {
      val v = isStale(info)
      staleCache.put(norm, (e, v))
      v
    }
  }

  /** Unregister the view from the session and delete its storage. Refuses
    * paths without `_graft_mv.json` — a swapped argument would otherwise
    * delete a BASE table's data with no error. */
  def drop(spark: SparkSession, viewPath: String): Unit = {
    val norm = SnapshotManagement.normalize(viewPath)
    require(readInfo(norm).nonEmpty,
      s"$norm is not a materialized view (no _graft_mv.json); refusing to " +
      "delete it")
    unregister(spark, norm)
    RewriteQueryByMaterialView.invalidatePlanCache(norm)
    invalidateProbeCaches(norm)
    graft.commands.DropCommands.dropTable(norm)
  }

  /** Remove the view from the session's registry (storage untouched). */
  def unregister(spark: SparkSession, viewPath: String): Unit = {
    val norm = SnapshotManagement.normalize(viewPath)
    spark.conf.set(CONF_KEY, registeredPaths(spark)
      .filterNot(_ == norm).map(encodePath).mkString(","))
  }

  def register(spark: SparkSession, viewPath: String): Unit = {
    val cur = registeredPaths(spark)
    val norm = SnapshotManagement.normalize(viewPath)
    if (!cur.contains(norm)) spark.conf.set(CONF_KEY,
      (cur :+ norm).map(encodePath).mkString(","))
  }

  /** Registry entries are URL-encoded before the comma-join — a view path
    * containing a comma would otherwise split into garbage entries and the
    * real view would never match again. */
  private def encodePath(p: String): String =
    java.net.URLEncoder.encode(p, "UTF-8")

  /** Legacy un-encoded entries (hand-set conf, pre-encoding registries)
    * must pass through VERBATIM: encodePath escapes '/' to %2F, so any
    * entry still containing '/' is raw — decoding it would turn a literal
    * '+' into a space, and a stray '%' would make URLDecoder throw inside
    * the analyzer rule and fail every query in the session. */
  private def decodePath(p: String): String =
    if (p.contains("/")) p
    else try java.net.URLDecoder.decode(p, "UTF-8")
    catch { case _: IllegalArgumentException => p }

  private[mv] def registeredPaths(spark: SparkSession): Seq[String] =
    spark.conf.getOption(CONF_KEY).filter(_.nonEmpty)
      .map(_.split(",").toSeq.filter(_.nonEmpty).map(decodePath))
      .getOrElse(Nil)

  /** The view SQL analyzed with every graft relation REPLACED by a read
    * of a snapshot pinned NOW (immutable file lists), plus the exact
    * (path → version) map the frame reads. The unpinned spelling has a
    * race the incremental fold cannot survive: a base commit landing
    * between version capture and plan execution makes the rebuilt state
    * include rows the recorded versions don't cover, and the NEXT fold
    * then re-applies that window — double-counting. Pinning also makes a
    * multi-relation rebuild CONSISTENT (one snapshot per relation) under
    * concurrent ingest, exactly like the fold's pinned sides. Falls back
    * to the unpinned frame if a concurrent schema change makes a pinned
    * column unresolvable (the ALTER itself advances the version, so the
    * staleness check reconverges on the next refresh). */
  private def pinnedViewFrame(spark: SparkSession, sqlText: String)
      : (DataFrame, Map[String, Long]) = {
    val df = RewriteQueryByMaterialView.withoutRewrite { spark.sql(sqlText) }
    graft.ops.SnapshotSql.tryPin(spark, df)
      .getOrElse((df, graftRelationVersions(df)))
  }

  def graftRelationVersions(df: DataFrame): Map[String, Long] = {
    castToImpl(df).queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
          if r.table.isInstanceOf[graft.sources.GraftTableV2] =>
        val path = r.table.asInstanceOf[graft.sources.GraftTableV2].path
        path -> SnapshotManagement.snapshot(path).version
    }.toMap
  }
}

/** Resolution rule replacing query subtrees with scans of fresh
  * materialized views — by exact canonicalized-plan match or by
  * single-table filter containment. */
case class RewriteQueryByMaterialView(spark: SparkSession) extends Rule[LogicalPlan] {
  import RewriteQueryByMaterialView._

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (inRewrite.get()) return plan
    val views = MaterializedViews.registeredPaths(spark)
    if (views.isEmpty || !plan.resolved) return plan
    // never rewrite DML target relations: a fresh all-column view would
    // otherwise replace the UPDATE/DELETE/MERGE target (or a write's table)
    // with a Project over the view scan, breaking resolution and
    // redirecting writes. INSERT/overwrite (V2WriteCommand) still serves
    // its READ side from views — the target lives outside `query`.
    val isDml = plan.exists {
      case _: UpdateTable | _: DeleteFromTable | _: MergeIntoTable => true
      case _ => false
    }
    if (isDml) return plan
    def rewriteAll(p: LogicalPlan): LogicalPlan =
      views.foldLeft(p) { (acc, viewPath) =>
        MaterializedViews.readInfo(viewPath) match {
          case Some(info) if !MaterializedViews.isStaleCached(viewPath, info) =>
            viewPlanFor(viewPath, info).map(vp => rewriteWith(acc, viewPath, vp))
              .getOrElse(acc)
          case _ => acc
        }
      }
    plan match {
      case w: V2WriteCommand =>
        val newQuery = rewriteAll(w.query)
        if (newQuery eq w.query) w else w.withNewQuery(newQuery)
      case _ if plan.exists(_.isInstanceOf[Command]) => plan // CTAS etc.
      case _ => rewriteAll(plan)
    }
  }

  /** Analyzed plan of the view's SQL, cached per (path, info) so the rule
    * does not re-parse and re-analyze the view text on every analysis pass
    * of every query. */
  private def viewPlanFor(
      viewPath: String, info: MaterialViewInfo): Option[LogicalPlan] = {
    val cached = planCache.get(viewPath)
    if (cached != null && cached._1 == info) return Some(cached._2)
    inRewrite.set(true)
    try {
      val p = castToImpl(spark.sql(info.sqlText)).queryExecution.analyzed
      planCache.put(viewPath, (info, p))
      Some(p)
    } catch {
      case _: Exception => None
    } finally inRewrite.set(false)
  }

  private def rewriteWith(
      plan: LogicalPlan, viewPath: String, viewPlan: LogicalPlan): LogicalPlan = {
    val viewCanonical = viewPlan.canonicalized
    val viewDecomp = decompose(viewPlan)
    val viewAgg = if (viewDecomp.isEmpty) decomposeAgg(viewPlan) else None
    val viewJoin =
      if (viewDecomp.isEmpty && viewAgg.isEmpty) decomposeJoin(viewPlan) else None
    plan.transformUp {
      // exact match: replace the subtree wholesale
      case sub if sub.canonicalized == viewCanonical =>
        replaceExact(sub, viewPath).getOrElse(sub)
      // containment: the subtree's rows/groups are a subset of the view's
      case sub =>
        viewDecomp.flatMap(tryContainment(sub, viewPath, _))
          .orElse(viewAgg.flatMap(tryAggContainment(sub, viewPath, _)))
          .orElse(viewJoin.flatMap(tryJoinContainment(sub, viewPath, _)))
          .getOrElse(sub)
    }
  }

  private def viewScan(viewPath: String): LogicalPlan =
    castToImpl(GraftRead.read(spark, viewPath)).queryExecution.analyzed

  /** Replace an exactly-matching subtree, aliasing the scan to the
    * subtree's attribute ids so the enclosing plan resolves unchanged. */
  private def replaceExact(sub: LogicalPlan, viewPath: String): Option[LogicalPlan] = {
    val scan = viewScan(viewPath)
    val out = sub.output
    val scanOut = scan.output
    if (out.length == scanOut.length &&
        out.zip(scanOut).forall { case (a, b) => a.name == b.name }) {
      Some(Project(
        scanOut.zip(out).map { case (s, o) =>
          Alias(s, o.name)(exprId = o.exprId, qualifier = o.qualifier)
        }, scan))
    } else None
  }

  /** Rewrite `sub` = select-project over the view's base relation whose
    * predicate is contained in the view's predicate. */
  private def tryContainment(
      sub: LogicalPlan, viewPath: String, view: Decomp): Option[LogicalPlan] = {
    val q = decompose(sub).getOrElse(return None)
    // same base table by path; pinned relations (time travel, DML-internal
    // file reads) are never redirected
    val qPath = graftPath(q.rel).getOrElse(return None)
    val vPath = graftPath(view.rel).getOrElse(return None)
    if (qPath != vPath) return None
    // the view must provide every column the query touches, as plain
    // (possibly renamed) base columns
    val baseToViewCol: Map[String, String] = view.projList.flatMap {
      case ar: AttributeReference => Some(ar.name.toLowerCase -> ar.name)
      case Alias(ar: AttributeReference, n) => Some(ar.name.toLowerCase -> n)
      case _ => None
    }.toMap
    // containment: every view conjunct must be implied by the query's
    // predicate (query rows ⊆ view rows)
    val qConjuncts = q.cond.map(splitConjunction).getOrElse(Nil)
    val vConjuncts = view.cond.map(splitConjunction).getOrElse(Nil)
    val ids = exprIdSpace(Seq(sub, view.rel) ++ qConjuncts ++ vConjuncts)
    val qBounds = columnBounds(qConjuncts)
    val qCanon = qConjuncts.flatMap(canonByName(_, ids))
    val contained = vConjuncts.forall(vc =>
      conjunctImplied(vc, qCanon, qConjuncts, qBounds, canonByName(_, ids)))
    if (!contained) return None
    // compensation: only query conjuncts NOT exactly present in the view's
    // filter — matched ones are already enforced by the view's rows, so a
    // view filtered on a column it does not even project still serves a
    // query repeating the same filter (the reference's equal-range rule,
    // `RewriteQueryByMaterialView.scala:148-167`)
    val vCanonSet = vConjuncts.flatMap(canonByName(_, ids))
    val leftover = qConjuncts.filter(c =>
      !canonByName(c, ids).exists(cc => vCanonSet.exists(_.semanticEquals(cc))))
    val needed = (q.projList.flatMap(_.references) ++
      leftover.flatMap(_.references)).map(_.name.toLowerCase).toSet
    if (!needed.subsetOf(baseToViewCol.keySet)) return None
    // build: Project(remapped q.projList, Filter(remapped q.cond, viewScan))
    val scan = viewScan(viewPath)
    val scanByName = scan.output.map(a => a.name.toLowerCase -> a).toMap
    val byName: Map[String, Attribute] = baseToViewCol.flatMap {
      case (base, viewCol) => scanByName.get(viewCol.toLowerCase).map(base -> _)
    }
    def remap(e: Expression): Option[Expression] = {
      var ok = true
      val r = e.transformUp {
        case a: AttributeReference =>
          byName.get(a.name.toLowerCase) match {
            case Some(v) if v.dataType == a.dataType => v
            case _ => ok = false; a
          }
      }
      if (ok) Some(r) else None
    }
    val newCond = leftover
      .map(c => remap(c).getOrElse(return None)).reduceOption(And)
    val filtered = newCond.map(Filter(_, scan)).getOrElse(scan)
    val newProj: Seq[NamedExpression] = q.projList.map {
      case ar: AttributeReference =>
        val v = byName.getOrElse(ar.name.toLowerCase, return None)
        Alias(v, ar.name)(exprId = ar.exprId, qualifier = ar.qualifier)
      case al @ Alias(child, n) =>
        val rc = remap(child).getOrElse(return None)
        Alias(rc, n)(exprId = al.exprId, qualifier = al.qualifier)
      case _ => return None
    }
    Some(Project(newProj, filtered))
  }

  /** Rewrite `sub` = aggregate over the view's source — a base relation or
    * the same inner equi-join (the star-schema cube shape) — when the view
    * materializes the same grouping — or a FINER one — over a superset of
    * the rows (reference `material_view/AggregateInfo.scala:1-108`).
    *
    * Soundness: bounds implication is NOT enough here — a strictly narrower
    * row filter changes every group's aggregate. So every view filter
    * conjunct must match a query conjunct EXACTLY, and the query's leftover
    * conjuncts must reference only VIEW group columns: such a filter keeps
    * or drops whole view groups (the column is constant within a group),
    * so it commutes with (re-)aggregation.
    *
    * Two shapes:
    *   - equal group sets: project the stored groups, filter compensates;
    *   - query groups ⊂ view groups (ROLL-UP): re-aggregate the stored
    *     partials — sum→sum, count→sum, min→min, max→max. Classic partial
    *     aggregation algebra; DISTINCT/avg/filtered aggregates bail.
    */
  private def tryAggContainment(
      sub: LogicalPlan, viewPath: String, view: AggDecomp): Option[LogicalPlan] = {
    val q = decomposeAgg(sub).getOrElse(return None)
    val sourcePlans: Seq[LogicalPlan] = (q.source, view.source) match {
      case (RelSource(qr), RelSource(vr)) =>
        val qPath = graftPath(qr).getOrElse(return None)
        val vPath = graftPath(vr).getOrElse(return None)
        if (qPath != vPath) return None
        Seq(qr, vr)
      case (JoinSource(qRels, _), JoinSource(vRels, _)) =>
        // same table SET (any arity); name-based matching needs globally
        // unique column names and no self-joins
        val qPaths = qRels.map(r => graftPath(r).getOrElse(return None))
        val vPaths = vRels.map(r => graftPath(r).getOrElse(return None))
        if (qPaths.distinct.length != qPaths.length ||
            vPaths.distinct.length != vPaths.length ||
            qPaths.toSet != vPaths.toSet) return None
        val names = qRels.flatMap(_.output).map(_.name.toLowerCase)
        if (names.distinct.length != names.length) return None
        qRels ++ vRels
      case _ => return None
    }
    val ids = exprIdSpace(Seq(sub) ++ sourcePlans ++ view.aggList ++ q.aggList
      ++ view.conjuncts ++ q.conjuncts ++ view.groupExprs ++ q.groupExprs)
    def canon(e: Expression): Option[Expression] = canonByName(e, ids)
    // join sources must agree on the join condition exactly (aggregates
    // cannot compensate extra join equalities with a row filter: filters
    // do not commute with aggregation unless over group columns)
    (q.source, view.source) match {
      case (JoinSource(_, qj), JoinSource(_, vj)) =>
        val qjc = qj.flatMap(canon)
        val vjc = vj.flatMap(canon)
        if (qjc.length != qj.length || vjc.length != vj.length ||
            !sameExprSet(qjc, vjc)) return None
      case _ => ()
    }
    // identical grouping (direct serve) or query ⊂ view grouping (roll-up)
    val vGroups = view.groupExprs.flatMap(canon)
    val qGroups = q.groupExprs.flatMap(canon)
    if (vGroups.length != view.groupExprs.length ||
        qGroups.length != q.groupExprs.length) return None
    val equalGroups = sameExprSet(vGroups, qGroups)
    val rollUp = !equalGroups &&
      qGroups.forall(g => vGroups.exists(_.semanticEquals(g)))
    if (!equalGroups && !rollUp) return None
    // every view conjunct exactly present in the query's conjuncts
    val qConjuncts = q.conjuncts
    val vConjuncts = view.conjuncts
    val qCanon = qConjuncts.map(c => c -> canon(c))
    val vCanon = vConjuncts.flatMap(canon)
    if (vCanon.length != vConjuncts.length) return None
    def matchesView(c: Option[Expression]): Boolean =
      c.exists(cc => vCanon.exists(_.semanticEquals(cc)))
    if (!vCanon.forall(vc => qCanon.exists(_._2.exists(_.semanticEquals(vc)))))
      return None
    // leftover query conjuncts must reference only group columns that the
    // view exposes as plain output columns
    val groupColToViewCol: Map[String, String] = view.aggList.flatMap {
      case ar: AttributeReference
          if view.groupExprs.exists(_.semanticEquals(ar)) =>
        Some(ar.name.toLowerCase -> ar.name)
      case Alias(ar: AttributeReference, n)
          if view.groupExprs.exists(_.semanticEquals(ar)) =>
        Some(ar.name.toLowerCase -> n)
      case _ => None
    }.toMap
    val leftover = qCanon.collect { case (c, cc) if !matchesView(cc) => c }
    if (!leftover.flatMap(_.references).map(_.name.toLowerCase).toSet
        .subsetOf(groupColToViewCol.keySet)) return None
    // map every query output to a view output column: group columns by
    // name, aggregate expressions by exact (name-normalized) equality
    val scan = viewScan(viewPath)
    val scanByName = scan.output.map(a => a.name.toLowerCase -> a).toMap
    def viewColFor(e: Expression): Option[Attribute] = {
      val ec = canon(e).getOrElse(return None)
      view.aggList.collectFirst {
        case ve if canon(ve match { case Alias(c, _) => c; case o => o })
            .exists(_.semanticEquals(ec)) =>
          scanByName.get(ve.name.toLowerCase)
      }.flatten
    }
    // compensation: leftover conjuncts only (matched ones are already
    // baked into the view's rows)
    val newCond = leftover.map { c =>
      c.transformUp { case a: AttributeReference =>
        val v = groupColToViewCol.get(a.name.toLowerCase)
          .flatMap(n => scanByName.get(n.toLowerCase)).getOrElse(return None)
        if (v.dataType != a.dataType) return None
        v
      }
    }.reduceOption(And)
    val source = newCond.map(Filter(_, scan)).getOrElse(scan)

    if (equalGroups) {
      val newProj: Seq[NamedExpression] = q.aggList.map { ne =>
        val src = ne match { case Alias(c, _) => c; case o => o }
        val v = viewColFor(src).getOrElse(return None)
        if (v.dataType != ne.dataType) return None
        Alias(v, ne.name)(exprId = ne.exprId, qualifier = ne.qualifier)
      }
      Some(Project(newProj, source))
    } else {
      // ROLL-UP: re-aggregate the view's stored partials by the coarser
      // query grouping
      import org.apache.spark.sql.catalyst.expressions.aggregate._
      val newGroup: Seq[Expression] = q.groupExprs.map {
        case a: AttributeReference =>
          val v = groupColToViewCol.get(a.name.toLowerCase)
            .flatMap(n => scanByName.get(n.toLowerCase)).getOrElse(return None)
          if (v.dataType != a.dataType) return None
          v
        case _ => return None // roll-up only over plain column groupings
      }
      val newAggList: Seq[NamedExpression] = q.aggList.map { ne =>
        val src = ne match { case Alias(c, _) => c; case o => o }
        val rewritten: Expression = src match {
          case a: AttributeReference => // group passthrough
            val v = groupColToViewCol.get(a.name.toLowerCase)
              .flatMap(n => scanByName.get(n.toLowerCase)).getOrElse(return None)
            if (v.dataType != a.dataType) return None
            v
          case ae: AggregateExpression
              if !ae.isDistinct && ae.filter.isEmpty =>
            ae.aggregateFunction match {
              // avg re-derives from the view's sum/count over the SAME
              // child; an all-null group stores count 0, where plain
              // division would diverge from avg's NULL (ANSI errors)
              case avg: Average if ne.dataType ==
                  org.apache.spark.sql.types.DoubleType =>
                val child = avg.child
                val sumV = viewColFor(Sum(child).toAggregateExpression())
                  .getOrElse(return None)
                val cntV = viewColFor(Count(Seq(child)).toAggregateExpression())
                  .getOrElse(return None)
                val sumAgg = Cast(Sum(sumV).toAggregateExpression(),
                  org.apache.spark.sql.types.DoubleType)
                val cntAgg = Sum(cntV).toAggregateExpression()
                If(EqualTo(cntAgg, Literal(0L)),
                  Literal(null, org.apache.spark.sql.types.DoubleType),
                  Divide(sumAgg, Cast(cntAgg,
                    org.apache.spark.sql.types.DoubleType)))
              case fn =>
                // the view must materialize THIS aggregate; re-combine it
                val v = viewColFor(src).getOrElse(return None)
                fn match {
                  case _: Sum => Sum(v).toAggregateExpression()
                  case _: Count =>
                    // counts combine by summing — but count() over zero
                    // rows is 0 while sum() over zero rows is NULL, so a
                    // compensating filter that eliminates every stored
                    // group must still produce 0
                    Coalesce(Seq(Sum(v).toAggregateExpression(), Literal(0L)))
                  case _: Min => Min(v).toAggregateExpression()
                  case _: Max => Max(v).toAggregateExpression()
                  case _ => return None
                }
            }
          case _ => return None
        }
        if (rewritten.dataType != ne.dataType) return None
        Alias(rewritten, ne.name)(exprId = ne.exprId, qualifier = ne.qualifier)
      }
      Some(Aggregate(newGroup, newAggList, source))
    }
  }

  /** Rewrite `sub` = inner equi-join TREE over the same set of base
    * relations with a contained row filter (reference
    * `RewriteQueryByMaterialView.scala:110-121`, `material_view/
    * JoinInfo.scala:1-132`, multi-join trees `MaterialViewUtils
    * .scala:134-224`).
    *
    * Soundness: inner-join filters commute with the join, so both plans are
    * sigma(cond)(T1 join ... join Tn) over their flattened join-conjunct
    * sets. The view's join conjuncts must be a SUBSET of the query's: then
    * view rows ⊇ query rows, and the query's extra join equalities become
    * ordinary compensating filters over the view scan. Of the query's
    * filter conjuncts, those exactly matching a view conjunct are already
    * baked into the view's rows — only the LEFTOVER ones re-apply, which is
    * what lets a view filtered on a column it does not project still serve
    * a query with the same filter (the reference's equal-range rule).
    */
  private def tryJoinContainment(
      sub: LogicalPlan, viewPath: String, view: JoinDecomp): Option[LogicalPlan] = {
    val q = decomposeJoin(sub).getOrElse(return None)
    val qPaths = q.rels.map(r => graftPath(r).getOrElse(return None))
    val vPaths = view.rels.map(r => graftPath(r).getOrElse(return None))
    // same table SET; self-joins are ambiguous under name-based matching
    if (qPaths.distinct.length != qPaths.length) return None
    if (vPaths.distinct.length != vPaths.length) return None
    if (qPaths.toSet != vPaths.toSet) return None
    // name-based matching also needs every column name to be unambiguous
    val qNames = q.rels.flatMap(_.output).map(_.name.toLowerCase)
    if (qNames.distinct.length != qNames.length) return None
    val ids = exprIdSpace(Seq(sub) ++ view.rels)
    def canon(e: Expression): Option[Expression] = canonByName(e, ids)
    // view join conjuncts ⊆ query join conjuncts (canonicalization
    // normalizes commuted equalities); the query's EXTRA equi-conjuncts
    // compensate as filters below
    val vJoin = view.joinConjuncts.flatMap(canon)
    val qJoinPairs = q.joinConjuncts.map(c => c -> canon(c))
    if (vJoin.length != view.joinConjuncts.length ||
        qJoinPairs.exists(_._2.isEmpty)) return None
    if (!vJoin.forall(vc => qJoinPairs.exists(_._2.exists(_.semanticEquals(vc)))))
      return None
    val extraJoin = qJoinPairs.collect {
      case (c, Some(cc)) if !vJoin.exists(_.semanticEquals(cc)) => c
    }
    // row containment: every view conjunct exactly matched or implied by
    // the query's per-column bounds (OR-blocks and IN-lists included)
    val qCanonConj = q.filterConjuncts.flatMap(canon)
    if (qCanonConj.length != q.filterConjuncts.length) return None
    val qBounds = columnBounds(q.filterConjuncts)
    val contained = view.filterConjuncts.forall(vc =>
      conjunctImplied(vc, qCanonConj, q.filterConjuncts, qBounds, canon))
    if (!contained) return None
    // compensation: query filter conjuncts NOT exactly present in the view's
    // (matched ones are already enforced by the view's rows), plus the
    // query's extra join equalities
    val vFilterCanon = view.filterConjuncts.flatMap(canon)
    val leftover = q.filterConjuncts.filter(c =>
      !canon(c).exists(cc => vFilterCanon.exists(_.semanticEquals(cc)))) ++ extraJoin
    // the view must expose every column the query RESULT or the leftover
    // compensation touches — directly, or through a join-equivalent column
    // (reference `columnEqualInfo`): on inner equi-join rows `k = fk` holds
    // transitively, so a view projecting only `k` serves queries touching
    // any member of k's equality class
    val baseToViewCol: Map[String, String] = view.projList.flatMap {
      case ar: AttributeReference => Some(ar.name.toLowerCase -> ar.name)
      case Alias(ar: AttributeReference, n) => Some(ar.name.toLowerCase -> n)
      case _ => None
    }.toMap
    val classes = equivClasses(view.joinConjuncts)
    def equivalents(n: String): Seq[String] =
      n +: classes.filter(_.contains(n)).flatten.filterNot(_ == n)
    val scan = viewScan(viewPath)
    val scanByName = scan.output.map(a => a.name.toLowerCase -> a).toMap
    def viewAttrFor(name: String): Option[Attribute] =
      equivalents(name).iterator
        .flatMap(n => baseToViewCol.get(n))
        .flatMap(v => scanByName.get(v.toLowerCase))
        .nextOption()
    val needed = (q.projList.flatMap(_.references) ++
      leftover.flatMap(_.references)).map(_.name.toLowerCase).toSet
    if (!needed.forall(n => viewAttrFor(n).isDefined)) return None
    def remap(e: Expression): Option[Expression] = {
      var ok = true
      val r = e.transformUp {
        case a: AttributeReference =>
          viewAttrFor(a.name.toLowerCase) match {
            case Some(v) if v.dataType == a.dataType => v
            case _ => ok = false; a
          }
      }
      if (ok) Some(r) else None
    }
    val newCond = leftover
      .map(c => remap(c).getOrElse(return None)).reduceOption(And)
    val filtered = newCond.map(Filter(_, scan)).getOrElse(scan)
    val newProj: Seq[NamedExpression] = q.projList.map {
      case ar: AttributeReference =>
        val v = remap(ar).getOrElse(return None)
        Alias(v, ar.name)(exprId = ar.exprId, qualifier = ar.qualifier)
      case al @ Alias(child, n) =>
        val rc = remap(child).getOrElse(return None)
        Alias(rc, n)(exprId = al.exprId, qualifier = al.qualifier)
      case _ => return None
    }
    Some(Project(newProj, filtered))
  }
}

object RewriteQueryByMaterialView {
  private val inRewrite = new ThreadLocal[Boolean] {
    override def initialValue(): Boolean = false
  }

  /** Run `f` with the rewrite rule suppressed on this thread — used while
    * materializing a view so its recorded lineage points at BASE tables. */
  def withoutRewrite[T](f: => T): T = {
    val prev = inRewrite.get()
    inRewrite.set(true)
    try f finally inRewrite.set(prev)
  }

  /** (viewPath -> (info-at-analysis, analyzed view plan)); entries
    * self-invalidate when the stored info no longer equals the current
    * `_graft_mv.json` (refresh bumps relationVersions). */
  private val planCache =
    new ConcurrentHashMap[String, (MaterialViewInfo, LogicalPlan)]()

  private[mv] def invalidatePlanCache(viewPath: String): Unit =
    planCache.remove(viewPath)

  /** select-project-filter over a single graft relation. */
  case class Decomp(
      projList: Seq[NamedExpression], cond: Option[Expression], rel: LogicalPlan)

  private def stripAliases(p: LogicalPlan): LogicalPlan = p match {
    case SubqueryAlias(_, child) => stripAliases(child)
    case v: org.apache.spark.sql.catalyst.plans.logical.View => stripAliases(v.child)
    case other => other
  }

  private def isGraftRelation(p: LogicalPlan): Boolean = p match {
    case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
      r.table.isInstanceOf[graft.sources.GraftTableV2]
    case _ => false
  }

  /** Table path of an un-pinned graft relation (None for time-travel /
    * DML-internal pinned reads, which must not be rewritten). */
  def graftPath(p: LogicalPlan): Option[String] = p match {
    case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
      r.table match {
        case g: graft.sources.GraftTableV2 if !g.isPinned => Some(g.path)
        case _ => None
      }
    case _ => None
  }

  def decompose(p: LogicalPlan): Option[Decomp] = stripAliases(p) match {
    case Project(pl, f: Filter) =>
      decompose(f).map(d => d.copy(projList = pl))
    case Project(pl, child) =>
      val rel = stripAliases(child)
      if (isGraftRelation(rel)) Some(Decomp(pl, None, rel)) else None
    case Filter(c, child) =>
      val rel = stripAliases(child)
      if (isGraftRelation(rel)) Some(Decomp(rel.output, Some(c), rel)) else None
    case rel if isGraftRelation(rel) => Some(Decomp(rel.output, None, rel))
    case _ => None
  }

  /** What an aggregate reads: a bare graft relation, or an inner equi-join
    * TREE of N graft relations (side/interior filters are folded into the
    * decomp's conjuncts — they commute with inner joins). */
  sealed trait AggSource
  case class RelSource(rel: LogicalPlan) extends AggSource
  case class JoinSource(
      rels: Seq[LogicalPlan], joinConjuncts: Seq[Expression]) extends AggSource

  /** aggregate-filter over a graft relation or an inner equi-join tree. */
  case class AggDecomp(
      groupExprs: Seq[Expression], aggList: Seq[NamedExpression],
      conjuncts: Seq[Expression], source: AggSource)

  /** project-filter over an inner equi-join TREE of >=2 graft relations;
    * filters anywhere in the tree fold into `filterConjuncts` (they commute
    * with inner joins). */
  case class JoinDecomp(
      projList: Seq[NamedExpression], joinConjuncts: Seq[Expression],
      filterConjuncts: Seq[Expression],
      rels: Seq[LogicalPlan])

  /** Flatten an inner-join tree of (possibly filtered) graft relations into
    * (relations, join conjuncts, filter conjuncts). Join association /
    * commutation and filter placement all vanish in this form, so a
    * fact+N-dimension view matches a query regardless of the order the
    * planner (or the SQL author) joined the tables in — the reference parses
    * whole join trees the same way (`material_view/MaterialViewUtils
    * .scala:134-224`). Joins without a condition (cross joins) bail. */
  private def flattenJoinTree(
      p: LogicalPlan): Option[(Seq[LogicalPlan], Seq[Expression], Seq[Expression])] =
    stripAliases(p) match {
      case Join(l, r, Inner, Some(cond), _) =>
        for { lt <- flattenJoinTree(l); rt <- flattenJoinTree(r) }
          yield (lt._1 ++ rt._1, lt._2 ++ rt._2 ++ splitConjunction(cond),
            lt._3 ++ rt._3)
      case Filter(c, ch) =>
        flattenJoinTree(ch).map { case (rels, js, fs) =>
          (rels, js, fs ++ splitConjunction(c)) }
      // a pure column-pruning projection (a `SELECT *`/column subquery
      // between joins) keeps rows intact — transparent to containment
      case Project(pl, ch) if pl.forall(_.isInstanceOf[AttributeReference]) =>
        flattenJoinTree(ch)
      case rel if isGraftRelation(rel) => Some((Seq(rel), Nil, Nil))
      case _ => None
    }

  def decomposeAgg(p: LogicalPlan): Option[AggDecomp] = stripAliases(p) match {
    case Aggregate(g, a, child, _) =>
      def mk(conj: Seq[Expression], src: LogicalPlan): Option[AggDecomp] =
        stripAliases(src) match {
          case rel if isGraftRelation(rel) =>
            Some(AggDecomp(g, a, conj, RelSource(rel)))
          case j: Join =>
            flattenJoinTree(j).map { case (rels, js, fs) =>
              AggDecomp(g, a, conj ++ fs, JoinSource(rels, js)) }
          case _ => None
        }
      stripAliases(child) match {
        case Filter(c, ch) => mk(splitConjunction(c), ch)
        case other => mk(Nil, other)
      }
    case _ => None
  }

  def decomposeJoin(p: LogicalPlan): Option[JoinDecomp] = stripAliases(p) match {
    case Project(pl, ch) =>
      flattenJoinTree(ch).filter(_._1.length >= 2).map { case (rels, js, fs) =>
        JoinDecomp(pl, js, fs, rels) }
    case other =>
      flattenJoinTree(other).filter(_._1.length >= 2).map { case (rels, js, fs) =>
        JoinDecomp(rels.flatMap(_.output), js, fs, rels) }
  }

  /** Transitive closure of column-equality classes from a join's equi
    * conjuncts: `k1 = k2, k2 = k3` puts all three names in one class, so a
    * view projecting only `k1` serves queries touching `k3` (inner-join rows
    * satisfy the whole chain — the reference's `columnEqualInfo`). */
  def equivClasses(conjs: Seq[Expression]): Seq[Set[String]] = {
    var classes = Seq.empty[Set[String]]
    conjs.foreach {
      case EqualTo(x: AttributeReference, y: AttributeReference) =>
        val pair = Set(x.name.toLowerCase, y.name.toLowerCase)
        val (touching, rest) = classes.partition(c => (c & pair).nonEmpty)
        classes = touching.fold(pair)(_ ++ _) +: rest
      case _ => ()
    }
    classes
  }

  /** Deterministic per-comparison ExprId space: every lowercase column name
    * across both plans gets a fixed id, so expressions from INDEPENDENTLY
    * analyzed plans (the query and the view's SQL) become comparable with
    * `semanticEquals` after [[canonByName]]. */
  private def exprIdSpace(roots: Seq[Any]): Map[String, Long] = {
    val names = scala.collection.mutable.SortedSet.empty[String]
    def addExpr(e: Expression): Unit = e.foreach {
      case a: AttributeReference => names += a.name.toLowerCase
      case _ => ()
    }
    roots.foreach {
      case p: LogicalPlan =>
        p.foreach { n => n.expressions.foreach(addExpr); n.output.foreach(addExpr) }
      case e: Expression => addExpr(e)
      case _ => ()
    }
    names.toSeq.zipWithIndex.map { case (n, i) => n -> i.toLong }.toMap
  }

  /** Rebind every attribute to the shared name-keyed id space; None when a
    * name is outside the space (the expression cannot be compared). */
  private def canonByName(
      e: Expression, ids: Map[String, Long]): Option[Expression] = {
    var ok = true
    val r = e.transformUp {
      case a: AttributeReference =>
        ids.get(a.name.toLowerCase) match {
          case Some(id) => AttributeReference(a.name.toLowerCase, a.dataType,
            nullable = true)(exprId = ExprId(id), qualifier = Nil)
          case None => ok = false; a
        }
    }
    if (ok) Some(r) else None
  }

  private def sameExprSet(a: Seq[Expression], b: Seq[Expression]): Boolean =
    a.length == b.length &&
      a.forall(x => b.exists(_.semanticEquals(x))) &&
      b.forall(x => a.exists(_.semanticEquals(x)))

  /** Type coercion wraps columns in no-op casts (`cast(id#L as bigint) IN
    * (...)` with id already bigint) — strip them so the attribute patterns
    * below see the bare column. Only IDENTITY casts are removed. */
  private def stripIdentityCasts(e: Expression): Expression = e.transformUp {
    case c: Cast if c.child.dataType == c.dataType => c.child
  }

  def splitConjunction(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjunction(l) ++ splitConjunction(r)
    // analyzed plans keep BETWEEN as a RuntimeReplaceable node; split it
    // into its two bound comparisons so range analysis sees them
    case b: Between =>
      Seq(GreaterThanOrEqual(b.input, b.lower), LessThanOrEqual(b.input, b.upper))
        .map(stripIdentityCasts)
    case other => Seq(stripIdentityCasts(other))
  }

  private def splitDisjunction(e: Expression): Seq[Expression] = e match {
    case Or(l, r) => splitDisjunction(l) ++ splitDisjunction(r)
    case other => Seq(other)
  }

  /** Is the view conjunct `vc` implied by the query's predicate (i.e.
    * query rows ⊆ rows satisfying `vc`)? Checks, in order:
    *   - exact name-normalized match against a query conjunct;
    *   - OR-blocks (reference `material_view/OrInfo.scala`): implied when
    *     ANY disjunct is fully implied — each disjunct may itself be a
    *     conjunction, which must then be implied conjunct-by-conjunct;
    *   - IN-lists: implied by a query equality pinning the column to a
    *     member, or by a query IN over a subset of the values;
    *   - per-column range implication ([[impliedByBounds]]).
    */
  private def conjunctImplied(
      vc: Expression, qCanon: Seq[Expression], qConjuncts: Seq[Expression],
      bounds: Map[String, ColBounds],
      canon: Expression => Option[Expression]): Boolean = {
    val exact = canon(vc).exists(c => qCanon.exists(_.semanticEquals(c)))
    exact || (vc match {
      case _: Or =>
        splitDisjunction(vc).exists(d => splitConjunction(d).forall(c =>
          conjunctImplied(c, qCanon, qConjuncts, bounds, canon)))
      case In(a: AttributeReference, vs) if vs.forall(_.foldable) =>
        inListImplied(a, vs, qConjuncts, bounds)
      case _ => impliedByBounds(vc, bounds)
    })
  }

  /** View `a IN (vs)` is implied when the query pins `a` to a member of
    * `vs` (equality bounds) or filters on an IN over a SUBSET of `vs`. */
  private def inListImplied(
      a: AttributeReference, vs: Seq[Expression],
      qConjuncts: Seq[Expression], bounds: Map[String, ColBounds]): Boolean = {
    val ord = TypeUtils.getInterpretedOrdering(a.dataType)
    val viewVals = vs.map(litValue(_, a.dataType))
    if (viewVals.contains(null)) return false
    def isMember(x: Any): Boolean = viewVals.exists(v => ord.compare(x, v) == 0)
    val byEquality = bounds.get(a.name.toLowerCase).exists(b =>
      (b.lo, b.hi) match {
        case (Some(lo), Some(hi)) =>
          lo.inclusive && hi.inclusive &&
            ord.compare(lo.value, hi.value) == 0 && isMember(lo.value)
        case _ => false
      })
    byEquality || qConjuncts.exists {
      case In(qa: AttributeReference, qvs)
          if qa.name.equalsIgnoreCase(a.name) && qvs.forall(_.foldable) =>
        val qVals = qvs.map(litValue(_, a.dataType))
        !qVals.contains(null) && qVals.forall(isMember)
      case _ => false
    }
  }

  /** Literal value cast (up-cast only) to the attribute's type; null when
    * incomparable. Guarded: this rule runs at RESOLUTION time, before the
    * optimizer substitutes `current_date()`/`current_timestamp()` — those
    * are foldable yet Unevaluable here, and an unguarded eval would fail
    * the WHOLE query's analysis instead of just skipping the rewrite. */
  private def litValue(
      l: Expression, dt: org.apache.spark.sql.types.DataType): Any =
    try {
      if (l.dataType == dt) l.eval(null)
      else if (Cast.canUpCast(l.dataType, dt)) Cast(l, dt).eval(null)
      else null
    } catch { case scala.util.control.NonFatal(_) => null }

  /** (value, inclusive) bound. */
  private case class Bound(value: Any, inclusive: Boolean)
  private case class ColBounds(
      dataType: org.apache.spark.sql.types.DataType,
      lo: Option[Bound], hi: Option[Bound])

  /** Extract (attr name, cmp, literal value in the ATTRIBUTE's type) from a
    * conjunct; literals may be foldable expressions and may carry a narrower
    * type than the column (`id BETWEEN 2 AND 3` on a bigint column keeps int
    * literals) — they are up-cast before comparison. */
  private object AttrCmpLit {
    private def litVal(l: Expression,
        dt: org.apache.spark.sql.types.DataType): Any = litValue(l, dt)

    def unapply(e: Expression): Option[(String, String, Any,
        org.apache.spark.sql.types.DataType)] = e match {
      case GreaterThanOrEqual(a: AttributeReference, l) if l.foldable =>
        Some((a.name.toLowerCase, ">=", litVal(l, a.dataType), a.dataType))
      case GreaterThan(a: AttributeReference, l) if l.foldable =>
        Some((a.name.toLowerCase, ">", litVal(l, a.dataType), a.dataType))
      case LessThanOrEqual(a: AttributeReference, l) if l.foldable =>
        Some((a.name.toLowerCase, "<=", litVal(l, a.dataType), a.dataType))
      case LessThan(a: AttributeReference, l) if l.foldable =>
        Some((a.name.toLowerCase, "<", litVal(l, a.dataType), a.dataType))
      case EqualTo(a: AttributeReference, l) if l.foldable =>
        Some((a.name.toLowerCase, "=", litVal(l, a.dataType), a.dataType))
      // mirrored literal-first forms
      case GreaterThanOrEqual(l, a: AttributeReference) if l.foldable =>
        Some((a.name.toLowerCase, "<=", litVal(l, a.dataType), a.dataType))
      case GreaterThan(l, a: AttributeReference) if l.foldable =>
        Some((a.name.toLowerCase, "<", litVal(l, a.dataType), a.dataType))
      case LessThanOrEqual(l, a: AttributeReference) if l.foldable =>
        Some((a.name.toLowerCase, ">=", litVal(l, a.dataType), a.dataType))
      case LessThan(l, a: AttributeReference) if l.foldable =>
        Some((a.name.toLowerCase, ">", litVal(l, a.dataType), a.dataType))
      case EqualTo(l, a: AttributeReference) if l.foldable =>
        Some((a.name.toLowerCase, "=", litVal(l, a.dataType), a.dataType))
      case _ => None
    }
  }

  /** A query IN-list over foldable values narrows the column to
    * [min, max] — expand it so range implication sees those bounds. */
  private def expandForBounds(c: Expression): Seq[Expression] = c match {
    case In(a: AttributeReference, vs) if vs.nonEmpty && vs.forall(_.foldable) =>
      val vals = vs.map(litValue(_, a.dataType))
      if (vals.contains(null)) Seq(c)
      else {
        val sorted = vals.sorted(TypeUtils.getInterpretedOrdering(a.dataType))
        Seq(GreaterThanOrEqual(a, Literal.create(sorted.head, a.dataType)),
          LessThanOrEqual(a, Literal.create(sorted.last, a.dataType)))
      }
    case other => Seq(other)
  }

  /** Tightest per-column interval the query's conjuncts pin down. Conjuncts
    * of other shapes are ignored — sound, because they can only narrow the
    * query further. */
  private def columnBounds(conjuncts: Seq[Expression]): Map[String, ColBounds] = {
    var m = Map.empty[String, ColBounds]
    conjuncts.flatMap(expandForBounds).foreach {
      case AttrCmpLit(name, op, v, dt) if v != null =>
        val ord = TypeUtils.getInterpretedOrdering(dt)
        val cur = m.getOrElse(name, ColBounds(dt, None, None))
        def tighterLo(nb: Bound): Option[Bound] = cur.lo match {
          case Some(b) =>
            val c = ord.compare(nb.value, b.value)
            if (c > 0 || (c == 0 && !nb.inclusive)) Some(nb) else Some(b)
          case None => Some(nb)
        }
        def tighterHi(nb: Bound): Option[Bound] = cur.hi match {
          case Some(b) =>
            val c = ord.compare(nb.value, b.value)
            if (c < 0 || (c == 0 && !nb.inclusive)) Some(nb) else Some(b)
          case None => Some(nb)
        }
        val next = op match {
          case ">=" => cur.copy(lo = tighterLo(Bound(v, inclusive = true)))
          case ">" => cur.copy(lo = tighterLo(Bound(v, inclusive = false)))
          case "<=" => cur.copy(hi = tighterHi(Bound(v, inclusive = true)))
          case "<" => cur.copy(hi = tighterHi(Bound(v, inclusive = false)))
          case "=" => cur.copy(
            lo = tighterLo(Bound(v, inclusive = true)),
            hi = tighterHi(Bound(v, inclusive = true)))
        }
        m += name -> next
      case _ => ()
    }
    m
  }

  /** Is the view conjunct `vc` implied by the query's column bounds? */
  private def impliedByBounds(
      vc: Expression, bounds: Map[String, ColBounds]): Boolean = vc match {
    case AttrCmpLit(name, op, v, dt) if v != null =>
      bounds.get(name).exists { b =>
        val ord = TypeUtils.getInterpretedOrdering(dt)
        op match {
          case ">=" => b.lo.exists(l => ord.compare(l.value, v) >= 0)
          case ">" => b.lo.exists(l => ord.compare(l.value, v) > 0 ||
            (ord.compare(l.value, v) == 0 && !l.inclusive))
          case "<=" => b.hi.exists(h => ord.compare(h.value, v) <= 0)
          case "<" => b.hi.exists(h => ord.compare(h.value, v) < 0 ||
            (ord.compare(h.value, v) == 0 && !h.inclusive))
          case "=" => b.lo.exists(l => l.inclusive && ord.compare(l.value, v) == 0) &&
            b.hi.exists(h => h.inclusive && ord.compare(h.value, v) == 0)
        }
      }
    case _ => false
  }
}
