package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._

import graft.meta.{DataFileInfo, Snapshot}
import graft.tables.GraftTable

/** What one set-up hands its workload. */
final case class Ctx(spark: SparkSession, dir: String, seed: Long,
    rec: Recorder, checks: Checks)

/** Correctness mismatches of one run; any mismatch fails the run. */
final class Checks {
  val mismatches = mutable.ArrayBuffer.empty[String]
  def expect(ok: Boolean, what: => String): Unit =
    if (!ok && mismatches.size < 50) mismatches += what
  def sameRows(what: String, got: Seq[Row], want: Seq[Row]): Unit = {
    val g = got.map(_.toSeq.mkString("|")).sorted
    val w = want.map(_.toSeq.mkString("|")).sorted
    expect(g == w, s"$what: ${g.size} rows differ from the model's ${w.size} " +
      s"(first diff: ${g.diff(w).take(2).mkString(", ")} / " +
      s"${w.diff(g).take(2).mkString(", ")})")
  }
}

/** A user-visible figure printed in the run's report, by the name the
  * workload gives it (the gated end-to-end metrics are a subset, under
  * their role names). */
final case class Figure(name: String, value: Double, unit: String, note: String = "")

/** One workload: its constructor builds the fixtures of one set-up. Every
  * workload maps its steps onto the four roles that the gated end-to-end
  * metrics are named by:
  *
  *  - `ingest`: the committing call(s) of a round;
  *  - `serve`: one read a consumer waits on;
  *  - `batch`: one pass over a whole table or corpus;
  *  - `derive`: work that derives tables or results from others.
  *
  * `roles` names the step that plays each role. */
trait Workload {
  def roles: Map[String, String]
  /** One closed-loop round; `i` counts from 0 (the warm-up pass is -1). */
  def round(i: Int): Unit
  /** Untimed end-of-run checks and figures. */
  def finish(): Seq[Figure]
  /** Layer counters only the workload can read (snapshots, MV counters). */
  def layerCounters(): Map[String, Double]
}

/** The commit-side layer counters of one table, kept the same way by every
  * workload: the snapshot resolve after each commit (`meta`), what the
  * commits since the last call added (`write`), and the delta files per
  * bucket a read meets (`sources`). `table` is re-resolved on each call,
  * since some tables are replaced by their writer. */
final class CommitLog(rec: Recorder, table: () => GraftTable) {
  private var startVersion = -1L
  private var lastVersion = -1L
  private var lastFiles = Set.empty[String]
  private val filesPerCommit = mutable.ArrayBuffer.empty[Double]
  private val bytesPerRow = mutable.ArrayBuffer.empty[Double]
  private val fanins = mutable.ArrayBuffer.empty[Int]

  /** After the commits of `rows` rows: resolve the snapshot (timed under
    * `snapshot`) and return it with the files they added. Commits that rewrite
    * rather than write rows (compaction) pass `rows = 0` and count towards
    * the versions only. */
  def afterCommit(rows: Long): (Snapshot, Seq[DataFileInfo]) = {
    val snap = rec.step("snapshot", "meta")(table().snapshot)
    val v0 = if (lastVersion < 0) snap.version - 1 else lastVersion
    val added = snap.files.filterNot(f => lastFiles.contains(f.path))
    lastVersion = snap.version
    lastFiles = snap.files.map(_.path).toSet
    if (rec.recording) {
      if (startVersion < 0) startVersion = v0
      if (rows > 0) {
        filesPerCommit += added.size.toDouble / math.max(1L, snap.version - v0)
        bytesPerRow += added.map(_.size).sum.toDouble / rows
      }
    }
    (snap, added)
  }

  /** Before a read: the fan-in it meets (traced runs only). */
  def beforeRead(): Unit =
    if (rec.traced && rec.recording) fanins ++= Workload.fanIn(table().snapshot)

  def counters(): Map[String, Double] = {
    val snap = table().snapshot
    Map(
      "meta.versions" -> (snap.version - startVersion).toDouble,
      "meta.live_files" -> snap.files.size.toDouble,
      "write.files_per_commit" -> Workload.mean(filesPerCommit),
      "write.bytes_per_row" -> Workload.mean(bytesPerRow),
      "sources.fanin_max" -> fanins.maxOption.getOrElse(0).toDouble,
      "sources.fanin_mean" -> Workload.mean(fanins.map(_.toDouble)))
  }
}

object Workload {
  val ROLES = Seq("ingest", "serve", "batch", "derive")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "pk_ingest_serve" => new PkIngestServe(ctx)
    case "change_propagation" => new ChangePropagation(ctx)
    case "curation" => new Curation(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
  val NAMES = Seq("pk_ingest_serve", "change_propagation", "curation")

  def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest nearest-rank percentile with at least ten samples beyond
    * it, as (percentile, value); None below eleven samples. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    if (xs.size < 11) None
    else {
      val s = xs.sorted
      val rank = s.size - 10
      Some((100.0 * rank / s.size, s(rank - 1)))
    }

  /** p50 and tail figures of one step's samples. */
  def latency(name: String, xs: Seq[Double], withTail: Boolean): Seq[Figure] =
    if (xs.isEmpty) Seq(Figure(s"${name}_p50_ms", Double.NaN, "ms", "no samples"))
    else Figure(s"${name}_p50_ms", median(xs), "ms", s"n=${xs.size}") +:
      (if (!withTail) Nil else tail(xs) match {
        case Some((p, v)) => Seq(Figure(s"${name}_tail_ms", v, "ms",
          f"p$p%.1f of n=${xs.size}"))
        case None => Seq(Figure(s"${name}_tail_ms", Double.NaN, "ms",
          s"n=${xs.size} < 11: no percentile has ten samples beyond it"))
      })

  /** Order-independent (row count, row hash) of a frame: xxhash64 of every
    * column, summed exactly as a decimal. */
  def fingerprint(df: DataFrame): (Long, java.math.BigDecimal) = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(df.columns.toSeq.sorted.map(col): _*).cast("decimal(38,0)")))
      .head()
    (r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }

  /** Shuffle exchanges below the joins of an executed (possibly adaptive)
    * plan: 0 when both sides arrive partitioned alike. */
  def joinExchanges(plan: SparkPlan): Int =
    AqeWalk.collectWithSubqueries(plan) { case j: BaseJoinExec => j }
      .map(j => j.children.map(c => AqeWalk.collect(c) { case e: ShuffleExchangeLike => e }.size).sum)
      .sum

  private object AqeWalk extends AdaptiveSparkPlanHelper

  /** Data files per hash bucket (files outside buckets count as one). */
  def fanIn(snap: Snapshot): Seq[Int] =
    snap.files.groupBy(_.bucket).values.map(_.size).toSeq

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.format("graft").load(path)
}
