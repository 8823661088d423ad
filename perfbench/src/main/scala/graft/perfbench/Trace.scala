package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** One timed call the benchmark makes into a Graft layer. `parent` is the
  * enclosing span's id (-1 at the top); `round` is the closed-loop round
  * the call belongs to (-1 during set-up). */
final case class Span(
    id: Int, parent: Int, name: String, layer: String, round: Int,
    startMs: Long, endMs: Long, durNs: Long) {
  def durMs: Double = durNs / 1e6
}

/** Samples and spans of one run, recorded from the single client thread.
  *
  *  - [[op]] wraps one public Graft call: it counts as an attempted
  *    operation, and a throw counts as a failed one.
  *  - [[step]] wraps a group of calls the workload times as one unit (a
  *    DML round, a dedup chain); it is not an operation of its own.
  *
  * Both record the wall time under their name. Spans are kept only in a
  * traced run, in memory, and written when the run ends. */
final class Recorder(val traced: Boolean) {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val spans = mutable.ArrayBuffer.empty[Span]
  var round = -1
  var attempted = 0L
  var failed = 0L
  /** Rows the serve role returned, for input bytes per returned row. */
  var serveRows = 0L
  private var stack: List[Int] = Nil
  private var nextId = 0
  /** Set-up and warm-up run the same calls untimed: nothing is kept. */
  var recording = false

  def op[T](name: String, layer: String)(body: => T): T = {
    if (recording) attempted += 1
    try timed(name, layer)(body)
    catch { case e: Throwable => if (recording) failed += 1; throw e }
  }

  def step[T](name: String, layer: String)(body: => T): T =
    timed(name, layer)(body)

  private def timed[T](name: String, layer: String)(body: => T): T = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val r = body
      val durNs = System.nanoTime() - t0
      if (recording) {
        samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += durNs / 1e6
        if (traced) spans += Span(id, parent, name, layer, round, startMs,
          System.currentTimeMillis(), durNs)
      }
      r
    } finally stack = stack.tail
  }

  def ms(name: String): Seq[Double] = samples.get(name).map(_.toSeq).getOrElse(Nil)
}

/** Spark-listener counters, the ones `graft.Inspect` prints (jobs, stages,
  * tasks, task time) plus shuffle and input bytes, kept per job and stage
  * so a traced run can attribute them to the span each job ran under. */
final class JobLedger extends SparkListener {
  val jobs = mutable.ArrayBuffer.empty[LedgerJob]
  private val byId = mutable.HashMap.empty[Int, LedgerJob]
  val stages = mutable.HashMap.empty[Int, StageAcc]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val j = LedgerJob(e.jobId, e.time, e.stageIds)
    jobs += j; byId(e.jobId) = j
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byId.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = stages.getOrElseUpdate(e.stageId, new StageAcc)
    a.tasks += 1
    if (e.taskInfo != null) a.taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.inputBytes += m.inputMetrics.bytesRead
    }
  }
}

final case class LedgerJob(id: Int, submitMs: Long, stages: Seq[Int]) {
  @volatile var endMs: Long = -1L
}

final class StageAcc {
  var tasks = 0L; var taskMs = 0L; var shuffleRead = 0L; var shuffleWrite = 0L
  var inputBytes = 0L
}

/** Listener counters summed over the jobs submitted inside one span. */
final case class SpanCounters(
    jobs: Int, tasks: Long, taskS: Double, shuffleBytes: Long,
    inputBytes: Long, driverMs: Double)

object Attribution {
  /** Inclusive counters per span: every job submitted inside the span's
    * interval belongs to it (and to its ancestors). The client is a single
    * closed-loop thread, so no other call's jobs run in that interval.
    * `driverMs` is the span's wall time minus the part its jobs cover. */
  def apply(spans: Seq[Span], ledger: JobLedger): Map[Int, SpanCounters] =
    ledger.synchronized {
      val owner = mutable.HashMap.empty[Int, Int]
      // a stage listed by several jobs (reuse) belongs to the first
      ledger.jobs.sortBy(_.id).foreach(j => j.stages.foreach(s =>
        if (!owner.contains(s)) owner(s) = j.id))
      val jobsSorted = ledger.jobs.sortBy(_.submitMs).toIndexedSeq
      spans.map { s =>
        val js = jobsSorted.filter(j => j.submitMs >= s.startMs && j.submitMs <= s.endMs)
        val accs = js.flatMap(j => j.stages.filter(owner.get(_).contains(j.id)))
          .flatMap(ledger.stages.get)
        val covered = unionMs(js.map(j =>
          (j.submitMs, math.min(if (j.endMs < 0) s.endMs else j.endMs, s.endMs))))
        s.id -> SpanCounters(js.size, accs.map(_.tasks).sum,
          accs.map(_.taskMs).sum / 1000.0,
          accs.map(a => a.shuffleRead + a.shuffleWrite).sum,
          accs.map(_.inputBytes).sum,
          math.max(0.0, s.durMs - covered))
      }.toMap
    }

  private def unionMs(iv: Seq[(Long, Long)]): Double = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) { total += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    total += curE - curS
    total.toDouble
  }
}

/** Minimal JSON writer: the benchmark prints and stores flat records only. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(items: Seq[String]): String = items.mkString("[", ",", "]")
}
