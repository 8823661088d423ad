package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: set-ups, the timed closed loop, the checks and
  * the result file. `run.py` builds this program and is the command to
  * use; it prints the report and the result line.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --work <dir> --result <file> [--trace-dir <dir>]
  * }}}
  */
object Main {
  /** Set-ups per run; setup_s is the median set-up plus the warm-up pass. */
  val SETUPS = 3

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    require(Workload.NAMES.contains(workload), s"unknown workload $workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val work = Paths.get(args("work")).toAbsolutePath
    val rec = new Recorder(traced)
    val checks = new Checks
    val cores = math.min(Runtime.getRuntime.availableProcessors(), 4)

    def session(): SparkSession = {
      val spark = SparkSession.builder()
        .master(s"local[$cores]")
        .appName(s"perfbench-$workload")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.extensions", "graft.rules.GraftSparkSessionExtension")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      spark
    }

    // Set-up: session start and fixture build, repeated in fresh sessions
    // and directories; then one untimed warm-up pass over the last one,
    // which is the set-up measured. The warm-up runs once: a repeat would
    // cost a whole round per set-up, and the run's first pass is the one
    // that pays the cold JVM's compilation, as a user's first pass does.
    var spark: SparkSession = null
    var w: Workload = null
    val phases = (0 until SETUPS).map { k =>
      if (spark != null) { spark.stop(); SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession() }
      val t0 = System.nanoTime()
      spark = session()
      val t1 = System.nanoTime()
      w = Workload(workload, Ctx(spark, work.resolve(s"setup$k").toString, seed, rec, checks))
      val t2 = System.nanoTime()
      Seq(t1 - t0, t2 - t1).map(_ / 1e9)
    }
    val t3 = System.nanoTime()
    w.round(-1)
    val warmUpS = (System.nanoTime() - t3) / 1e9
    val setupS = Workload.median(phases.map(_.sum)) + warmUpS

    val ledger = new JobLedger
    if (traced) spark.sparkContext.addSparkListener(ledger)
    // collect the set-up's garbage now, not in a measured call
    System.gc()
    rec.recording = true
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    var errors = List.empty[String]
    while (System.nanoTime() < deadline) {
      rec.round = i
      val before = rec.attempted
      try rec.step("round", "client")(w.round(i))
      catch {
        case NonFatal(e) =>
          // a failure outside an op still costs the round one operation
          if (rec.attempted == before) { rec.attempted += 1; rec.failed += 1 }
          errors = s"round $i: $e" :: errors
          System.err.println(s"[perfbench] round $i failed: $e")
      }
      i += 1
    }
    rec.recording = false
    rec.round = -1
    val rounds = i
    val figures = try w.finish() catch {
      case NonFatal(e) =>
        checks.expect(ok = false, s"end-of-run check failed: $e"); Nil
    }
    val layer = w.layerCounters()
    val spanCounters =
      if (traced) { org.apache.spark.perfbench.ListenerBusDrain(spark.sparkContext)
        Attribution(rec.spans.toSeq, ledger) }
      else Map.empty[Int, SpanCounters]
    spark.stop()

    val endToEnd = Seq("setup_s" -> (setupS, "s")) ++
      Workload.ROLES.map { r =>
        val xs = rec.ms(w.roles(r))
        s"${r}_p50_ms" -> ((if (xs.isEmpty) Double.NaN else Workload.median(xs)), "ms")
      }
    val perLayer = if (traced) Report.perLayer(w, rec, spanCounters, layer) else Nil
    if (traced) Report.writeTrace(Paths.get(args("trace-dir")), workload, seed, rec,
      spanCounters, endToEnd, perLayer)

    val result = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "seed" -> Json.num(seed.toDouble),
      "seconds" -> Json.num(seconds),
      "rounds" -> Json.num(rounds.toDouble),
      // an operation that threw fails the run like a wrong answer: the
      // checks after a throw never ran, and its time is in no sample
      "correct" -> (if (checks.mismatches.isEmpty && errors.isEmpty && rec.failed == 0 &&
        rounds > 0) "true" else "false"),
      "attempted" -> Json.num(rec.attempted.toDouble),
      "failed" -> Json.num(rec.failed.toDouble),
      "mismatches" -> Json.arr(checks.mismatches.toSeq.map(Json.str)),
      "errors" -> Json.arr(errors.reverse.take(20).map(Json.str)),
      "setup_phases_s" -> Json.arr(phases.map(p => Json.arr(p.map(Json.num)))),
      "warm_up_s" -> Json.num(warmUpS),
      "end_to_end" -> metrics(endToEnd),
      "per_layer" -> metrics(perLayer),
      "figures" -> Json.arr(figures.map(f => Json.obj(Seq(
        "name" -> Json.str(f.name), "value" -> Json.num(f.value),
        "unit" -> Json.str(f.unit), "note" -> Json.str(f.note)))))))
    write(Paths.get(args("result")), result)
  }

  def metrics(ms: Seq[(String, (Double, String))]): String =
    Json.obj(ms.map { case (n, (v, u)) =>
      n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })

  def write(p: Path, s: String): Unit = {
    Files.createDirectories(p.toAbsolutePath.getParent)
    Files.write(p, (s + "\n").getBytes(StandardCharsets.UTF_8))
  }
}
