package graft.perfbench

import java.nio.file.Path

import Workload.mean

/** Per-layer metrics of a traced run, and the trace files it leaves. */
object Report {
  /** The unit of a per-layer metric, read off its name. */
  def unit(name: String): String =
    if (name.endsWith("_ms")) "ms"
    else if (name.endsWith("_s")) "s"
    else if (name.contains("bytes")) "bytes"
    else if (name.endsWith("_ratio") || name.endsWith("_precision")) "ratio"
    else "count"

  /** The per-layer metrics the run measured, by name; `run.py` selects the
    * ones BENCHMARK.json lists and reports a layer the workload left idle
    * as 0. */
  def perLayer(w: Workload, rec: Recorder, counters: Map[Int, SpanCounters],
      layer: Map[String, Double]): Seq[(String, (Double, String))] = {
    def of(step: String) = rec.spans.toSeq.filter(_.name == step).flatMap(s => counters.get(s.id))
    val serve = of(w.roles("serve"))
    val measured = Workload.ROLES.flatMap { r =>
      val cs = of(w.roles(r))
      Seq(s"$r.jobs" -> mean(cs.map(_.jobs.toDouble)),
        s"$r.task_s" -> mean(cs.map(_.taskS)),
        s"$r.shuffle_bytes" -> mean(cs.map(_.shuffleBytes.toDouble)),
        s"$r.driver_ms" -> mean(cs.map(_.driverMs)))
    } ++ Seq(
      "meta.snapshot_ms" -> mean(rec.ms("snapshot")),
      "rules.serve_plan_ms" -> mean(rec.ms("plan")),
      "rules.serve_tasks" -> mean(serve.map(_.tasks.toDouble)),
      "sources.serve_bytes_per_row" ->
        (if (rec.serveRows == 0) 0.0 else serve.map(_.inputBytes).sum.toDouble / rec.serveRows))
    (measured ++ layer.toSeq.sortBy(_._1)).map { case (n, v) => n -> (v, unit(n)) }
  }

  /** `spans.jsonl` (one span per line, with its listener counters) and
    * `summary.json` (this traced run's end-to-end and per-layer metrics
    * and per-op-kind listener counters) under `dir`. */
  def writeTrace(dir: Path, workload: String, seed: Long, rec: Recorder,
      counters: Map[Int, SpanCounters],
      endToEnd: Seq[(String, (Double, String))],
      perLayer: Seq[(String, (Double, String))]): Unit = {
    val lines = rec.spans.map { s =>
      val c = counters.getOrElse(s.id, SpanCounters(0, 0, 0, 0, 0, s.durMs))
      Json.obj(Seq("id" -> Json.num(s.id), "parent" -> Json.num(s.parent),
        "name" -> Json.str(s.name), "layer" -> Json.str(s.layer),
        "round" -> Json.num(s.round), "start_ms" -> Json.num(s.startMs.toDouble),
        "end_ms" -> Json.num(s.endMs.toDouble), "dur_ms" -> Json.num(s.durMs),
        "jobs" -> Json.num(c.jobs), "tasks" -> Json.num(c.tasks.toDouble),
        "task_s" -> Json.num(c.taskS), "shuffle_bytes" -> Json.num(c.shuffleBytes.toDouble),
        "input_bytes" -> Json.num(c.inputBytes.toDouble), "driver_ms" -> Json.num(c.driverMs)))
    }
    Main.write(dir.resolve("spans.jsonl"), lines.mkString("\n"))
    val ops = rec.spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, ss) =>
      val cs = ss.map(s => counters.getOrElse(s.id, SpanCounters(0, 0, 0, 0, 0, s.durMs)))
      name -> Json.obj(Seq("layer" -> Json.str(ss.head.layer),
        "n" -> Json.num(ss.size), "ms" -> Json.num(mean(ss.map(_.durMs))),
        "jobs" -> Json.num(mean(cs.map(_.jobs.toDouble))),
        "task_s" -> Json.num(mean(cs.map(_.taskS))),
        "shuffle_bytes" -> Json.num(mean(cs.map(_.shuffleBytes.toDouble))),
        "driver_ms" -> Json.num(mean(cs.map(_.driverMs)))))
    }
    Main.write(dir.resolve("summary.json"), Json.obj(Seq(
      "workload" -> Json.str(workload), "seed" -> Json.num(seed.toDouble),
      "end_to_end" -> Main.metrics(endToEnd), "per_layer" -> Main.metrics(perLayer),
      "ops" -> Json.obj(ops))))
  }
}
