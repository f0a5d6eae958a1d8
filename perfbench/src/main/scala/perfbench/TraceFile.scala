package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** Writes a traced run: host context, the traced run's own end-to-end
  * figures, every span with its self time and the Spark counts attributed
  * to it, and the per-layer metrics. `report.py` reads this file. */
object TraceFile {

  private def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${q(k)}: $v" }.mkString("{", ", ", "}")

  private def num(d: Double): String = Main.fmt(d)

  def write(path: String, workload: String, ctx: Ctx, spans: Seq[Span], r: Recorder,
            layers: Map[String, Double], out: Outcome, setupS: Double, heapMb: Double): Unit = {
    val counts = Layers.attribute(spans, r)
    val self = Trace.selfTimes(spans)
    val spanJson = spans.map { s =>
      val c = counts.getOrElse(s.id, new SpanCounts)
      obj(Seq(
        "id" -> s.id.toString, "parent" -> s.parent.toString, "name" -> q(s.name),
        "lane" -> q(s.lane), "start_us" -> s.startUs.toString, "end_us" -> s.endUs.toString,
        "self_us" -> self(s.id).toString, "jobs" -> c.jobs.toString,
        "stages" -> c.stages.toString, "tasks" -> c.tasks.toString,
        "task_cpu_s" -> num(c.cpuNs / 1e9), "driver_gap_s" -> num(c.driverGapUs(s) / 1e6),
        "shuffle_read_bytes" -> c.shuffleRead.toString,
        "shuffle_write_bytes" -> c.shuffleWrite.toString,
        "planning_ms" -> num(c.planningMs), "exchanges" -> c.exchanges.toString))
    }
    val serve = counts.get(Layers.ServeKey).map(c => obj(Seq(
      "jobs" -> c.jobs.toString, "stages" -> c.stages.toString, "tasks" -> c.tasks.toString,
      "task_cpu_s" -> num(c.cpuNs / 1e9)))).getOrElse("{}")
    val json = obj(Seq(
      "workload" -> q(workload), "seed" -> ctx.seed.toString, "seconds" -> num(ctx.seconds),
      "host" -> obj(Seq(
        "nproc" -> Runtime.getRuntime.availableProcessors().toString,
        "spark_master" -> q(s"local[${ctx.cores}]"),
        "heap_max_mb" -> (Runtime.getRuntime.maxMemory / (1024 * 1024)).toString)),
      "setup_s" -> num(setupS), "heap_live_mb" -> num(heapMb),
      "end_to_end" -> obj(out.endToEnd.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) }),
      "units" -> out.units.map { case (a, b) => s"[$a, $b]" }.mkString("[", ", ", "]"),
      "timed_wall_s" -> num(out.timedWallS),
      "attempted" -> ctx.ops.attempted.toString, "failed" -> ctx.ops.failed.toString,
      "per_layer" -> obj(Metrics.PerLayer.map { case (n, _) => n -> num(layers.getOrElse(n, 0.0)) }),
      "serve_lane_counts" -> serve,
      "spans" -> spanJson.mkString("[\n", ",\n", "\n]")))
    val p = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.write(p, (json + "\n").getBytes(UTF_8))
  }
}
