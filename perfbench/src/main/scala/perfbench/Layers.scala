package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Metric names and units: the benchmark's contract with BENCHMARK.json. */
object Metrics {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "round_s" -> "s", "op_ms" -> "ms", "result_s" -> "s")

  val PerLayer: Seq[(String, String)] = Seq(
    "gen.busy_s" -> "s", "gen.jobs" -> "count", "gen.rows" -> "count", "gen.bytes_written" -> "bytes",
    "ingest.busy_s" -> "s", "ingest.batches" -> "count", "ingest.rows" -> "count",
    "ingest.lifecycle_s" -> "s", "ingest.add_batch_ms" -> "ms", "ingest.commit_ms" -> "ms",
    "ingest.discovery_ms" -> "ms", "ingest.planning_ms" -> "ms", "ingest.lag_files" -> "count",
    "reduce.busy_s" -> "s", "reduce.jobs" -> "count", "reduce.stages" -> "count",
    "reduce.files_scanned" -> "count", "reduce.input_bytes" -> "bytes",
    "compact.busy_s" -> "s", "compact.files_in" -> "count", "compact.files_out" -> "count",
    "compact.bytes_rewritten" -> "bytes",
    "serve.requests" -> "count", "serve.non_200" -> "count", "serve.pickup_ms" -> "ms",
    "serve.sched_late_ms" -> "ms", "serve.p50_ms" -> "ms", "serve.tail_ms" -> "ms",
    "serve.freshness_s" -> "s",
    "delta.commit_busy_s" -> "s", "delta.read_busy_s" -> "s", "delta.checkpoint_busy_s" -> "s",
    "delta.optimize_busy_s" -> "s", "delta.vacuum_busy_s" -> "s", "delta.log_files" -> "count",
    "delta.live_files" -> "count", "delta.write_amp" -> "ratio", "delta.space_amp" -> "ratio",
    "delta.commit_tail_ms" -> "ms", "delta.read_p50_ms" -> "ms", "delta.read_tail_ms" -> "ms",
    "query.tpch.busy_s" -> "s", "query.dedup.busy_s" -> "s", "query.ann.busy_s" -> "s",
    "query.graph.busy_s" -> "s", "query.text.busy_s" -> "s", "query.curation.busy_s" -> "s",
    "query.planning_ms" -> "ms", "query.exchanges" -> "count", "query.tail_ms" -> "ms",
    "sched.jobs" -> "count", "sched.stages" -> "count", "sched.tasks" -> "count",
    "sched.task_cpu_s" -> "s", "sched.task_run_s" -> "s", "sched.driver_gap_s" -> "s",
    "sched.shuffle_read_bytes" -> "bytes", "sched.shuffle_write_bytes" -> "bytes",
    "sched.spill_bytes" -> "bytes", "sched.failed_tasks" -> "count",
    "jvm.heap_live_mb" -> "MB")
}

/** Spark-side counts attributed to one span. */
final class SpanCounts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var inputBytes = 0L
  var recordsWritten = 0L
  var bytesWritten = 0L
  var stageIntervalsUs = List.empty[(Long, Long)]
  var planningMs = 0.0
  var exchanges = 0L
  var filesScanned = 0L
  var batches = 0L
  var inputRows = 0L
  var triggerIntervalsUs = List.empty[(Long, Long)]
  val durationsMs = mutable.Map.empty[String, Long].withDefaultValue(0L)

  def driverGapUs(span: Span): Long =
    span.durUs - Trace.unionLength(stageIntervalsUs.map { case (s, e) =>
      (math.max(s, span.startUs), math.min(e, span.endUs)) })
}

/** Attribution of listener counts to spans, and the per-layer metrics. */
object Layers {

  /** Layer of a span name: the part before any `/` qualifier. */
  def layer(name: String): String = name.takeWhile(_ != '/')

  /** Serving-lane counts go to one synthetic key. */
  val ServeKey: Long = -1L

  /** Innermost main-lane span open at `tUs`, if any. */
  private def innermost(main: IndexedSeq[Span], depth: Map[Long, Int], tUs: Long): Option[Span] = {
    val open = main.filter(s => s.startUs <= tUs && tUs <= s.endUs)
    if (open.isEmpty) None else Some(open.maxBy(s => (depth(s.id), s.startUs)))
  }

  def depths(spans: Seq[Span]): Map[Long, Int] = {
    val byId = spans.map(s => s.id -> s).toMap
    def d(s: Span, guard: Int = 0): Int =
      if (s.parent == 0L || guard > 64) 0 else byId.get(s.parent).map(p => 1 + d(p, guard + 1)).getOrElse(0)
    spans.map(s => s.id -> d(s)).toMap
  }

  /** Counts per span id ([[ServeKey]] for the serving lane). */
  def attribute(spans: Seq[Span], r: Recorder): Map[Long, SpanCounts] = {
    val main = spans.filter(_.lane == "main").toIndexedSeq
    val depth = depths(spans)
    val out = mutable.Map.empty[Long, SpanCounts]
    def at(key: Long) = out.getOrElseUpdate(key, new SpanCounts)
    val jobKey = mutable.Map.empty[Int, Long]
    val execKey = mutable.Map.empty[Long, Long]
    for (j <- r.jobs.asScala) {
      val key =
        if (j.lane == "serve") Some(ServeKey)
        else innermost(main, depth, j.startMs * 1000L).map(_.id)
      key.foreach { k =>
        jobKey(j.jobId) = k
        if (j.execId >= 0 && !execKey.contains(j.execId)) execKey(j.execId) = k
        at(k).jobs += 1
      }
    }
    for (s <- r.stages.values.asScala; k <- jobKey.get(s.jobId)) {
      val c = at(k)
      c.stages += 1
      c.tasks += s.tasks; c.failedTasks += s.failedTasks
      c.cpuNs += s.cpuNs; c.runMs += s.runMs
      c.shuffleRead += s.shuffleRead; c.shuffleWrite += s.shuffleWrite; c.spill += s.spill
      c.inputBytes += s.inputBytes
      c.recordsWritten += s.recordsWritten; c.bytesWritten += s.bytesWritten
      if (s.endMs >= s.submitMs && s.submitMs > 0)
        c.stageIntervalsUs ::= ((s.submitMs * 1000L, s.endMs * 1000L))
    }
    // the SQL listener keys its records by query-execution id; the
    // execution-end event joins that id to the jobs' execution id
    val execOf = r.execs.asScala.flatMap(e => e.qeId.map(_ -> e)).toMap
    for (q <- r.qes.asScala; e <- execOf.get(q.id)) {
      val key = execKey.get(e.id).orElse(innermost(main, depth, e.startMs * 1000L).map(_.id))
      key.foreach { k =>
        val c = at(k)
        c.planningMs += q.planningMs
        c.exchanges += q.exchanges
        c.filesScanned += q.filesScanned
      }
    }
    for (p <- r.progress.asScala; s <- innermost(main, depth, p.startMs * 1000L)) {
      val c = at(s.id)
      if (p.inputRows > 0) c.batches += 1
      c.inputRows += p.inputRows
      c.triggerIntervalsUs ::= ((p.startMs * 1000L, (p.startMs + p.durations.getOrElse("triggerExecution", 0L)) * 1000L))
      p.durations.foreach { case (k, v) => c.durationsMs(k) += v }
    }
    out.toMap
  }

  /** Per-layer metrics, each divided by `units` (the workload's repeated
    * unit: a pipeline instance, a query pass or a Delta history) so that a
    * faster program, which fits more units in a run, reports the same
    * counts. Layers a workload does not touch report 0. */
  def compute(spans: Seq[Span], r: Recorder, extras: Map[String, Double],
              units: Seq[(Long, Long)]): Map[String, Double] = {
    val counts = attribute(spans, r)
    val zero = new SpanCounts
    def of(prefix: String): Seq[(Span, SpanCounts)] =
      spans.filter(s => layer(s.name) == prefix).map(s => s -> counts.getOrElse(s.id, zero))
    def busyS(prefix: String) = of(prefix).map(_._1.durUs).sum / 1e6
    def sum(prefix: String)(f: SpanCounts => Double) = of(prefix).map(p => f(p._2)).sum
    val all = counts.values.toSeq
    val m = mutable.Map.empty[String, Double]

    m("gen.busy_s") = busyS("Synthesize.cycle")
    m("gen.jobs") = sum("Synthesize.cycle")(_.jobs)
    m("gen.rows") = sum("Synthesize.cycle")(_.recordsWritten)
    m("gen.bytes_written") = sum("Synthesize.cycle")(_.bytesWritten)

    val ing = of("Ingest.drainAll")
    m("ingest.busy_s") = busyS("Ingest.drainAll")
    m("ingest.batches") = ing.map(_._2.batches).sum
    m("ingest.rows") = ing.map(_._2.inputRows).sum
    // the drain runs one query per table concurrently: the lifecycle is
    // the drain's wall not covered by any query's micro-batch
    m("ingest.lifecycle_s") = ing.map { case (s, c) =>
      s.durUs - Trace.unionLength(c.triggerIntervalsUs.map { case (a, b) =>
        (math.max(a, s.startUs), math.min(b, s.endUs)) })
    }.sum / 1e6
    def dur(keys: String*) = ing.map { case (_, c) => keys.map(c.durationsMs).sum.toDouble }.sum
    m("ingest.add_batch_ms") = dur("addBatch")
    m("ingest.commit_ms") = dur("walCommit", "commitOffsets")
    m("ingest.discovery_ms") = dur("latestOffset", "getBatch")
    m("ingest.planning_ms") = dur("queryPlanning")

    m("reduce.busy_s") = busyS("PipelineMain.publishResults")
    m("reduce.jobs") = sum("PipelineMain.publishResults")(_.jobs)
    m("reduce.stages") = sum("PipelineMain.publishResults")(_.stages)
    m("reduce.files_scanned") = sum("PipelineMain.publishResults")(_.filesScanned)
    m("reduce.input_bytes") = sum("PipelineMain.publishResults")(_.inputBytes)

    m("compact.busy_s") = busyS("Compact.compactTable")

    m("delta.commit_busy_s") = busyS("DeltaLog.appendBatch")
    m("delta.read_busy_s") = busyS("DeltaLog.read")
    m("delta.checkpoint_busy_s") = busyS("DeltaLog.maybeCheckpoint")
    m("delta.optimize_busy_s") = busyS("DeltaLog.optimize")
    m("delta.vacuum_busy_s") = busyS("DeltaLog.vacuum")

    for (mod <- Seq("tpch", "dedup", "ann", "graph", "text", "curation"))
      m(s"query.$mod.busy_s") = busyS(s"query.$mod")
    val queries = spans.filter(_.name.startsWith("query.")).map(s => counts.getOrElse(s.id, zero))
    m("query.planning_ms") = queries.map(_.planningMs).sum
    m("query.exchanges") = queries.map(_.exchanges.toDouble).sum

    m("sched.jobs") = all.map(_.jobs).sum.toDouble
    m("sched.stages") = all.map(_.stages).sum.toDouble
    m("sched.tasks") = all.map(_.tasks).sum.toDouble
    m("sched.task_cpu_s") = all.map(_.cpuNs).sum / 1e9
    m("sched.task_run_s") = all.map(_.runMs).sum / 1e3
    m("sched.shuffle_read_bytes") = all.map(_.shuffleRead).sum.toDouble
    m("sched.shuffle_write_bytes") = all.map(_.shuffleWrite).sum.toDouble
    m("sched.spill_bytes") = all.map(_.spill).sum.toDouble
    m("sched.failed_tasks") = all.map(_.failedTasks).sum.toDouble
    val mainStages = counts.collect { case (k, c) if k != ServeKey => c.stageIntervalsUs }.flatten.toSeq
    m("sched.driver_gap_s") = units.map { case (u0, u1) =>
      (u1 - u0) - Trace.unionLength(mainStages.map { case (s, e) => (math.max(s, u0), math.min(e, u1)) })
    }.sum / 1e6

    val perUnit = m.map { case (k, v) => k -> v / math.max(1, units.size) }.toMap
    // workload-supplied figures are already per unit (or ratios)
    perUnit ++ extras
  }
}
