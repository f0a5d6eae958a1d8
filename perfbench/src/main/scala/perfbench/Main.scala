package perfbench

import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession

/** What a workload hands back: its end-to-end figures (tracing off) and
  * the counts only it can see (requests served, log files, ...). The
  * listener-derived layer counts are added by [[Main]]. */
final case class Outcome(endToEnd: Map[String, Double], extras: Map[String, Double],
                         units: Seq[(Long, Long)]) {
  /** Wall time of the measured units, in seconds. */
  def timedWallS: Double = units.map(u => u._2 - u._1).sum / 1e6
}

final case class Ctx(fixture: String, work: String, seed: Long, seconds: Double,
                     cores: Int, ops: Ops)

trait Workload {
  /** Untimed warm-up in a throwaway directory: JIT, codegen and caches. */
  def warmUp(spark: SparkSession, ctx: Ctx): Unit
  /** The measured phase. */
  def run(spark: SparkSession, ctx: Ctx): Outcome
  /** Spans a traced run can only derive after the fact, from listener
    * records (phases inside a single engine call). */
  def derivedSpans(spans: Seq[Span], r: Recorder): Seq[Span] = Nil
}

object Workload {
  /** Runs the workload's repeated unit `min` times, and again while one
    * more unit as long as the last still fits in `seconds`. The fixed
    * minimum gives every median the same number of samples however fast
    * the host is. `unit` gets the unit's index and returns its timed
    * interval (epoch µs); work it does outside that interval, such as
    * output checks, is not timed. */
  def units(seconds: Double, min: Int)(unit: Int => (Long, Long)): Seq[(Long, Long)] = {
    val start = Trace.nowUs
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    def fits = out.lastOption.forall { case (a, b) => (Trace.nowUs - start + (b - a)) / 1e6 <= seconds }
    while (out.size < min || fits) {
      out += unit(out.size)
      HeapPeak.sample()
    }
    out.toSeq
  }
}

/** Live heap at its largest: occupancy right after forced collections,
  * sampled after every measured unit. Unlike raw occupancy, or the figure
  * after whichever collection happened to run, it does not depend on
  * when the collector ran. */
object HeapPeak {
  private var peakBytes = 0L

  def reset(): Unit = synchronized { peakBytes = 0L }

  def sample(): Unit = {
    System.gc()
    Thread.sleep(200) // let reference processing and Spark's cleaner catch up
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    synchronized { peakBytes = math.max(peakBytes, used) }
  }

  def peakMb: Double = {
    val bytes: Long = synchronized { peakBytes }
    bytes / (1024.0 * 1024.0)
  }
}

/** Benchmark entry point.
  *
  * Usage: perfbench.Main --workload <etl_cycle|query_mix|delta_lake>
  *   --seed <n> --seconds <s> --trace <0|1> --fixture <dir> --work <dir>
  *   [--trace-out <file>] [--digests <file>]
  *
  * Prints the host context, a human-readable summary and, as the last
  * line, the result JSON. Exits 1 when any operation failed or any
  * output check did not hold. */
object Main {

  val Workloads: Map[String, () => Workload] = Map(
    "etl_cycle" -> (() => new EtlCycle),
    "query_mix" -> (() => new QueryMix(Digest.load(digestsPath))),
    "delta_lake" -> (() => new DeltaLake))

  @volatile private var digestsPath = ""

  def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def parse(args: Array[String]): Map[String, String] =
    args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  /** What one run reports: its operation counts and its metrics. */
  final case class Result(attempted: Long, failed: Long, notes: Seq[String],
                          metrics: Seq[(String, Double, String)], timedWallS: Double) {
    def ok: Boolean = failed == 0
  }

  def execute(a: Map[String, String]): Result = {
    val workload = a.getOrElse("workload", sys.error("--workload is required"))
    digestsPath = a.getOrElse("digests", "")
    val make = Workloads.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val trace = a.get("trace").contains("1")
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val ctx = Ctx(
      fixture = a("fixture"), work = a("work"), seed = a.getOrElse("seed", "1").toLong,
      seconds = a.getOrElse("seconds", "10").toDouble, cores = cores, ops = new Ops)
    println(s"[perfbench] host nproc=${Runtime.getRuntime.availableProcessors()} " +
      s"local[$cores] heap_max_mb=${Runtime.getRuntime.maxMemory / (1024 * 1024)} " +
      s"java=${System.getProperty("java.version")} workload=$workload seed=${ctx.seed} " +
      s"seconds=${ctx.seconds} trace=${if (trace) 1 else 0}")

    val t0 = System.nanoTime()
    val spark = session(cores)
    try {
      graft.operators.Corpus.prime(spark, ctx.fixture)
      val primedS = (System.nanoTime() - t0) / 1e9
      val w = make()
      w.warmUp(spark, ctx.copy(work = s"${ctx.work}/warmup", ops = new Ops))
      val setupS = (System.nanoTime() - t0) / 1e9
      println(s"[perfbench] setup: session and priming ${fmt(primedS)} s, warm-up ${fmt(setupS - primedS)} s")

      val recorder = if (trace) {
        val r = new Recorder
        r.attach(spark)
        Trace.enable()
        Some(r)
      } else None
      HeapPeak.reset()
      val out = w.run(spark, ctx)
      val heapMb = HeapPeak.peakMb

      val metrics: Seq[(String, Double, String)] = recorder match {
        case None =>
          val e2e = out.endToEnd + ("setup_s" -> setupS)
          Metrics.EndToEnd.map { case (n, unit) =>
            (n, e2e.getOrElse(n, sys.error(s"workload $workload did not report $n")), unit)
          }
        case Some(r) =>
          org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
          r.detach(spark)
          val spans = Trace.spans ++ w.derivedSpans(Trace.spans, r)
          val layers = Layers.compute(spans, r, out.extras + ("jvm.heap_live_mb" -> heapMb), out.units)
          a.get("trace-out").foreach(p =>
            TraceFile.write(p, workload, ctx, spans, r, layers, out, setupS, heapMb))
          Metrics.PerLayer.map { case (n, unit) => (n, layers.getOrElse(n, 0.0), unit) }
      }
      val ops = ctx.ops
      Result(ops.attempted, ops.failed, ops.failureNotes, metrics, out.timedWallS)
    } finally spark.stop()
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    val r = execute(a)
    println(s"[perfbench] ${a("workload")} attempted=${r.attempted} failed=${r.failed} " +
      s"error_rate=${if (r.attempted == 0) 0.0 else r.failed.toDouble / r.attempted} " +
      s"timed_wall_s=${fmt(r.timedWallS)}")
    r.metrics.foreach { case (n, v, u) => println(s"[perfbench]   $n = ${fmt(v)} $u") }
    r.notes.foreach(f => println(s"[perfbench] FAILED: $f"))
    val metricJson = r.metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${fmt(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": ${r.ok}, "attempted": ${math.max(1L, r.attempted)}, """ +
      s""""failed": ${r.failed}, "metrics": {$metricJson}}""")
    System.out.flush()
    sys.exit(if (r.ok) 0 else 1)
  }

  def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}
