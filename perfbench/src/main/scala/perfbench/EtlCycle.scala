package perfbench

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicReference
import java.util.concurrent.locks.ReentrantReadWriteLock

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Schemas
import graft.streaming.{Ingest, PipelineMain, Serve, Synthesize}

/** Local-filesystem helpers for the benchmark's own bookkeeping. */
object LocalFs {
  def files(dir: String, keep: String => Boolean = _ => true): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (keep(f.getName)) Seq(f) else Nil
    walk(new java.io.File(dir))
  }

  def deleteRec(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
      f.delete()
    }
    rm(new java.io.File(path))
  }
}

/** One served response, as the open-loop reader saw it. */
final case class Response(dueUs: Long, sendUs: Long, endUs: Long, segment: String,
                          code: Int, batches: Set[Int], error: String = "")

/** The reference's pipeline, compressed: per cycle `Synthesize.cycle`,
  * `Ingest.drainAll` and `PipelineMain.publishResults` on one slice of the
  * fixture, `NBatches` cycles per pipeline instance, then
  * `PipelineMain.finishAndServe`. `Serve` runs throughout; one reader
  * thread requests `GET /results/<segment>` on an open-loop schedule,
  * except while a publish swaps the result directories (see [[swap]]).
  * The seed permutes the slice order and the reader's segment sequence. */
final class EtlCycle extends Workload {
  val NBatches = 3
  val RatePerS = 2.0
  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val schemas = Map(
    "orders" -> Schemas.stagedOrders,
    "lineitem" -> Schemas.stagedLineitem,
    "customer" -> Schemas.customer)
  private val mapper = new ObjectMapper()

  /** Held for writing across every publish, and for reading across every
    * request. `Serve` answers 500 when a request lists a segment's result
    * directory while the publish deletes and renames it (its
    * stale-while-republish fallback does not cover the listing), so the
    * reader sends no request while a publish runs and skips the ones due
    * then. */
  private val swap = new ReentrantReadWriteLock()

  private def publishing[T](body: => T): T = {
    swap.writeLock.lock()
    try body finally swap.writeLock.unlock()
  }

  /** Staged order key -> the slice (batch id) it belongs to. */
  private var keyBatch: Map[String, Int] = Map.empty
  private var expectedRows: Map[String, Long] = Map.empty

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  def warmUp(spark: SparkSession, ctx: Ctx): Unit = {
    val orders = graft.sources.Tables.orders(spark, ctx.fixture)
    keyBatch = orders.select("o_orderkey").collect().map { r =>
      val k = r.getLong(0)
      md5Hex(s"order:$k") -> (k % NBatches).toInt
    }.toMap
    // every slice is staged once per instance, so an instance stages
    // each fixture table whole (row counts from the parquet footers)
    expectedRows = Seq("orders", "lineitem", "customer").map(t =>
      t -> graft.operators.Corpus.parquetRows(spark, s"${ctx.fixture}/$t.parquet")).toMap
    val work = s"${ctx.work}/pipe"
    LocalFs.deleteRec(ctx.work)
    cycle(spark, ctx, work, 0)
    val srv = startServe(spark, s"$work/results")
    try Segments.foreach(s => get(srv.port, s))
    finally srv.stop()
    LocalFs.deleteRec(ctx.work)
  }

  /** One pipeline cycle on slice `batch`; returns when staging and the
    * drain ended. A traced run also counts the staged files the drain must
    * discover. */
  private def cycle(spark: SparkSession, ctx: Ctx, work: String, batch: Int,
                    lag: Set[String] => Unit = _ => ()): (Long, Long) = Trace.span(s"cycle/b$batch") {
    val staging = s"$work/staging"
    val tables = s"$work/tables"
    Trace.span(s"Synthesize.cycle/b$batch") {
      Synthesize.cycle(spark, ctx.fixture, staging, tables, batchId = batch, nBatches = NBatches)
    }
    val staged = Trace.nowUs
    if (Trace.enabled) lag(LocalFs.files(staging, _.endsWith(".json")).map(_.getPath).toSet)
    Trace.span(s"Ingest.drainAll/b$batch") {
      Ingest.drainAll(spark, staging, tables, s"$work/ckpt", schemas)
    }
    val drained = Trace.nowUs
    Trace.span(s"PipelineMain.publishResults/b$batch") {
      publishing(PipelineMain.publishResults(spark, work))
    }
    (staged, drained)
  }

  /** Start `Serve` from a thread tagged with the serving lane, so the
    * Spark jobs its HTTP dispatcher submits carry that tag. */
  private def startServe(spark: SparkSession, results: String): Serve = {
    val ref = new AtomicReference[Serve]()
    val t = new Thread(() => {
      spark.sparkContext.setLocalProperty(Trace.LaneKey, "serve")
      ref.set(Serve.start(spark, results, Segments))
    })
    t.start(); t.join()
    ref.get
  }

  private def get(port: Int, seg: String): (Int, String) = {
    val c = URI.create(s"http://127.0.0.1:$port/results/$seg").toURL.openConnection()
      .asInstanceOf[HttpURLConnection]
    c.setConnectTimeout(5000); c.setReadTimeout(30000)
    val code = c.getResponseCode
    val in = if (code < 400) c.getInputStream else c.getErrorStream
    val body = try new String(in.readAllBytes(), UTF_8) finally in.close()
    (code, body)
  }

  private def servedRows(body: String): Seq[(String, Double)] =
    mapper.readTree(body).elements().asScala.map(n =>
      (n.get("l_orderkey").asText(), n.get("revenue").asDouble())).toSeq

  /** Open-loop reader: request i is due at start + i / rate and is timed
    * from its due time, so a stall shows as latency on every request it
    * delays. A request due while a publish runs is skipped. It visits the
    * segments in rounds, each round a seeded permutation, so every segment
    * is read once per round. */
  private final class Reader(port: Int, seed: Long) extends Thread("perfbench-reader") {
    val responses = new ConcurrentLinkedQueue[Response]()
    @volatile var running = true
    @volatile var skipped = 0
    private val rng = new scala.util.Random(seed)
    setDaemon(true)
    override def run(): Unit = {
      val periodUs = (1e6 / RatePerS).toLong
      val start = Trace.nowUs
      var i = 0L
      var round = List.empty[String]
      while (running) {
        val due = start + i * periodUs
        val wait = due - Trace.nowUs
        if (wait > 0) Thread.sleep(wait / 1000, ((wait % 1000) * 1000).toInt)
        if (running && !swap.readLock.tryLock()) skipped += 1
        else if (running) try {
          if (round.isEmpty) round = rng.shuffle(Segments).toList
          val seg = round.head
          round = round.tail
          val send = Trace.nowUs
          val (code, batches, error) =
            try {
              val (c, body) = get(port, seg)
              (c, if (c == 200) servedRows(body).flatMap(r => keyBatch.get(r._1)).toSet else Set.empty[Int],
                if (c == 200) "" else body.take(200))
            } catch { case scala.util.control.NonFatal(e) => (-1, Set.empty[Int], e.toString) }
          val end = Trace.nowUs
          responses.add(Response(due, send, end, seg, code, batches, error))
          Trace.record(s"Serve.get/$seg", due, end, lane = "serve")
        } finally swap.readLock.unlock()
        i += 1
      }
    }
  }

  def run(spark: SparkSession, ctx: Ctx): Outcome = {
    val ops = ctx.ops
    val rng = new scala.util.Random(ctx.seed)
    val work = s"${ctx.work}/pipe"
    LocalFs.deleteRec(ctx.work)
    val srv = startServe(spark, s"$work/results")
    val reader = new Reader(srv.port, ctx.seed * 31 + 7)
    // (instance, batch, cycle start, staging end, drain end, publish end)
    val cycles = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Long, Long, Long, Long)]
    val lagFiles = scala.collection.mutable.ArrayBuffer.empty[Double]
    var compactIn, compactOut, compactBytes = 0.0
    reader.start()
    val units = try Workload.units(ctx.seconds, min = 1) { inst =>
      Seq("staging", "tables", "ckpt").foreach(d => LocalFs.deleteRec(s"$work/$d"))
      val order = rng.shuffle((0 until NBatches).toList)
      val u0 = Trace.nowUs
      var ok = true
      var seen = Set.empty[String]
      for (b <- order if ok) {
        val t0 = Trace.nowUs
        ops.attempt(s"instance $inst cycle on slice $b") {
          cycle(spark, ctx, work, b, pending => { lagFiles += (pending -- seen).size; seen = pending })
        } match {
          case Some((staged, drained)) => cycles += ((inst, b, t0, staged, drained, Trace.nowUs))
          case None => ok = false
        }
      }
      if (ok) {
        val before = if (Trace.enabled) LocalFs.files(s"$work/tables", _.endsWith(".parquet")) else Nil
        ok = ops.attempt(s"instance $inst finishAndServe") {
          Trace.span("PipelineMain.finishAndServe") {
            publishing(PipelineMain.finishAndServe(spark, ctx.fixture, work))
          }
        }.isDefined
        if (Trace.enabled) {
          val after = LocalFs.files(s"$work/tables", _.endsWith(".parquet"))
          compactIn += before.size; compactOut += after.size
          compactBytes += after.map(_.length).sum
        }
      }
      val u1 = Trace.nowUs
      if (ok) checkInstance(spark, ctx, work, srv.port, inst)
      (u0, u1)
    } finally {
      reader.running = false
      reader.join(60000)
      srv.stop()
    }
    println(s"[perfbench] reader: ${reader.responses.size} requests sent, " +
      s"${reader.skipped} skipped while a publish ran")
    val firstPublishUs = cycles.map(_._6).minOption.getOrElse(Long.MaxValue)

    // Freshness: for each cycle, the first response after its slice was
    // staged that carries that slice and no slice not yet staged.
    val responses = reader.responses.asScala.toSeq.sortBy(_.endUs)
    val fresh = scala.collection.mutable.ArrayBuffer.empty[Double]
    val pickup = scala.collection.mutable.ArrayBuffer.empty[Double]
    for (inst <- cycles.map(_._1).distinct) {
      val cs = cycles.filter(_._1 == inst)
      cs.indices.foreach { i =>
        val (_, b, _, staged, _, pub) = cs(i)
        val allowed = cs.take(i + 1).map(_._2).toSet
        responses.find(r => r.sendUs >= staged && r.batches.contains(b) && r.batches.subsetOf(allowed))
          .foreach(r => fresh += (r.endUs - staged) / 1e6)
        responses.find(r => r.sendUs >= pub && r.batches.contains(b) && r.batches.subsetOf(allowed))
          .foreach(r => pickup += (r.endUs - pub) / 1e3)
      }
    }
    val served = responses.filter(_.sendUs >= firstPublishUs)
    served.foreach(r => ops.check(r.code == 200, s"serve ${r.segment} answered ${r.code} ${r.error}"))
    val lat = served.filter(_.code == 200).map(r => (r.endUs - r.dueUs) / 1e3)
    val steady = cycles.groupBy(_._1).values.flatMap(_.drop(1)).map(c => (c._6 - c._3) / 1e6).toSeq
    ops.check(fresh.nonEmpty && lat.nonEmpty && steady.nonEmpty, "etl_cycle produced no samples")
    val n = units.size
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    Outcome(
      endToEnd = Map(
        "round_s" -> med(steady),
        // the reduce/publish step; request latency (serve.p50_ms) spread
        // between runs more than any bound allows, as it depends on how
        // much of a request's life overlaps the engine's busy phases
        "op_ms" -> med(cycles.map(c => (c._6 - c._5) / 1e3).toSeq),
        // the slice's result is in the served location once the cycle's
        // publish returns; when a reader first sees it is serve.freshness_s
        "result_s" -> med(cycles.map(c => (c._6 - c._4) / 1e6).toSeq)),
      extras = Map(
        "ingest.lag_files" -> lagFiles.sum / n,
        "compact.files_in" -> compactIn / n,
        "compact.files_out" -> compactOut / n,
        "compact.bytes_rewritten" -> compactBytes / n,
        "serve.requests" -> responses.size.toDouble / n,
        "serve.non_200" -> served.count(_.code != 200).toDouble / n,
        "serve.pickup_ms" -> med(pickup.toSeq),
        "serve.sched_late_ms" -> med(responses.map(r => (r.sendUs - r.dueUs) / 1e3)),
        "serve.p50_ms" -> med(lat),
        "serve.tail_ms" -> (if (lat.isEmpty) 0.0 else Stats.tail(lat)),
        "serve.freshness_s" -> med(fresh.toSeq)),
      units = units)
  }

  /** The compaction inside `finishAndServe` is one engine call away from
    * the benchmark, so its span is derived: from the start of
    * `finishAndServe` to the first write of a served result, which is
    * where the republish begins. */
  override def derivedSpans(spans: Seq[Span], r: Recorder): Seq[Span] = {
    val qeOut = r.qes.asScala.flatMap(q => q.outputPath.map(q.id -> _)).toMap
    val publishStarts = r.execs.asScala.toSeq
      .filter(e => e.qeId.flatMap(qeOut.get).exists(_.contains("/results/.stage_")))
      .map(_.startMs * 1000L)
    spans.filter(_.name == "PipelineMain.finishAndServe").flatMap { f =>
      publishStarts.filter(t => t >= f.startUs && t <= f.endUs).minOption.toSeq.flatMap { t =>
        Seq(Span(-f.id * 2, f.id, "Compact.compactTable", "main", f.startUs, t),
          Span(-f.id * 2 - 1, f.id, "PipelineMain.publishResults/finish", "main", t, f.endUs))
      }
    }
  }

  /** Output checks for one finished instance: ingested rows per table equal
    * the rows staged from the fixture, and every served top-50 equals an
    * independent recompute of the Q3 variant over the ingested tables. */
  private def checkInstance(spark: SparkSession, ctx: Ctx, work: String, port: Int, inst: Int): Unit = {
    val tables = s"$work/tables"
    for ((t, want) <- expectedRows) {
      val got = spark.read.parquet(s"$tables/$t").count()
      ctx.ops.check(got == want, s"instance $inst: $t has $got rows, staged $want")
    }
    val li = spark.read.parquet(s"$tables/lineitem")
    val ord = spark.read.parquet(s"$tables/orders")
    val cust = spark.read.parquet(s"$tables/customer")
    val cutoff = lit(Synthesize.OrdTgtHi).cast("timestamp")
    val rank = org.apache.spark.sql.expressions.Window.partitionBy("c_mktsegment")
      .orderBy(col("revenue").desc, col("l_orderkey"))
    val want = ord.filter(col("o_order_time") < cutoff)
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(li.filter(col("l_ship_time") > cutoff), col("o_orderkey") === col("l_orderkey"))
      .groupBy("c_mktsegment", "l_orderkey")
      .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .withColumn("rank", row_number().over(rank))
      .filter(col("rank") <= 60)
      .collect().groupBy(_.getString(0)).map { case (seg, rows) =>
        seg -> rows.sortBy(_.getInt(3)).map(r => (r.getString(1), r.getDouble(2))).toSeq }
    for (seg <- Segments) {
      val (code, body) = get(port, seg)
      val got = if (code == 200) servedRows(body) else Nil
      ctx.ops.check(code == 200 && EtlCycle.sameTop(got, want.getOrElse(seg, Nil), 50),
        s"instance $inst: served $seg top-50 differs from the recompute")
    }
  }
}

object EtlCycle {
  /** `got` is the served top-k of `want` (a longer recompute): the same
    * keys with the same revenues, up to ties within `tol` at the cut. */
  def sameTop(got: Seq[(String, Double)], want: Seq[(String, Double)], k: Int,
              tol: Double = 1e-2): Boolean = {
    if (got.size != math.min(k, want.size)) return false
    val w = want.toMap
    val cut = want.take(k).lastOption.map(_._2).getOrElse(0.0)
    val inWant = got.forall { case (key, rev) => w.get(key).exists(v => math.abs(v - rev) <= tol) }
    val missing = want.take(k).map(_._1).toSet -- got.map(_._1)
    val onlyTies = missing.forall(m => math.abs(w(m) - cut) <= tol)
    val ordered = got.sliding(2).forall {
      case Seq(a, b) => a._2 >= b._2 - tol
      case _ => true
    }
    inWant && onlyTies && ordered
  }
}
