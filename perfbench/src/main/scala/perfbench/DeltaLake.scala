package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.streaming.DeltaLog

/** The Delta ingest path: a history of `Commits` txn-idempotent
  * `DeltaLog.appendBatch` commits of lineitem slices into a fresh table,
  * each followed by a `DeltaLog.read` of the latest snapshot running a
  * Q3-style aggregate (lineitem ⋈ orders ⋈ customer, revenue per market
  * segment). Checkpoints follow the default cadence of 10 commits,
  * `DeltaLog.optimize` runs every `OptimizeEvery` commits and
  * `DeltaLog.vacuum` closes the history. One batch is redelivered and must
  * be refused. The seed permutes the slice order and picks the
  * redelivered batch. Histories repeat until the run's time is up. */
final class DeltaLake extends Workload {
  val Commits = 10
  val OptimizeEvery = 4
  val CheckpointEvery = 10
  val AppId = "perfbench"

  private var sliceRows: Map[Int, Long] = Map.empty
  private var totalRevenue: java.math.BigDecimal = java.math.BigDecimal.ZERO

  /** Exact revenue: prices and discounts are cent-exact in the fixture. */
  private val exactRevenue =
    sum(col("l_extendedprice").cast("decimal(18,2)") * (lit(1) - col("l_discount").cast("decimal(4,2)")))

  private def slice(spark: SparkSession, ctx: Ctx, s: Int): DataFrame =
    Tables.lineitem(spark, ctx.fixture).filter(col("l_orderkey") % Commits === s)

  /** The reader's query over the latest snapshot: rows and exact revenue
    * per customer market segment. */
  private def q3Style(spark: SparkSession, ctx: Ctx, table: String): Array[(String, Long, java.math.BigDecimal)] =
    DeltaLog.read(spark, table)
      .join(Tables.orders(spark, ctx.fixture), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, ctx.fixture), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), exactRevenue.as("revenue"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDecimal(2)))

  def warmUp(spark: SparkSession, ctx: Ctx): Unit = {
    val li = Tables.lineitem(spark, ctx.fixture)
    sliceRows = li.groupBy((col("l_orderkey") % Commits).cast("int")).count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    totalRevenue = li.agg(exactRevenue).head().getDecimal(0)
    LocalFs.deleteRec(ctx.work)
    history(spark, ctx, s"${ctx.work}/warm/lineitem", new scala.util.Random(0), commits = 2,
      optimizeEvery = 2, record = (_, _, _) => ())
    LocalFs.deleteRec(ctx.work)
  }

  /** Runs one history and returns its table path. `record` receives each
    * step.s (commit start, commit end, read end) in epoch µs. */
  private def history(spark: SparkSession, ctx: Ctx, table: String, rng: scala.util.Random,
                      commits: Int, optimizeEvery: Int,
                      record: (Long, Long, Long) => Unit): Unit = {
    val ops = ctx.ops
    val order = rng.shuffle((0 until Commits).toList).take(commits)
    val redeliver = rng.nextInt(commits)
    var rows = 0L
    for ((s, j) <- order.zipWithIndex) {
      val c0 = Trace.nowUs
      val committed = ops.attempt(s"commit $j") {
        Trace.span(s"commit/$j") {
          val ok = Trace.span(s"DeltaLog.appendBatch/$j") {
            DeltaLog.appendBatch(spark, table, AppId, j, slice(spark, ctx, s), checkpointEvery = 0)
          }
          Trace.span(s"DeltaLog.maybeCheckpoint/$j")(DeltaLog.maybeCheckpoint(spark, table, CheckpointEvery))
          ok
        }
      }
      ops.check(committed.contains(true), s"commit $j was not applied")
      rows += sliceRows.getOrElse(s, 0L)
      val c1 = Trace.nowUs
      val read = ops.attempt(s"read after commit $j") {
        Trace.span(s"DeltaLog.read/$j")(q3Style(spark, ctx, table))
      }
      val r1 = Trace.nowUs
      read.foreach(r => ops.check(r.map(_._2).sum == rows,
        s"read after commit $j saw ${r.map(_._2).sum} rows, want $rows"))
      if (j == redeliver) {
        val again = ops.attempt(s"redeliver $j") {
          Trace.span(s"DeltaLog.appendBatch/redeliver$j") {
            DeltaLog.appendBatch(spark, table, AppId, j, slice(spark, ctx, s), checkpointEvery = 0)
          }
        }
        ops.check(again.contains(false), s"redelivered batch $j was committed twice")
      }
      if ((j + 1) % optimizeEvery == 0)
        ops.attempt(s"optimize after commit $j")(Trace.span(s"DeltaLog.optimize/$j")(DeltaLog.optimize(spark, table)))
      record(c0, c1, r1)
    }
    ops.attempt("vacuum")(Trace.span("DeltaLog.vacuum")(DeltaLog.vacuum(spark, table, retentionMs = 0L)))
  }

  def run(spark: SparkSession, ctx: Ctx): Outcome = {
    val ops = ctx.ops
    val rng = new scala.util.Random(ctx.seed)
    LocalFs.deleteRec(ctx.work)
    val commitMs, readMs, resultS = scala.collection.mutable.ArrayBuffer.empty[Double]
    var logFiles, liveFiles, writeAmp, spaceAmp = 0.0
    val units = Workload.units(ctx.seconds, min = 1) { k =>
      val table = s"${ctx.work}/h$k/lineitem"
      val u0 = Trace.nowUs
      history(spark, ctx, table, rng, Commits, OptimizeEvery, (c0, c1, r1) => {
        commitMs += (c1 - c0) / 1e3
        readMs += (r1 - c1) / 1e3
        resultS += (r1 - c0) / 1e6
      })
      val u1 = Trace.nowUs
      // output checks and storage figures, outside the timed history
      val fin = q3Style(spark, ctx, table)
      ops.check(fin.map(_._2).sum == sliceRows.values.sum,
        s"history $k: final table has ${fin.map(_._2).sum} rows, want ${sliceRows.values.sum}")
      val rev = fin.map(_._3).foldLeft(java.math.BigDecimal.ZERO)(_ add _)
      ops.check(rev.compareTo(totalRevenue) == 0, s"history $k: revenue $rev, want $totalRevenue")
      val (_, live, _) = DeltaLog.snapshot(spark, table)
      val log = LocalFs.files(s"$table/_delta_log")
      val data = LocalFs.files(table, n => n.endsWith(".parquet")).filterNot(_.getPath.contains("_delta_log"))
      val liveBytes = live.map(p => new java.io.File(s"$table/$p").length).sum.toDouble
      val userBytes = DeltaLake.appendedBytes(log)
      logFiles += log.size
      liveFiles += live.size
      writeAmp += DeltaLake.writtenBytes(log) / math.max(1.0, userBytes)
      spaceAmp += (data.map(_.length).sum + log.map(_.length).sum) / math.max(1.0, liveBytes)
      (u0, u1)
    }
    val n = units.size.toDouble
    Outcome(
      endToEnd = Map(
        // a step's cost depends on its place in the history (replay
        // length, checkpoint and optimize cadence), so a round is the
        // mean step: the history's wall over its commits
        "round_s" -> units.map(u => (u._2 - u._1) / 1e6).sum / (units.size * Commits),
        "op_ms" -> Stats.median(commitMs.toSeq),
        "result_s" -> Stats.median(resultS.toSeq)),
      extras = Map(
        "delta.log_files" -> logFiles / n, "delta.live_files" -> liveFiles / n,
        "delta.write_amp" -> writeAmp / n, "delta.space_amp" -> spaceAmp / n,
        "delta.commit_tail_ms" -> Stats.tail(commitMs.toSeq),
        "delta.read_p50_ms" -> Stats.median(readMs.toSeq),
        "delta.read_tail_ms" -> Stats.tail(readMs.toSeq)),
      units = units)
  }
}

object DeltaLake {
  private val M = new com.fasterxml.jackson.databind.ObjectMapper()

  private def adds(log: Seq[java.io.File]): Seq[com.fasterxml.jackson.databind.JsonNode] =
    log.filter(_.getName.endsWith(".json")).sortBy(_.getName).flatMap { f =>
      scala.io.Source.fromFile(f, "UTF-8").getLines().toList.map(M.readTree).filter(_.has("add"))
        .map(_.get("add"))
    }

  /** Bytes of the data files the user's appends added (dataChange=true). */
  def appendedBytes(log: Seq[java.io.File]): Double =
    adds(log).filter(a => !a.has("dataChange") || a.get("dataChange").asBoolean(true))
      .map(_.get("size").asLong()).sum.toDouble

  /** Every byte the table's writers produced: each data file ever added
    * (appends and rewrites) plus the log itself. */
  def writtenBytes(log: Seq[java.io.File]): Double =
    adds(log).map(_.get("size").asLong()).sum.toDouble + log.map(_.length).sum
}
