package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.operators.{Corpus, Scratch}

/** One client, closed loop, over a fixed list of `SparkEntry.queries`
  * entries: two TPC-H entries, bound by per-query fixed cost (planning,
  * job launch, adaptive re-planning), and one entry from each corpus
  * operator module (dedup, vector search, graph, text, curation), bound
  * by expressions and shuffles; the dedup entry reads the session's
  * shared pair cache, which the warm-up fills. Each query is materialized through the noop
  * writer, the action the engine's own bench times. A run makes
  * `MinPasses` passes; the seed permutes the query order of every pass.
  * During warm-up every result is checked against a digest of the DuckDB
  * oracle's result, committed with the benchmark. */
final class QueryMix(digests: => Map[String, (Long, String)]) extends Workload {
  import QueryMix._

  /** Digest mismatches found during warm-up, charged to the measured run. */
  private var wrong = Map.empty[String, String]

  private def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  def warmUp(spark: SparkSession, ctx: Ctx): Unit = {
    spark.conf.set("spark.sql.shuffle.partitions",
      Corpus.shufflePartitions(spark, ctx.fixture).toString)
    val want = digests
    wrong = Names.flatMap { n =>
      val got = scala.util.Try(Digest.of(SparkEntry.queries(n)(spark, ctx.fixture)))
      Scratch.release()
      if (got.toOption.exists(want.get(n).contains)) None
      else Some(n -> s"$n: result ${got.fold(_.toString, _.toString)} != oracle ${want.get(n)}")
    }.toMap
  }

  def run(spark: SparkSession, ctx: Ctx): Outcome = {
    val ops = ctx.ops
    Names.foreach(n => ops.check(!wrong.contains(n), wrong.getOrElse(n, n)))
    val rng = new scala.util.Random(ctx.seed)
    val lat = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    val passes = Workload.units(ctx.seconds, MinPasses) { _ =>
      val p0 = Trace.nowUs
      for (n <- rng.shuffle(Names)) {
        val t0 = Trace.nowUs
        val ok = ops.attempt(s"query $n") {
          Trace.span(s"query.${module(n)}/$n")(noop(SparkEntry.queries(n)(spark, ctx.fixture)))
        }.isDefined
        if (ok) lat += (n -> (Trace.nowUs - t0) / 1e3)
        Trace.span("Scratch.release")(Scratch.release())
      }
      (p0, Trace.nowUs)
    }
    val rounds = passes.map(p => (p._2 - p._1) / 1e6)
    // each entry's median over the passes, then the mean over a half: a
    // median over mixed entries falls between two entries' latencies and
    // flips from run to run
    val perEntry = lat.groupBy(_._1).map { case (n, xs) => n -> Stats.median(xs.map(_._2).toSeq) }
    def meanOf(names: Seq[String]) = {
      val xs = names.flatMap(perEntry.get)
      if (xs.isEmpty) 0.0 else xs.sum / xs.size
    }
    Outcome(
      endToEnd = Map(
        "round_s" -> Stats.median(rounds),
        "op_ms" -> meanOf(Tpch),
        "result_s" -> meanOf(CorpusEntries) / 1e3),
      extras = Map("query.tail_ms" -> Stats.tail(lat.map(_._2).toSeq)),
      units = passes)
  }
}

object QueryMix {
  val Tpch: Seq[String] = Seq("q1_pricing", "q3_unshipped")
  val CorpusEntries: Seq[String] =
    Seq("dd_simhash", "ann_mmr_select", "gr_link_predict", "ta_keyphrase", "cu_winsorize")
  val MinPasses = 5
  val Names: Seq[String] = Tpch ++ CorpusEntries

  /** The operator module an entry belongs to (its span's layer). */
  def module(n: String): String =
    if (Tpch.contains(n)) "tpch"
    else n.takeWhile(_ != '_') match {
      case "dd" => "dedup"
      case "ann" => "ann"
      case "gr" => "graph"
      case "ta" => "text"
      case "cu" => "curation"
      case other => other
    }
}
