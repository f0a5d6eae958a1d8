package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** Every workload end to end on the smallest fixture: one unit each, all
  * output checks passing and every contracted metric reported. */
class SmokeSpec extends AnyFunSuite {
  private val bench = new java.io.File(".").getCanonicalPath

  private def args(w: String, trace: Int) = Map(
    "workload" -> w, "seed" -> "3", "seconds" -> "0", "trace" -> trace.toString,
    "fixture" -> s"$bench/fixtures/sf0.001",
    "digests" -> s"$bench/oracle/digests_sf0.001.json",
    "work" -> s"$bench/target/smoke/$w",
    "trace-out" -> s"$bench/target/smoke/trace_$w.json")

  for (w <- Main.Workloads.keys.toSeq.sorted)
    test(s"$w at sf0.001: no failed operation, every end-to-end metric positive") {
      val r = Main.execute(args(w, trace = 0))
      assert(r.failed == 0, r.notes.mkString("; "))
      assert(r.attempted > 0)
      assert(r.metrics.map(_._1) == Metrics.EndToEnd.map(_._1))
      r.metrics.foreach { case (n, v, _) => assert(v > 0, s"$n = $v") }
    }

  test("a traced run reports every per-layer metric and writes its span file") {
    try {
      val r = Main.execute(args("delta_lake", trace = 1))
      assert(r.failed == 0, r.notes.mkString("; "))
      assert(r.metrics.map(_._1) == Metrics.PerLayer.map(_._1))
      val m = r.metrics.map(x => x._1 -> x._2).toMap
      assert(m("delta.commit_busy_s") > 0 && m("sched.jobs") > 0 && m("gen.busy_s") == 0)
      assert(new java.io.File(s"$bench/target/smoke/trace_delta_lake.json").length > 0)
    } finally Trace.reset()
  }
}
