package perfbench

import org.scalatest.funsuite.AnyFunSuite

class OpsSpec extends AnyFunSuite {

  test("error rate is failed operations over attempted ones") {
    val ops = new Ops
    assert(ops.errorRate == 0.0)
    assert(ops.attempt("ok")(42).contains(42))
    assert(ops.attempt("throws")(throw new IllegalStateException("boom")).isEmpty)
    assert(!ops.check(ok = false, "wrong output"))
    assert(ops.check(ok = true, "right output"))
    assert(ops.attempted == 4)
    assert(ops.failed == 2)
    assert(ops.errorRate == 0.5)
    assert(ops.failureNotes.size == 2)
    assert(ops.failureNotes.head.contains("boom"))
  }

  test("a digest ignores row order and column order but not values") {
    val a = Digest.of(Seq("b", "a"), Seq(Seq(1, "x"), Seq(2, "y")))
    val b = Digest.of(Seq("a", "b"), Seq(Seq("y", 2), Seq("x", 1)))
    val c = Digest.of(Seq("a", "b"), Seq(Seq("y", 2), Seq("x", 3)))
    assert(a == b)
    assert(a != c)
    assert(Digest.render(0.1) == "0.1000000000000000055511151231257827021181583404541015625")
    assert(Digest.render(-0.0) == "0")
    assert(Digest.render(new java.math.BigDecimal("12.50")) == "12.5")
  }

  test("a served top-k matches its recompute up to ties at the cut") {
    val want = Seq("a" -> 9.0, "b" -> 8.0, "c" -> 7.0, "d" -> 7.0)
    assert(EtlCycle.sameTop(Seq("a" -> 9.0, "b" -> 8.0, "c" -> 7.0), want, 3))
    assert(EtlCycle.sameTop(Seq("a" -> 9.0, "b" -> 8.0, "d" -> 7.0), want, 3))
    assert(!EtlCycle.sameTop(Seq("a" -> 9.0, "c" -> 7.0, "d" -> 7.0), want, 3))
    assert(!EtlCycle.sameTop(Seq("a" -> 9.0, "b" -> 8.5, "c" -> 7.0), want, 3))
  }

  test("a run makes its fixed minimum of units even when no time is left") {
    var n = 0
    val units = Workload.units(seconds = 0, min = 3) { i => n += 1; (i.toLong, i.toLong + 1) }
    assert(n == 3 && units.size == 3)
  }
}
