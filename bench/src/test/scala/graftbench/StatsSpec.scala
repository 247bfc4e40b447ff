package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(7.0)) == 7.0)
    assertThrows[IllegalArgumentException](Stats.median(Nil))
  }

  test("nearest-rank percentile") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 50.0)
    assert(Stats.percentile(xs, 90) == 90.0)
    assert(Stats.percentile(xs, 100) == 100.0)
    assert(Stats.percentile(Seq(5.0, 1.0, 3.0), 50) == 3.0)
    assert(Stats.percentile(Seq(5.0, 1.0, 3.0), 99) == 5.0)
  }

  test("the supported percentile keeps at least ten samples beyond it") {
    assert(Stats.supportedPercentile(0).isEmpty)
    assert(Stats.supportedPercentile(19).isEmpty)
    assert(Stats.supportedPercentile(20).contains(50))
    assert(Stats.supportedPercentile(39).contains(50))
    assert(Stats.supportedPercentile(40).contains(75))
    assert(Stats.supportedPercentile(100).contains(90))
    assert(Stats.supportedPercentile(199).contains(90))
    assert(Stats.supportedPercentile(200).contains(95))
    assert(Stats.supportedPercentile(1000).contains(99))
    for (n <- 1 to 2000; p <- Stats.supportedPercentile(n))
      assert(n * (100 - p) >= 10 * 100, s"p$p of $n samples")
  }

  test("task skew is 1 for even stages and weights stages by task time") {
    assert(JobTagListener.skew(Nil) == 1.0)
    assert(JobTagListener.skew(Seq(Seq(10L, 10L, 10L))) == 1.0)
    // One stage of 4x skew (40 ms of tasks) next to an even stage of 360 ms.
    val s = JobTagListener.skew(Seq(Seq(4L, 4L, 16L, 16L), Seq(90L, 90L, 90L, 90L)))
    val want = (16.0 / 10.0 * 40 + 1.0 * 360) / 400
    assert(math.abs(s - want) < 1e-12)
  }

  test("tracer records named spans only when on") {
    val on = new Tracer(true)
    assert(on.span("a")(on.span("b")(41) + 1) == 42)
    assert(on.recorded.map(s => (s.name, s.parent)) == Seq(("a", -1), ("b", 0)))
    assert(on.seconds.keySet == Set("a", "b"))
    on.reset()
    assert(on.recorded.isEmpty)
    assert(Tracer.off.span("a")(1) == 1 && Tracer.off.recorded.isEmpty)
  }

  test("json output escapes strings and writes NaN as null") {
    assert(Json.str("a\"b\\c\n") == "\"a\\\"b\\\\c\\u000a\"")
    assert(Json.num(Double.NaN) == "null")
    assert(Json.num(1.5) == "1.5")
    assert(Json.obj(Seq("k" -> Json.arr(Seq("1", "2")))) == "{\"k\":[1,2]}")
  }
}
