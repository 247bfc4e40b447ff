package graft

import graft.io.Par
import org.scalatest.funsuite.AnyFunSuite

class ParSpec extends AnyFunSuite {

  test("both: results of two branches come back in order") {
    assert(Par.both(1 + 1, "b") == ((2, "b")))
  }

  test("both: two failing branches throw the first, the second suppressed") {
    val a = new IllegalStateException("a failed")
    val b = new IllegalArgumentException("b failed")
    val thrown = intercept[IllegalStateException](Par.both[Int, Int](throw a, throw b))
    assert(thrown eq a)
    assert(thrown.getSuppressed.toSeq == Seq(b))
  }

  test("all: every failure after the first is suppressed into it") {
    val errs = (0 until 3).map(i => new RuntimeException(s"thunk $i"))
    val thunks: Seq[() => Int] = Seq(() => 7) ++ errs.map(e => () => throw e)
    val thrown = intercept[RuntimeException](Par.all(thunks))
    assert(thrown eq errs(0))
    assert(thrown.getSuppressed.toSeq == errs.tail)
    assert(Par.all(Seq(() => 1, () => 2)) == Seq(1, 2))
  }
}
