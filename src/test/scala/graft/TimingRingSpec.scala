package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core.TimingRing

class TimingRingSpec extends AnyFunSuite {

  test("TimingRing keeps the newest cap entries in call order; a drain " +
      "empties it") {
    val ring = new TimingRing(3)
    (1L to 5L).foreach(ring.add)
    assert(ring.drain() == Seq(3L, 4L, 5L))
    assert(ring.drain().isEmpty, "a second drain returns nothing")
    // time() records one entry per call, also when the body throws.
    assert(ring.time(42) == 42)
    intercept[IllegalStateException](ring.time(throw new IllegalStateException))
    assert(ring.drain().size == 2)
  }
}
