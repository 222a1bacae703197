package graftbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  test("the tail is the highest percentile with ten samples beyond it") {
    assert(Trace.tail(1 to 19 map (_.toDouble)).isEmpty)
    val t20 = Trace.tail(1 to 20 map (_.toDouble)).get
    assert(t20.label == "p50" && t20.value == 10.0 && t20.samples == 20)
    val t100 = Trace.tail(1 to 100 map (_.toDouble)).get
    assert(t100.label == "p90" && t100.value == 90.0)
    val t1000 = Trace.tail(1 to 1000 map (_.toDouble)).get
    assert(t1000.label == "p99" && t1000.value == 990.0)
    assert(Trace.tail(1 to 10000 map (_.toDouble)).get.label == "p99.9")
    // Order of the samples does not matter.
    assert(Trace.tail((1 to 100).reverse.map(_.toDouble)).get.value == 90.0)
  }

  test("median and nearest-rank percentile") {
    assert(Trace.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Trace.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(Trace.percentile(Vector(1.0, 2.0, 3.0, 4.0), 50) == 2.0)
    assert(Trace.percentile(Vector(1.0, 2.0, 3.0, 4.0), 100) == 4.0)
  }

  test("union length counts overlaps once") {
    assert(Trace.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L))) == 25L)
    assert(Trace.unionLength(Seq((0L, 10L), (2L, 3L))) == 10L)
    assert(Trace.unionLength(Seq((5L, 5L), (7L, 6L))) == 0L)
    assert(Trace.unionLength(Nil) == 0L)
  }

  test("self time is duration minus the covered part, children clipped to the span") {
    assert(Trace.selfTime((0L, 100L), Seq((10L, 20L), (15L, 30L))) == 80L)
    assert(Trace.selfTime((0L, 100L), Seq((-50L, 10L), (90L, 200L))) == 80L)
    assert(Trace.selfTime((0L, 100L), Seq((200L, 300L))) == 100L)
    assert(Trace.selfTime((0L, 100L), Seq((0L, 100L), (0L, 100L))) == 0L)
  }

  test("spans nest by the span open when they start") {
    val tr = new Tracer(true, None)
    tr.span("a") {
      tr.span("b") { tr.span("c")(()) }
      tr.span("d")(())
    }
    tr.span("e")(())
    val byName = tr.spans.map(s => s.name -> s).toMap
    assert(byName("a").parent == 0 && byName("e").parent == 0)
    assert(byName("b").parent == byName("a").id && byName("d").parent == byName("a").id)
    assert(byName("c").parent == byName("b").id)
    assert(Trace.descendants(byName("a").id, tr.spans).map(_.name).toSet == Set("b", "c", "d"))
    assert(tr.current == 0)
  }

  test("a disabled tracer only runs the body") {
    var ran = false
    Tracer.off.span("x") { ran = true }
    assert(ran && Tracer.off.spans.isEmpty)
  }

  test("rankings compare equal up to ties at the cut") {
    import IndexChurn.sameRanking
    assert(sameRanking(Seq(1L -> 3.0, 2L -> 2.0), Seq(1L -> 3.0, 2L -> 2.0)))
    assert(!sameRanking(Seq(1L -> 3.0, 2L -> 2.0), Seq(1L -> 3.0, 3L -> 1.9)))
    assert(sameRanking(Seq(1L -> 3.0, 2L -> 2.0), Seq(1L -> 3.0, 3L -> 2.0)))
    assert(!sameRanking(Seq(1L -> 3.0), Seq(1L -> 3.0, 2L -> 2.0)))
  }
}
