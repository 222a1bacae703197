package graftbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  test("the corpus is a function of the seed") {
    val a = Gen.corpus(7L, 600)
    val b = Gen.corpus(7L, 600)
    val c = Gen.corpus(8L, 600)
    assert(a == b)
    assert(a.props == b.props)
    assert(a.docs != c.docs)
  }

  test("the corpus plants what its record says") {
    val c = Gen.corpus(3L, 2000)
    val byId = c.docs.map(d => d.id -> d).toMap
    assert(c.docs.length == 2000)
    assert(c.docs.map(_.id).distinct.length == c.docs.length)
    assert(c.exactClusters.nonEmpty && c.nearPairs.nonEmpty && c.junk.nonEmpty)
    c.exactClusters.foreach { cl =>
      assert(cl.length >= 2)
      assert(cl.map(byId(_).text).distinct.length == 1)
    }
    c.nearPairs.foreach { case (src, dup) => assert(byId(src).text != byId(dup).text) }
    // Planted copies never start from junk or from another plant.
    assert(!c.exactClusters.flatten.exists(c.junk))
    assert(c.props("junk_share") == c.junk.size / 2000.0)
  }

  test("microbatches and queries replay from the seed alone") {
    val a = new Gen.Churn(5L, 100)
    val b = new Gen.Churn(5L, 100)
    assert(a.base == b.base)
    assert((0 until 5).map(a.batch) == (0 until 5).map(b.batch))
    assert(a.query(3, 0) == b.query(3, 0))
    assert(a.batch(0).map(_.id).toSet.intersect(a.batch(1).map(_.id).toSet).isEmpty)
    assert(a.batch(0).forall(_.id > 100))
    assert(new Gen.Churn(6L, 100).batch(0) != a.batch(0))
  }

  test("review passes repeat texts within a pass and replay per seed") {
    val r = new Gen.Reviews(9L, 200)
    val p = r.pass(2)
    assert(p == new Gen.Reviews(9L, 200).pass(2))
    assert(p.map(_.id).distinct.length == 200)
    val repeats = 200 - p.map(_.text).distinct.length
    assert(repeats > 20 && repeats < 90, s"repeats $repeats")
    assert(p.exists(x => SemanticQuery.hasKeyword(x.text)))
  }
}
