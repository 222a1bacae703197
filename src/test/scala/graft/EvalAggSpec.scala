package graft

import org.apache.spark.sql.functions._
import graft.operators.Evals

class EvalAggSpec extends SparkSpec {
  import spark.implicits._

  private def choose(n: Int, k: Int): BigDecimal =
    if (k > n) BigDecimal(0)
    else (0 until k).foldLeft(BigDecimal(1))((a, i) =>
      a * (n - i) / BigDecimal(i + 1))

  test("passAtK equals the exact combinatorial formula on random counts") {
    val rng = new scala.util.Random(29)
    val rows = (0 until 30).flatMap { p =>
      val n = 12 + rng.nextInt(20)
      val c = rng.nextInt(n + 1)
      (0 until n).map(i => (p.toLong, i < c))
    }
    val got = Evals.passAtK(rows.toDF("problem", "ok"), "problem", "ok",
        Seq(1, 5, 10))
      .select("problem", "n", "c", "pass_at_10")
      .as[(Long, Long, Long, Double)].collect()
    got.foreach { case (_, n, c, p10) =>
      val expected = 1.0 -
        (choose((n - c).toInt, 10) / choose(n.toInt, 10)).toDouble
      assert(math.abs(p10 - expected) < 1e-12, s"n=$n c=$c")
    }
    // c = n must be exactly 1.0 (short-circuit, not 1 - tiny).
    val full = Evals.passAtK(Seq((1L, true), (1L, true)).toDF("p", "ok"),
      "p", "ok", Seq(2)).select("pass_at_2").as[Double].head()
    assert(full == 1.0)
    // n < k is rejected loudly.
    val e = intercept[IllegalArgumentException](
      Evals.passAtK(Seq((1L, true)).toDF("p", "ok"), "p", "ok", Seq(5))
        .collect())
    assert(e.getMessage.contains("fewer samples"))
  }

  test("calibrationReport + ece match the direct formula; perfect " +
      "calibration scores 0") {
    val rng = new scala.util.Random(41)
    val rows = (0 until 500).map { _ =>
      val c = rng.nextInt(129) / 128.0
      (c, rng.nextDouble() < c) // correctness drawn AT the confidence
    }
    val rep = Evals.calibrationReport(rows.toDF("conf", "ok"), "conf", "ok")
    val got = rep.select("bin", "n", "acc", "avg_conf")
      .as[(Int, Long, Double, Double)].collect().sortBy(_._1)
    got.foreach { case (b, n, acc, avg) =>
      val in = rows.filter(r => math.min((r._1 * 10).toInt, 9) == b)
      assert(in.size == n)
      assert(math.abs(acc - in.count(_._2).toDouble / n) < 1e-12)
      assert(math.abs(avg - in.map(_._1).sum / n) < 1e-12)
    }
    assert(Evals.ece(rep) >= 0.0 && Evals.ece(rep) <= 1.0)
    // Every sample at conf 0.75 with exactly 75% correct -> ece 0.
    val flat = (0 until 100).map(i => (0.75, i < 75))
    val e0 = Evals.ece(Evals.calibrationReport(flat.toDF("conf", "ok"),
      "conf", "ok"))
    assert(e0 == 0.0)
    // Out-of-range confidences are rejected loudly.
    intercept[IllegalArgumentException](Evals.calibrationReport(
      Seq((1.5, true)).toDF("conf", "ok"), "conf", "ok").collect())
  }

  test("rocAuc equals the brute-force pairwise probability with tie credit") {
    val rng = new scala.util.Random(37)
    val rows = (0 until 400).map(_ => (rng.nextInt(12), rng.nextBoolean()))
    val got = Evals.rocAuc(rows.toDF("score", "label"), "score", "label")
      .select("auc").as[Double].head()
    val pos = rows.filter(_._2).map(_._1)
    val neg = rows.filterNot(_._2).map(_._1)
    val wins = (for (p <- pos; n <- neg)
      yield if (p > n) 1.0 else if (p == n) 0.5 else 0.0).sum
    assert(math.abs(got - wins / (pos.size.toDouble * neg.size)) < 1e-12)
    // Perfectly separating score -> AUC exactly 1.
    val sep = (0 until 50).map(i => (i, i >= 25))
    assert(Evals.rocAuc(sep.toDF("score", "label"), "score", "label")
      .select("auc").as[Double].head() == 1.0)
    // Single-class labels are rejected loudly, not NaN'd silently.
    val onePos = (0 until 10).map(i => (i, true))
    val e = intercept[IllegalArgumentException](
      Evals.rocAuc(onePos.toDF("score", "label"), "score", "label").count())
    assert(e.getMessage.contains("both classes"), e.getMessage)
  }

  test("kendallTauB equals the brute-force pairwise form with full tie " +
      "handling; perfect / inverted orders hit exactly +-1") {
    val rng = new scala.util.Random(41)
    val rows = (0 until 300).map(_ => (rng.nextInt(7), rng.nextInt(5)))
    val got = Evals.kendallTauB(rows.toDF("a", "b"), "a", "b")
      .select("tau_b", "concordant", "discordant", "tie_a", "tie_b")
      .as[(Double, Long, Long, Long, Long)].head()
    var (c, d, ta, tb, joint) = (0L, 0L, 0L, 0L, 0L)
    for (i <- rows.indices; j <- i + 1 until rows.length) {
      val ((a1, b1), (a2, b2)) = (rows(i), rows(j))
      if (a1 == a2 && b1 == b2) joint += 1
      else if (a1 == a2) ta += 1
      else if (b1 == b2) tb += 1
      else if ((a1 < a2) == (b1 < b2)) c += 1
      else d += 1
    }
    val n0 = rows.length.toLong * (rows.length - 1) / 2
    val tau = (c - d).toDouble /
      math.sqrt((n0 - ta - joint).toDouble * (n0 - tb - joint).toDouble)
    assert((got._2, got._3, got._4, got._5) == ((c, d, ta, tb)))
    assert(math.abs(got._1 - tau) < 1e-6, s"${got._1} vs $tau")
    // strictly monotone pairs: tau exactly 1; reversed: exactly -1
    val mono = (0 until 50).map(i => (i, i * 2))
    assert(Evals.kendallTauB(mono.toDF("a", "b"), "a", "b")
      .select("tau_b").as[Double].head() == 1.0)
    val anti = (0 until 50).map(i => (i, -i))
    assert(Evals.kendallTauB(anti.toDF("a", "b"), "a", "b")
      .select("tau_b").as[Double].head() == -1.0)
    // histogram cap refuses loudly
    val wide = (0 until 5000).map(i => (i, i))
    val e = intercept[IllegalArgumentException](
      Evals.kendallTauB(wide.toDF("a", "b"), "a", "b",
        maxDistinctPairs = 100).count())
    assert(e.getMessage.contains("maxDistinctPairs"))
    // a constant column (zero denominator factor) and a 1-row frame are
    // rejected loudly instead of returning NaN — the rocAuc convention
    val const = (0 until 20).map(i => (3, i))
    val e2 = intercept[IllegalArgumentException](
      Evals.kendallTauB(const.toDF("a", "b"), "a", "b").count())
    assert(e2.getMessage.contains("distinct value"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException](
      Evals.kendallTauB(Seq((1, 2)).toDF("a", "b"), "a", "b").count())
    assert(e3.getMessage.contains("distinct value"), e3.getMessage)
  }

  test("fleissKappa: hand formula, perfect agreement, and panel validation") {
    // Fleiss 1971's worked structure: 3 items x 4 raters.
    val rows = Seq(
      (1, "x"), (1, "x"), (1, "y"), (1, "y"),
      (2, "x"), (2, "x"), (2, "x"), (2, "x"),
      (3, "y"), (3, "y"), (3, "y"), (3, "z"))
    val got = Evals.fleissKappa(rows.toDF("item", "label"), "item", "label")
      .select("kappa", "p_bar", "p_e").as[(Double, Double, Double)].head()
    // Σn²: item1 = 2²+2² = 8, item2 = 4² = 16, item3 = 3²+1² = 10.
    val pBar = ((4.0 + 4) + 16.0 + (9.0 + 1) - 12) / (3 * 4 * 3)
    // Label totals: x = 6, y = 5, z = 1.
    val pe = (36.0 + 25.0 + 1.0) / (12.0 * 12.0)
    assert(math.abs(got._2 - pBar) < 1e-12 && math.abs(got._3 - pe) < 1e-12)
    assert(math.abs(got._1 - (pBar - pe) / (1 - pe)) < 1e-12)
    // All raters agree on every item -> kappa 1.
    val perfect = (0 until 10).flatMap(i =>
      (0 until 4).map(_ => (i, s"l${i % 3}")))
    assert(Evals.fleissKappa(perfect.toDF("item", "label"), "item", "label")
      .select("kappa").as[Double].head() == 1.0)
    // Ragged panels are rejected loudly.
    val e = intercept[IllegalArgumentException](Evals.fleissKappa(
      Seq((1, "x"), (1, "y"), (2, "x")).toDF("item", "label"),
      "item", "label"))
    assert(e.getMessage.contains("constant n"))
  }

  test("bradleyTerry: closed form on two models, MM fixed point on many") {
    // A beats B 3:1 -> scores 0.75 / 0.25 exactly (the 2-model closed form).
    val two = Seq(("A", "B", "a"), ("A", "B", "a"), ("A", "B", "a"),
      ("A", "B", "b")).toDF("ma", "mb", "winner")
    val g2 = Evals.bradleyTerry(two, "ma", "mb", "winner", iters = 60)
      .select("model", "score", "rank").as[(String, Double, Long)]
      .collect().sortBy(_._1)
    assert(math.abs(g2(0)._2 - 0.75) < 1e-12 && g2(0)._3 == 1L)
    assert(math.abs(g2(1)._2 - 0.25) < 1e-12 && g2(1)._3 == 2L)
    // Many models: the fit satisfies the BT stationarity equations
    // W_i = sum_j n_ij * w_i / (w_i + w_j) at convergence.
    val rng = new scala.util.Random(31)
    val ms = (0 until 6).map(i => s"m$i")
    val rows = (0 until 2000).map { _ =>
      val i = rng.nextInt(6); var j = rng.nextInt(6)
      while (j == i) j = rng.nextInt(6)
      (ms(i), ms(j), if (rng.nextDouble() < 0.5 + 0.06 * (i - j)) "a" else "b")
    }
    val df = rows.toDF("ma", "mb", "winner")
    val fit = Evals.bradleyTerry(df, "ma", "mb", "winner", iters = 200)
      .select("model", "wins", "score").as[(String, Long, Double)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    val nij = rows.groupBy(r => Set(r._1, r._2)).view.mapValues(_.size).toMap
    ms.foreach { mi =>
      val (wins, si) = fit(mi)
      val expectedWins = ms.filter(_ != mi).map { mj =>
        nij.getOrElse(Set(mi, mj), 0) * si / (si + fit(mj)._2)
      }.sum
      assert(math.abs(expectedWins - wins) < 1e-6,
        s"$mi: stationarity ${expectedWins} vs $wins")
    }
    // Winner values outside a/b are rejected loudly.
    val e = intercept[IllegalArgumentException](Evals.bradleyTerry(
      Seq(("A", "B", "tie")).toDF("ma", "mb", "winner"), "ma", "mb", "winner"))
    assert(e.getMessage.contains("'a' or 'b'"))
  }

  test("bradleyTerry refuses a null winner instead of crediting side b") {
    val games = Seq(("m1", "m2", "a"), ("m1", "m3", "a"), ("m2", "m3", "a"),
      ("m1", "m2", "a")).toDF("ma", "mb", "winner")
      .unionByName(Seq(("m1", "m3", null: String)).toDF("ma", "mb", "winner"))
    val e = intercept[IllegalArgumentException](
      Evals.bradleyTerry(games, "ma", "mb", "winner"))
    assert(e.getMessage.contains("'a' or 'b'"), e.getMessage)
  }

  test("bradleyTerry refuses a null model and names its column") {
    val games = Seq(("m1", "m2", "a"), ("m2", "m1", "b")).toDF("ma", "mb", "winner")
      .unionByName(Seq(("m1", null: String, "a")).toDF("ma", "mb", "winner"))
    val e = intercept[IllegalArgumentException](
      Evals.bradleyTerry(games, "ma", "mb", "winner"))
    assert(e.getMessage.contains("null model in mb"), e.getMessage)
  }

  test("selfConsistency: majority with (count desc, answer asc) tie-break") {
    val rows = Seq(
      (1L, "b"), (1L, "b"), (1L, "a"),          // clear majority b
      (2L, "z"), (2L, "a"),                      // tie -> a (smaller)
      (3L, "x"))                                 // singleton
    val got = Evals.selfConsistency(rows.toDF("p", "ans"), "p", "ans")
      .select("p", "majority_answer", "majority_count", "n_samples", "agreement")
      .as[(Long, String, Long, Long, Double)].collect().sortBy(_._1)
    assert(got(0) == ((1L, "b", 2L, 3L, 2.0 / 3.0)))
    assert(got(1) == ((2L, "a", 1L, 2L, 0.5)))
    assert(got(2) == ((3L, "x", 1L, 1L, 1.0)))
  }
}
