package graft

import org.apache.spark.sql.functions._
import graft.operators.NgramLm

class NgramLmSpec extends SparkSpec {
  import spark.implicits._

  // "a b a" + "a b": N = 5, c(a) = 3, c(b) = 2; BOS-prefixed bigrams
  // (B,a)×2, (a,b)×2, (b,a)×1 — every kept context is deterministic ML 1.
  private def tiny = Seq((0L, "a b a"), (1L, "a b")).toDF("id", "text")

  /** The table key of a gram: the kernels' hash of its id window. */
  private def g(ids: Long*): Long =
    graft.functions.LookupExprs.gramHash(ids.toArray, 0, ids.size)

  test("fit recovers exact unigram and bigram tables on a hand corpus") {
    val m = NgramLm.fitNgramLM(tiny, "text", order = 2)
    assert(m.vocab == Map("a" -> 0, "b" -> 1))
    assert(m.nTokens == 5L)
    // denom = 5 + 1·(2+1) = 8; unk mass 0
    assert(m.uniProb.toSeq == Seq(4.0 / 8, 3.0 / 8, 1.0 / 8))
    val bos = m.bosId.toLong
    assert(m.tables == IndexedSeq(Map(
      g(bos, 0L) -> 1.0,   // (BOS, a) 2/2
      g(0L, 1L) -> 1.0,    // (a, b)   2/2
      g(1L, 0L) -> 1.0)))  // (b, a)   1/1
  }

  test("logLik folds λ·pml + (1−λ)·p_uni left-to-right from BOS") {
    val m = NgramLm.fitNgramLM(tiny, "text", order = 2)
    val lam = m.lambdas(0)
    val ll = NgramLm.logLik(tiny, "text", m)
      .filter(col("id") === 1L).select("lm_ll", "lm_tokens").head()
    // doc "a b": ln(λ·1 + (1−λ)·p(a)) + ln(λ·1 + (1−λ)·p(b))
    val exp = math.log(lam * 1.0 + (1.0 - lam) * (4.0 / 8)) +
      math.log(lam * 1.0 + (1.0 - lam) * (3.0 / 8))
    assert(ll.getDouble(0) == exp && ll.getInt(1) == 2)
  }

  test("an unseen bigram backs off to the unigram alone") {
    val m = NgramLm.fitNgramLM(tiny, "text", order = 2)
    val ba = spark.createDataFrame(Seq((0L, "b b"))).toDF("id", "text")
    val ll = NgramLm.logLik(ba, "text", m).select("lm_ll").head().getDouble(0)
    // (BOS, b) and (b, b) are both unseen → pml = 0 at every position
    val pb = 3.0 / 8
    assert(ll == 2 * math.log((1.0 - m.lambdas(0)) * pb))
  }

  test("minCount folds hapaxes into a live <unk> with their exact mass") {
    // "a a b": a kept (c = 2), b → unk; denom = 3 + 1·(1+1) = 5
    val df = Seq((0L, "a a b")).toDF("id", "text")
    val m = NgramLm.fitNgramLM(df, "text", order = 2, minCount = 2L)
    assert(m.vocab == Map("a" -> 0))
    assert(m.uniProb.toSeq == Seq(3.0 / 5, 2.0 / 5))
    // OOV scoring: "c" maps to unk; (BOS, unk) unseen → unigram only
    val oov = spark.createDataFrame(Seq((0L, "c"))).toDF("id", "text")
    val ll = NgramLm.logLik(oov, "text", m).select("lm_ll").head().getDouble(0)
    assert(ll == math.log((1.0 - m.lambdas(0)) * (2.0 / 5)))
  }

  test("empty and whitespace-only docs are (ll = 0, n = 0) with null ppl") {
    val df = Seq((0L, "a b a"), (1L, ""), (2L, "   ")).toDF("id", "text")
    val m = NgramLm.fitNgramLM(df, "text", order = 2)
    val rows = NgramLm.perplexity(df, "text", m)
      .select("id", "lm_ll", "lm_tokens", "ppl").orderBy("id").collect()
    assert(rows(1).getDouble(1) == 0.0 && rows(1).getInt(2) == 0 &&
      rows(1).isNullAt(3))
    assert(rows(2).getDouble(1) == 0.0 && rows(2).getInt(2) == 0)
    // a non-empty doc's ppl is exp(−ll/n) (±1 ulp: Spark's codegen'd
    // exp is StrictMath, the JVM's is Math)
    val r0 = rows(0)
    assert(math.abs(r0.getDouble(3) -
      math.exp(-r0.getDouble(1) / r0.getInt(2))) < 1e-12)
  }

  test("perplexity orders text by predictability under the fitted LM") {
    // repetitive in-domain text scores lower ppl than a one-off jumble
    val docs = (0 until 20).map(i => (i.toLong, "the quick brown fox")) :+
      (20L, "zxq wvu tsr qpo")
    val df = docs.toDF("id", "text")
    val scored = NgramLm.perplexity(df, "text",
        NgramLm.fitNgramLM(df, "text", order = 2, minCount = 2L))
      .select("id", "ppl").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(scored(0L) < scored(20L))
  }

  test("vocab and bigram bounds refuse BEFORE the collect, loudly") {
    val df = Seq((0L, "a b c d e f g h")).toDF("id", "text")
    val e1 = intercept[IllegalArgumentException](
      NgramLm.fitNgramLM(df, "text", order = 2, maxVocabEntries = 3))
    assert(e1.getMessage.contains("maxVocabEntries"))
    val e2 = intercept[IllegalArgumentException](
      NgramLm.fitNgramLM(df, "text", order = 2, maxNgramEntries = 3))
    assert(e2.getMessage.contains("maxNgramEntries"))
  }

  test("degenerate inputs refuse: empty corpus, bad lambda/alpha") {
    val empty = Seq((0L, "")).toDF("id", "text")
    intercept[IllegalArgumentException](
      NgramLm.fitNgramLM(empty, "text", order = 2))
    intercept[IllegalArgumentException](
      NgramLm.fitNgramLM(tiny, "text", order = 2, lambdas = Seq(0.0)))
    intercept[IllegalArgumentException](
      NgramLm.fitNgramLM(tiny, "text", order = 2, alpha = 0.0))
    // lambda = 1 kills the unigram floor: an UNSEEN bigram in scored
    // text would be ln 0 = -Infinity silently — rejected at fit time.
    intercept[IllegalArgumentException](
      NgramLm.fitNgramLM(tiny, "text", order = 2, lambdas = Seq(1.0)))
    intercept[IllegalArgumentException](
      NgramLm.fitNgramLM(tiny, "text", order = 3, lambdas = Seq(1.0, 0.5)))
  }

  test("order-3 fit recovers exact trigram tables and shares the order-2 sub-model") {
    val m = NgramLm.fitNgramLM(tiny, "text", order = 3)
    val bi = NgramLm.fitNgramLM(tiny, "text", order = 2)
    assert(m.vocab == bi.vocab && m.uniProb.toSeq == bi.uniProb.toSeq)
    assert(m.lambdas == IndexedSeq(0.7, 0.5) && bi.lambdas == IndexedSeq(0.7))
    assert(m.tables(0) == bi.tables(0))
    // "a b a" + "a b": trigram stream (B,B,a)×2, (B,a,b)×2, (a,b,a)×1 —
    // every context is deterministic, all pml3 = 1.
    val bos = m.bosId.toLong
    assert(m.tables(1) == Map(
      g(bos, bos, 0L) -> 1.0,
      g(bos, 0L, 1L) -> 1.0,
      g(0L, 1L, 0L) -> 1.0))
  }

  test("trigram logLik folds the two-level JM tree left-to-right; an " +
      "unseen trigram backs off to the bigram+unigram interpolation") {
    val m = NgramLm.fitNgramLM(tiny, "text", order = 3)
    val (l1, l2) = (m.lambdas(0), m.lambdas(1))
    val pa = 4.0 / 8
    val pb = 3.0 / 8
    // doc "a b": (B,B,a) seen pml3=1, (B,a,b) seen pml3=1; bigram
    // sub-terms (B,a)=1, (a,b)=1.
    val ll = NgramLm.logLik(tiny, "text", m)
      .filter(col("id") === 1L).select("lm_ll", "lm_tokens").head()
    val exp = math.log(l2 * 1.0 + (1.0 - l2) * (l1 * 1.0 + (1.0 - l1) * pa)) +
      math.log(l2 * 1.0 + (1.0 - l2) * (l1 * 1.0 + (1.0 - l1) * pb))
    assert(ll.getDouble(0) == exp && ll.getInt(1) == 2)
    // "a b a b": position 4's trigram (b,a)→b is UNSEEN but its bigram
    // (a,b) is seen — the term is the pure pml3 = 0 backoff; positions
    // 1–3 replay seen trigrams ((B,B,a), (B,a,b), (a,b,a), all pml3 1).
    val probe = Seq((0L, "a b a b")).toDF("id", "text")
    val ll2 = NgramLm.logLik(probe, "text", m).select("lm_ll").head().getDouble(0)
    val t1 = math.log(l2 * 1.0 + (1.0 - l2) * (l1 * 1.0 + (1.0 - l1) * pa))
    val t2 = math.log(l2 * 1.0 + (1.0 - l2) * (l1 * 1.0 + (1.0 - l1) * pb))
    val t4 = math.log(l2 * 0.0 + (1.0 - l2) * (l1 * 1.0 + (1.0 - l1) * pb))
    assert(ll2 == t1 + t2 + t1 + t4, s"$ll2 vs ${t1 + t2 + t1 + t4}")
  }

  test("trigram beats bigram on structurally trigram-disambiguated text " +
      "and the bounds/degenerate guards fire") {
    // "x a b" vs "y a c": after context 'a', the bigram LM is 50/50 but
    // the trigram context (x,a)/(y,a) is deterministic.
    val docs = (0 until 10).flatMap(i =>
      Seq((i * 2L, "x a b"), (i * 2L + 1L, "y a c"))).toDF("id", "text")
    val biPpl = NgramLm.perplexity(docs, "text",
        NgramLm.fitNgramLM(docs, "text", order = 2))
      .agg(avg("ppl")).head().getDouble(0)
    val triPpl = NgramLm.perplexity(docs, "text",
        NgramLm.fitNgramLM(docs, "text", order = 3))
      .agg(avg("ppl")).head().getDouble(0)
    assert(triPpl < biPpl, s"trigram $triPpl !< bigram $biPpl")
    val wide = Seq((0L, "a b c d e f g h")).toDF("id", "text")
    val e = intercept[IllegalArgumentException](
      NgramLm.fitNgramLM(wide, "text", order = 3, maxNgramEntries = 3))
    assert(e.getMessage.contains("maxNgramEntries"))
    intercept[IllegalArgumentException](
      NgramLm.fitNgramLM(tiny, "text", order = 3, lambdas = Seq(0.7, 1.0)))
  }

  test("order-5 NgramLM: exact ML tables on a hand corpus, monotone ppl " +
      "gain on 5-gram-disambiguated text, bounds refuse loudly") {
    // Two templates that agree on every 4-gram interior but differ at
    // range 5: "p q r s A" vs "z q r s B" — only the 5-gram context
    // (p|z, q, r, s) disambiguates the final token.
    val docs = (0 until 10).flatMap(i =>
      Seq((i * 2L, "p q r s a"), (i * 2L + 1L, "z q r s b"))).toDF("id", "text")
    val m5 = NgramLm.fitNgramLM(docs, "text", order = 5)
    assert(m5.tables.size == 4 && m5.lambdas == IndexedSeq(0.7, 0.5, 0.4, 0.3))
    // Every 5-gram context is deterministic (→ ML 1.0) EXCEPT the
    // all-BOS start, which both templates share: (B,B,B,B) → p|z at
    // 10/20 each — exactly two 0.5 entries.
    assert(m5.tables(3).values.count(_ == 1.0) == m5.tables(3).size - 2 &&
      m5.tables(3).values.count(_ == 0.5) == 2)
    val ppl = (o: Int) => NgramLm.perplexity(docs, "text",
        NgramLm.fitNgramLM(docs, "text", order = o))
      .agg(avg("ppl")).head().getDouble(0)
    val p4 = ppl(4); val p5 = ppl(5)
    assert(p5 < p4, s"5-gram $p5 !< 4-gram $p4 on 5-gram-keyed text")
    val e = intercept[IllegalArgumentException](
      NgramLm.fitNgramLM(docs, "text", order = 5, maxNgramEntries = 3))
    assert(e.getMessage.contains("maxNgramEntries"))
    intercept[IllegalArgumentException](
      NgramLm.fitNgramLM(docs, "text", order = 5, lambdas = Seq(0.5)))
    intercept[IllegalArgumentException](
      NgramLm.fitNgramLM(docs, "text", order = 9))
  }
}
