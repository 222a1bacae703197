package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Bounded

/** N-gram language-model perplexity scoring — the third leg of the CCNet
  * corpus pipeline (arXiv 1911.00359: language ID → dedup → a KenLM
  * perplexity filter; the Gopher and LLaMA corpus reports keep the same
  * stage). The reference (lotus-data/lotus) has no LM-perplexity stage —
  * this is a beyond-reference training-data op, kept model-artifact-free
  * like [[QualityClassifier]]: one interpolated (Jelinek–Mercer) order-n
  * LM over whitespace tokens, trained entirely in Spark aggregates and
  * applied as one per-row fold. Orders 2 and 3 are the bigram and trigram
  * models; CCNet's published filter is order 5.
  *
  * Model. Token ids 0..V−1 are the vocabulary (count ≥ `minCount`, the
  * rest fold into `<unk>` = id V; BOS = id V+1 appears only as a left
  * context). Unigram: `p_u(w) = (c(w) + α) / (N + α·(V+1))` over
  * vocab ∪ {unk}. Per token, starting from `p = p_u(w)`, each order
  * k = 2..n wraps `p = λₖ·cₖ(ctx, w)/cₖ(ctx·) + (1−λₖ)·p`, where
  * `cₖ(ctx·)` is the context's total continuation count over the
  * BOS-padded stream (so every ML term is exactly normalized); a gram
  * absent from its table contributes 0 to its ML term and backs off to
  * the lower orders. Document log-likelihood is the left-to-right sum of
  * `ln p`; `ppl = exp(−ll/n)`. Dropping grams below `minNgramCount` loses
  * their ML mass (the model becomes a sub-distribution, scores shift up
  * slightly) — deterministic and engine-reproducible either way, since
  * the context totals stay the TRUE totals.
  *
  * Scale shape: fitting is two shuffles — the unigram (word → count)
  * aggregate, then one aggregate of hashed gram keys for every order,
  * whose per-row extraction is one compiled pass
  * ([[graft.functions.LookupExprs.NgramHashKeyCounts]] — per-row DISTINCT
  * keys enter the exchange, never the token stream). Every collect is
  * bounded and the bounds are enforced BEFORE the pull (the
  * [[QualityClassifier.trainNaiveBayes]] convention). Scoring is a pure
  * per-row expression over a broadcast model — no UDF, no join, no
  * shuffle: the property that keeps a perplexity pass one narrow map over
  * 100 TB.
  */
object NgramLm {

  /** A fitted order-n Jelinek–Mercer LM over HASHED gram keys (KenLM's
    * probing tables key grams by hash the same way, Heafield 2011).
    * `vocab` maps token → id ∈ [0, V); `uniProb` has V+1 entries (unk
    * last); `tables(k−2)` maps [[graft.functions.LookupExprs.gramHash]] of
    * the BOS-padded id window to order k's exact ML continuation
    * probability; `lambdas(k−2)` weights it. A 64-bit hash collision
    * merges two grams' counts (probability ≈ K²/2⁶⁵ — ~10⁻⁷ at gate
    * scale), the accepted trade of hashed LMs.
    */
  final case class NgramLM(
      vocab: Map[String, Int],
      uniProb: Array[Double],
      order: Int,
      tables: IndexedSeq[Map[Long, Double]],
      lambdas: IndexedSeq[Double],
      alpha: Double,
      minCount: Long,
      minNgramCount: Long,
      nTokens: Long) {
    def bosId: Int = vocab.size + 1
  }

  /** The tokenization every NgramLm entry point shares (the
    * [[QualityClassifier]] convention): lower, trim, split on whitespace
    * runs; an all-whitespace text is the empty stream.
    */
  private[graft] def tokensOf(c: Column): Column =
    when(length(trim(c)) === 0, array().cast("array<string>"))
      .otherwise(split(lower(trim(c)), "\\s+"))

  /** Pass 1 of every fit: unigram counts → (vocab, uniProb, nTokens).
    * N (total tokens) sums over ALL words; the sub-`minCount` remainder
    * is exactly the unk mass, so the unigram model normalizes over
    * vocab ∪ {unk} with nothing lost. The `maxVocabEntries` bound is
    * checked on the totals aggregate BEFORE the collect, and the staged
    * blocks unstage in finally — the designed throw on a web-scale
    * vocabulary must not leave them pinned. Ids are deterministic
    * (token-sorted); they are engine-internal — only the probabilities
    * reach an oracle.
    */
  private def fitUnigram(df: DataFrame, textCol: String, alpha: Double,
      minCount: Long, maxVocabEntries: Int)
      : (Map[String, Int], Array[Double], Long) = {
    val spark = df.sparkSession
    val (aggU, blocksU) = graft.core.Persist.stageTracked(df
      .select(explode(tokensOf(col(textCol))).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("n")))
    val (uniCounts, nTokens) = try {
      // ONE aggregate counts the kept vocabulary AND totals the tokens;
      // the collect below then pulls a vocabulary already checked bounded.
      val totRow = aggU.agg(coalesce(sum(col("n")), lit(0L)),
        count_if(col("n") >= minCount)).head()
      val nTok = totRow.getLong(0)
      require(nTok > 0, "fitUnigram: corpus has no tokens")
      Bounded.check(totRow.getLong(1), maxVocabEntries,
        "fitUnigram", "vocabulary entries", "maxVocabEntries", "the model " +
          "rides every scoring task as a plan literal; raise minCount to " +
          "shrink it, or raise maxVocabEntries deliberately")
      (aggU.filter(col("n") >= minCount).collect()
        .map(r => (r.getString(0), r.getLong(1))), nTok)
    } finally graft.core.Persist.unstage(spark, blocksU)
    val sortedU = uniCounts.sortBy(_._1)
    val vocab = sortedU.iterator.map(_._1).zipWithIndex.toMap
    val v = vocab.size
    val unkCount = nTokens - uniCounts.iterator.map(_._2).sum
    val denom = nTokens.toDouble + alpha * (v + 1.0)
    val uniProb = new Array[Double](v + 1)
    sortedU.iterator.zipWithIndex.foreach { case ((_, c), i) =>
      uniProb(i) = (c.toDouble + alpha) / denom }
    uniProb(v) = (unkCount.toDouble + alpha) / denom
    (vocab, uniProb, nTokens)
  }

  /** Fit the order-n hashed-key LM: the shared unigram pass, then ONE
    * bounded aggregate for ALL orders k = 2..n over per-row DISTINCT
    * (ord, ctx, key) hash triples
    * ([[graft.functions.LookupExprs.NgramHashKeyCounts]] emits every
    * order from one window slide, so the corpus is tokenized, scanned
    * and shuffled once, not once per order) — context totals group the
    * SAME aggregate by (ord, ctx) (every position has exactly one
    * context per order, so each ML term normalizes exactly). Every
    * order's contexts and kept grams are held to `maxNgramEntries`: the
    * context pull goes through [[graft.core.Bounded.pull]], and the kept
    * grams are checked on its per-context counts BEFORE their collect.
    * The staged aggregate unstages in finally — the designed throw on a
    * web-scale gram table must not leave pinned blocks. `lambdas(k−2)`
    * weights order k's ML term; defaults follow the
    * heavier-trust-in-lower-orders shape (0.7, 0.5, 0.4, 0.3, …)
    * truncated to order−1 entries.
    */
  def fitNgramLM(df: DataFrame, textCol: String, order: Int,
      alpha: Double = 1.0, lambdas: Seq[Double] = Nil,
      minCount: Long = 1L, minNgramCount: Long = 1L,
      maxVocabEntries: Int = 1 << 18,
      maxNgramEntries: Int = 1 << 21): NgramLM = {
    require(order >= 2 && order <= 8,
      s"fitNgramLM: order $order out of [2, 8] — above 8 the per-token " +
        "hash work dominates scoring; fit separate models instead")
    val lams: IndexedSeq[Double] =
      (if (lambdas.nonEmpty) lambdas
       else (Seq(0.7, 0.5, 0.4, 0.3) ++ Seq.fill(order)(0.3)).take(order - 1))
        .toIndexedSeq
    require(lams.size == order - 1,
      s"fitNgramLM: ${lams.size} lambdas for order $order — need one " +
        "per order 2..n")
    require(lams.forall(l => l > 0 && l < 1),
      s"fitNgramLM: lambdas $lams must all be in (0, 1) — at 1 the " +
        "unigram floor vanishes and an unseen gram in scored text is ln 0")
    require(alpha > 0, s"fitNgramLM: alpha $alpha must be > 0")
    require(minCount >= 1 && minNgramCount >= 1,
      "fitNgramLM: minCount/minNgramCount must be >= 1")
    val spark = df.sparkSession
    val (vocab, uniProb, nTokens) =
      fitUnigram(df, textCol, alpha, minCount, maxVocabEntries)
    val unkId = vocab.size
    val bosId = vocab.size + 1
    // ONE corpus pass and ONE shuffle for every order 2..n: the kernel
    // emits all orders' distinct (ord, ctx, key) counts per row, so the
    // corpus is tokenized and scanned once, not once per order — at
    // 100 TB that deletes order−2 full scans from the fit. The bounds
    // and collects below read the (small) staged aggregate per order.
    val (aggAll, blocksAll) = graft.core.Persist.stageTracked(df
      .select(explode(graft.functions.LookupExprs.ngramHashKeyCounts(
        tokensOf(col(textCol)), vocab, unkId, bosId, order)).as("e"))
      .select(col("e.ord").as("ord"), col("e.ctx").as("ctx"),
        col("e.key").as("key"), col("e.cnt").as("cnt"))
      .groupBy("ord", "ctx", "key").agg(sum(col("cnt")).as("n")))
    val tables = try {
      // ALL orders' bounds in the two pulls. Each order's contexts are held
      // to maxNgramEntries, so the context pull takes at most (order − 1) ×
      // maxNgramEntries rows; their per-context kept-gram counts then bound
      // each order's gram table before the kept collect.
      val ctxRows = Bounded.pull(aggAll.groupBy("ord", "ctx").agg(
          sum(col("n")).as("t"),
          sum(when(col("n") >= minNgramCount, 1L).otherwise(0L)).as("k")),
        maxNgramEntries, "fitNgramLM", "contexts in one order",
        "maxNgramEntries", "raise minCount (shrinking the vocab shrinks the " +
          "context space) or raise maxNgramEntries deliberately",
        per = order - 1,
        units = _.groupBy(_.getInt(0)).values.map(_.length).maxOption.getOrElse(0))
      ctxRows.groupBy(_.getInt(0)).foreach { case (ord, rs) =>
        Bounded.check(rs.iterator.map(_.getLong(3)).sum, maxNgramEntries,
          "fitNgramLM", s"order-$ord gram-table entries", "maxNgramEntries",
          "raise minNgramCount to shrink it, or raise maxNgramEntries deliberately")
      }
      val ctxTotByOrd =
        Array.fill(order + 1)(new scala.collection.mutable.LongMap[Long]())
      ctxRows.foreach(r =>
        ctxTotByOrd(r.getInt(0)).update(r.getLong(1), r.getLong(2)))
      val keptAll = aggAll.filter(col("n") >= minNgramCount)
      val builders = Array.fill(order + 1)(Map.newBuilder[Long, Double])
      keptAll.collect().foreach { r =>
        val k = r.getInt(0)
        builders(k) += (r.getLong(2) ->
          r.getLong(3).toDouble / ctxTotByOrd(k)(r.getLong(1)).toDouble)
      }
      (2 to order).map(k => builders(k).result())
    } finally graft.core.Persist.unstage(spark, blocksAll)
    NgramLM(vocab, uniProb, order, tables, lams, alpha, minCount,
      minNgramCount, nTokens)
  }

  /** Per-document log-likelihood + token count under the fitted LM —
    * one tight-loop pass ([[graft.functions.LookupExprs.NgramHashLmScore]]),
    * zero shuffle. An empty document is (ll = 0, n = 0).
    */
  def logLik(df: DataFrame, textCol: String, model: NgramLM,
      llCol: String = "lm_ll", nCol: String = "lm_tokens"): DataFrame = {
    df.withColumn("__lm", graft.functions.LookupExprs.ngramHashLmScore(
        tokensOf(col(textCol)), model.vocab, model.uniProb, model.tables,
        model.lambdas, model.bosId))
      .withColumn(llCol, col("__lm.ll"))
      .withColumn(nCol, col("__lm.n"))
      .drop("__lm")
  }

  /** Per-document perplexity `exp(−ll/n)` (null for an empty document —
    * perplexity of nothing is undefined, not 1). Low ppl = the LM finds
    * the text predictable; CCNet keeps the low-perplexity tail and
    * discards the noise head. Compose with
    * [[CorpusPrep.scorePercentileRank]] for the percentile cut.
    */
  def perplexity(df: DataFrame, textCol: String, model: NgramLM,
      outCol: String = "ppl", llCol: String = "lm_ll",
      nCol: String = "lm_tokens"): DataFrame =
    logLik(df, textCol, model, llCol, nCol)
      .withColumn(outCol,
        when(col(nCol) > 0, exp(-col(llCol) / col(nCol))))
}
