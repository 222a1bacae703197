package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Bounded

/** Model-based quality filtering — the trained-classifier stage of
  * published corpus pipelines (CCNet, arXiv 1911.00359, trains a fastText
  * linear classifier on target-domain labels; the GPT-3 and Pile corpus
  * papers filter CommonCrawl the same way). The reference
  * (lotus-data/lotus) has no classifier stage — this is a
  * beyond-reference training-data op, kept model-artifact-free:
  * multinomial Naive Bayes over whitespace unigrams, trained entirely in
  * Spark aggregates and applied as one per-row left-to-right fold.
  *
  * Scale shape: training is ONE shuffle — the (word → per-class counts)
  * groupBy with map-side partial aggregation, vocabulary-bounded, never
  * document-bounded; the fitted model is a bounded driver-side map riding
  * the scoring plan as a literal (the [[CorpusPrep.unigramSurprisal]]
  * convention — a capped vocab IS the model, fastText hashes its vocab
  * into a bounded bucket table for the same reason). Scoring is a pure
  * per-row expression: no UDF, no join, no shuffle — the property that
  * keeps a quality pass one narrow map over 100 TB. The fold order is
  * deterministic IEEE left-to-right, so a SQL oracle reproduces scores
  * exactly.
  */
object QualityClassifier {

  /** A fitted text Naive Bayes: per-token log-likelihood ratios
    * `ln p(w|pos) − ln p(w|neg)` under Laplace smoothing, the shared OOV
    * floor llr, and the document-frequency log prior `ln(nPos/nNeg)`.
    * score(doc) = prior + Σ_w llr(w); classify at score > 0 (posterior
    * odds > 1).
    */
  final case class NaiveBayesText(
      llr: Map[String, Double],
      oovLlr: Double,
      prior: Double,
      alpha: Double,
      nPos: Long,
      nNeg: Long)

  /** Fit the classifier: one exploded-token groupBy collects per-class
    * word counts (integers — engine-independent), the closed-form Laplace
    * log-ratios are computed driver-side. `labelCol` must be boolean-like
    * and both classes must be present (a one-class fit has no likelihood
    * ratio — that failure is loud, not a NaN model).
    *
    * The vocabulary literal is BOUNDED (`maxVocabEntries`, pulled through
    * [[graft.core.Bounded.pull]]): an unbounded vocab would ride
    * every scoring task as a multi-GB plan literal. Corpora with bigger
    * vocabularies cap deliberately — drop words below a count floor with
    * `minCount` (rare words carry noise, not signal, under NB anyway).
    */
  def trainNaiveBayes(df: DataFrame, textCol: String, labelCol: String,
      alpha: Double = 1.0, minCount: Long = 1L,
      maxVocabEntries: Int = 1 << 18): NaiveBayesText = {
    require(alpha > 0, s"trainNaiveBayes: alpha $alpha must be > 0")
    require(minCount >= 1, s"trainNaiveBayes: minCount $minCount must be >= 1")
    val y = col(labelCol).cast("boolean")
    val docCounts = df.groupBy(y.as("y")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    require(docCounts.keySet == Set(true, false),
      s"trainNaiveBayes: need both classes in $labelCol, " +
        s"got ${docCounts.keys.mkString(",")} — a one-class corpus has no " +
        "likelihood ratio to fit")
    val counts = Bounded.pull(df
        .select(y.as("y"),
          explode(split(lower(trim(col(textCol))), "\\s+")).as("word"))
        .filter(col("word") =!= "")
        .groupBy("word")
        .agg(sum(when(col("y"), 1L).otherwise(0L)).as("c1"),
          sum(when(col("y"), 0L).otherwise(1L)).as("c0"))
        .filter(col("c1") + col("c0") >= minCount),
      maxVocabEntries, "trainNaiveBayes", "vocabulary entries",
      "maxVocabEntries", "the model rides every scoring task as a plan " +
        "literal; raise minCount to shrink it, or raise maxVocabEntries " +
        "deliberately")
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    require(counts.nonEmpty, "trainNaiveBayes: corpus has no tokens")
    val t1 = counts.map(_._2).sum.toDouble
    val t0 = counts.map(_._3).sum.toDouble
    val v = counts.length.toDouble
    def logP(c: Double, t: Double) = math.log((c + alpha) / (t + alpha * v))
    NaiveBayesText(
      llr = counts.map { case (w, c1, c0) =>
        w -> (logP(c1.toDouble, t1) - logP(c0.toDouble, t0))
      }.toMap,
      oovLlr = logP(0.0, t1) - logP(0.0, t0),
      prior = math.log(docCounts(true).toDouble) -
        math.log(docCounts(false).toDouble),
      alpha = alpha, nPos = docCounts(true), nNeg = docCounts(false))
  }

  /** Score every document: `outCol` = prior + Σ llr(token) (an empty doc
    * scores exactly the prior), `predCol` = score > 0. Pure per-row fold
    * over a broadcast map literal — zero shuffle, codegen-friendly, and
    * the left-to-right order makes scores bit-reproducible across
    * engines.
    */
  def scoreNaiveBayes(df: DataFrame, textCol: String, model: NaiveBayesText,
      outCol: String = "nb_score", predCol: String = "nb_pred"): DataFrame = {
    val words = when(length(trim(col(textCol))) === 0,
        array().cast("array<string>"))
      .otherwise(split(lower(trim(col(textCol))), "\\s+"))
    // One tight-loop fold (hash lookup per token, identical left-to-right
    // addition) — the composable aggregate()-over-map-literal form scanned
    // the whole vocab literal per token (see LookupExprs).
    val score = graft.functions.LookupExprs.sumLookup(
      words, model.llr, model.oovLlr) + lit(model.prior)
    df.withColumn(outCol, score).withColumn(predCol, col(outCol) > 0)
  }

  /** Train-then-score in one call over the same frame — the self-scored
    * shape corpus pipelines use when the label is a metadata proxy
    * (in-domain source, reference-corpus membership) and the classifier
    * generalizes it to content.
    */
  def naiveBayesScores(df: DataFrame, textCol: String, labelCol: String,
      alpha: Double = 1.0, minCount: Long = 1L,
      outCol: String = "nb_score", predCol: String = "nb_pred"): DataFrame =
    scoreNaiveBayes(df, textCol,
      trainNaiveBayes(df, textCol, labelCol, alpha, minCount),
      outCol, predCol)

  /** A fitted multi-class char-ngram Naive Bayes language classifier —
    * the fastText-langid feature family (Joulin et al. 2016, arXiv
    * 1607.01759 use char n-grams for exactly this task) with the NB
    * training rule that fits in one bounded aggregate. `classes` is
    * SORTED; `logLik(gram)` packs the per-class log-likelihoods in class
    * order (one map literal, one array lookup per gram — not a map per
    * class), `oov` / `logPrior` are the same class-ordered packing.
    */
  final case class NaiveBayesLang(
      classes: Seq[String],
      logLik: Map[String, Seq[Double]],
      oov: Seq[Double],
      logPrior: Seq[Double],
      ngramLens: Seq[Int],
      alpha: Double)

  /** The classifier's text normalization: lower, trim, collapse runs of
    * whitespace to one space (so a gram can span a word boundary — the
    * fastText convention — but never depends on HOW the source was
    * whitespace-formatted).
    */
  private[graft] def normText(c: Column): Column =
    regexp_replace(lower(trim(c)), "\\s+", " ")

  /** COMPOSABLE reference implementation of codepoint char n-grams over
    * the normalized text — lengths ascending, positions left-to-right.
    * The hot paths use the tight-loop kernels
    * ([[graft.functions.LookupExprs.CharNgramCounts]] /
    * [[graft.functions.LookupExprs.LangNbScore]], which extract grams
    * inline); this form exists as the semantic contract the kernels are
    * spec-matched against. Words shorter than n contribute nothing at
    * that length (Spark's sequence(1, 0) steps DOWN; the guard keeps
    * parity with an oracle's empty range).
    */
  private[graft] def charNgrams(c: Column, lens: Seq[Int]): Column = {
    val s = normText(c)
    lens.distinct.sorted.map { n =>
      when(length(s) >= n,
          transform(sequence(lit(1), length(s) - (n - 1)),
            i => substring(s, i, lit(n))))
        .otherwise(array().cast("array<string>"))
    }.reduce(concat(_, _))
  }

  /** Fit the language classifier: ONE exploded (class, gram) aggregate —
    * map-side-combined, vocabulary-bounded, never document-bounded — then
    * closed-form Laplace log-likelihoods driver-side over the SHARED gram
    * vocabulary (per-class smoothing over mismatched supports is not a
    * common likelihood space). This replaces the stopword-lexicon
    * [[graft.functions.TextFunctions.langId]] heuristic with a TRAINED
    * detector: any label set the corpus carries, any script (char grams
    * need no tokenizer, so CJK works), measured rather than hardcoded.
    * Route with [[graft.functions.TextFunctions.scriptFractions]] first
    * when the corpus mixes script families and you want per-script
    * models. Classes are bounded by `maxClasses` (they ride the scoring
    * plan k-wide) and the vocab by `maxVocabEntries`, both through
    * [[graft.core.Bounded.pull]].
    */
  def trainLangNB(df: DataFrame, textCol: String, labelCol: String,
      ngramLens: Seq[Int] = Seq(1, 2), alpha: Double = 1.0,
      minCount: Long = 1L, maxClasses: Int = 64,
      maxVocabEntries: Int = 1 << 17): NaiveBayesLang = {
    require(alpha > 0, s"trainLangNB: alpha $alpha must be > 0")
    require(ngramLens.nonEmpty && ngramLens.forall(_ >= 1),
      s"trainLangNB: ngramLens $ngramLens must be >= 1")
    require(minCount >= 1, s"trainLangNB: minCount $minCount must be >= 1")
    val docCounts = Bounded.pull(df.groupBy(col(labelCol).as("y"))
        .agg(count(lit(1)).as("n")), maxClasses, "trainLangNB",
      s"classes in $labelCol", "maxClasses", "the model is k-wide in every " +
        "scoring row; raise maxClasses deliberately")
      .map(r => (r.getString(0), r.getLong(1)))
    require(docCounts.nonEmpty, "trainLangNB: empty corpus")
    require(docCounts.forall(c => c._1 != null && c._1.nonEmpty),
      s"trainLangNB: null/empty label in $labelCol")
    val classes = docCounts.map(_._1).sorted.toSeq
    val clsIdx = classes.zipWithIndex.toMap
    // A gram has at most k (gram, class) rows, hence `per`.
    // Per-row gram COUNTS from the tight-loop kernel, so the exploded
    // aggregate input is per-row DISTINCT grams (not every occurrence)
    // and the sum of counts is the identical multiset the composable
    // explode(charNgrams) form would aggregate — spec-matched.
    val rows = Bounded.pull(graft.core.Parallelism.spread(df)
        .select(col(labelCol).as("y"),
          explode(graft.functions.LookupExprs.charNgramCounts(
            normText(col(textCol)), ngramLens)).as(Seq("gram", "cnt")))
        .groupBy("gram", "y").agg(sum(col("cnt")).as("n")),
      maxVocabEntries, "trainLangNB", "gram vocabulary entries",
      "maxVocabEntries", "the model rides every scoring task as a plan " +
        "literal; shrink ngramLens or raise maxVocabEntries deliberately",
      per = docCounts.length, units = _.map(_.getString(0)).distinct.length)
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    require(rows.nonEmpty, "trainLangNB: corpus has no characters")
    // minCount floors on the gram's TOTAL count across classes (a rare
    // gram is noise everywhere, not just in the class that saw it).
    val byGram = rows.groupBy(_._1).filter(_._2.map(_._3).sum >= minCount)
    val k = classes.length
    val totals = Array.fill(k)(0.0)
    byGram.valuesIterator.foreach(_.foreach { case (_, y, n) =>
      totals(clsIdx(y)) += n.toDouble })
    val v = byGram.size.toDouble
    def logP(c: Double, t: Double) = math.log((c + alpha) / (t + alpha * v))
    val nTotal = docCounts.map(_._2).sum.toDouble
    NaiveBayesLang(
      classes = classes,
      logLik = byGram.map { case (g, cs) =>
        val perClass = Array.fill(k)(0.0)
        cs.foreach { case (_, y, n) => perClass(clsIdx(y)) = n.toDouble }
        g -> classes.indices.map(i => logP(perClass(i), totals(i)))
      },
      oov = classes.indices.map(i => logP(0.0, totals(i))),
      logPrior = classes.map(c =>
        math.log(docCounts.find(_._1 == c).get._2.toDouble) -
          math.log(nTotal)),
      ngramLens = ngramLens.distinct.sorted, alpha = alpha)
  }

  /** Predict the language of every document: ONE tight-loop pass over the
    * char-gram array ([[graft.functions.LookupExprs.LangNbScore]])
    * accumulates all k class scores vector-wise via a hash lookup per
    * gram, adds the log priors LAST (matching an oracle's
    * `list_reduce(...) + prior` float-op order) and takes the argmax
    * inside the kernel; ties break to the lexicographically smallest
    * class (first maximal index of the class-sorted score vector — the
    * `ORDER BY score DESC, class` the oracle replays). Adds `predCol`
    * (the class) and `scoreCol` (its joint log-probability). Pure per-row
    * expressions — zero shuffle, no UDF, no model artifact. (The
    * composable aggregate/zip_with form measured 90+ s at the ×100
    * blow-up: a literal-map lookup is a linear scan and the interpreted
    * lambda allocates a k-array per gram.)
    *
    * CALLER HAZARD: a downstream `filter` referencing MORE THAN ONE of
    * the output columns through live lineage re-evaluates the whole fold
    * per referenced field — predicate pushdown substitutes the struct
    * alias into each reference, and a CodegenFallback kernel gets no
    * subexpression elimination (measured 2.7× on the ccnet gate).
    * Multi-column PROJECTIONS are safe (the CollapseProject cost check
    * keeps the struct materialized). When filtering on pred AND margin,
    * stage/persist the scored frame first, then filter.
    */
  def scoreLangNB(df: DataFrame, textCol: String, model: NaiveBayesLang,
      predCol: String = "lang_pred", scoreCol: String = "lang_score",
      marginCol: String = "lang_margin"): DataFrame = {
    val best = graft.functions.LookupExprs.langNbScore(
      normText(col(textCol)), model.ngramLens,
      model.classes,
      model.logLik.map { case (g, v) => g -> v.toArray },
      model.oov.toArray,
      model.logPrior.toArray)
    // Deliberately NO repartition here: the fold is a zero-shuffle
    // per-row map (spec-pinned). A single-partition corpus should be
    // spread by the CALLER before scoring (Parallelism.spread) — layout
    // is the caller's decision, not a hidden side effect.
    df.withColumn("__lang_best", best)
      .withColumn(predCol, col("__lang_best.pred"))
      .withColumn(scoreCol, col("__lang_best.score"))
      .withColumn(marginCol, col("__lang_best.margin"))
      .drop("__lang_best")
  }

  /** DSIR-style importance weighting for data selection (arXiv
    * 2302.03169: weight raw documents by target-vs-raw likelihood ratio
    * under cheap bag-of-ngrams models, then importance-resample). Here
    * with unigram models over whitespace tokens: per doc,
    * `log w(x) = Σ_tokens [ln p_target(w) − ln p_raw(w)]`, both
    * distributions Laplace-smoothed over the SHARED vocabulary (a ratio
    * over mismatched supports is not a likelihood ratio).
    *
    * Same scale shape as NB: two bounded vocab aggregates at fit time,
    * one per-row fold at weighting time. Selection composes with the
    * deterministic-hash samplers in [[CorpusPrep]]: resample by keeping
    * doc where `hash-uniform(id) < exp(logw − logwMax)` or simply take
    * the top fraction by weight — both engine-reproducible.
    */
  final case class DsirUnigram(lr: Map[String, Double], oovLr: Double)

  /** Fit the two unigram models on a raw sample and the target corpus;
    * the returned per-token log-ratios (and the constant ratio for tokens
    * unseen in both) weight any frame via [[dsirLogWeights]].
    */
  def fitDsir(raw: DataFrame, target: DataFrame, textCol: String,
      alpha: Double = 1.0, maxVocabEntries: Int = 1 << 18): DsirUnigram = {
    require(alpha > 0, s"fitDsir: alpha $alpha must be > 0")
    // Both vocabularies in ONE tagged aggregate (one shuffle stage, one
    // vocab collect) instead of a count job per corpus — at scale the two
    // corpora are each full scans anyway; the fit should not double the
    // shuffle/collect round-trips on top.
    def toks(df: DataFrame, isTarget: Boolean) = df
      .select(explode(split(lower(trim(col(textCol))), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .withColumn("__t", lit(isTarget))
    val counts = Bounded.pull(toks(raw, isTarget = false)
        .unionByName(toks(target, isTarget = true))
        .groupBy("word")
        .agg(sum(when(col("__t"), 1L).otherwise(0L)).as("tn"),
          sum(when(col("__t"), 0L).otherwise(1L)).as("rn")),
      maxVocabEntries, "fitDsir", "shared vocabulary entries",
      "maxVocabEntries", "the models ride the weighting plan as a " +
        "literal; raise maxVocabEntries deliberately")
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val tgt = counts.collect { case (w, tn, _) if tn > 0 => w -> tn }.toMap
    val rw = counts.collect { case (w, _, rn) if rn > 0 => w -> rn }.toMap
    require(tgt.nonEmpty && rw.nonEmpty, "fitDsir: empty corpus")
    val vocab = counts.map(_._1).sorted.toSeq
    val tTot = tgt.values.sum.toDouble
    val rTot = rw.values.sum.toDouble
    val v = vocab.length.toDouble
    def term(tc: Long, rc: Long) =
      math.log((tc + alpha) / (tTot + alpha * v)) -
        math.log((rc + alpha) / (rTot + alpha * v))
    DsirUnigram(
      lr = vocab.map(w => w -> term(tgt.getOrElse(w, 0L), rw.getOrElse(w, 0L))).toMap,
      oovLr = term(0L, 0L))
  }

  /** `outCol` = Σ_tokens log-ratio — one per-row fold, no shuffle; tokens
    * outside the fitted vocabulary contribute the smoothing-floor
    * constant.
    */
  def dsirLogWeights(df: DataFrame, textCol: String, model: DsirUnigram,
      outCol: String = "dsir_logw"): DataFrame = {
    val words = when(length(trim(col(textCol))) === 0,
        array().cast("array<string>"))
      .otherwise(split(lower(trim(col(textCol))), "\\s+"))
    df.withColumn(outCol, graft.functions.LookupExprs.sumLookup(
      words, model.lr, model.oovLr))
  }

  /** The RESAMPLE half of DSIR: keep each row with probability
    * `exp(logw − logwMax)` — self-normalized rejection sampling, the
    * heaviest row always survives and the kept fraction adapts to the
    * weight distribution. The uniform is the repo's deterministic
    * md5-prefix draw ([[CorpusPrep.deterministicSample]]'s convention:
    * first 4 hex chars of `md5(salt|id)` against a per-row cutoff, 1/65536
    * resolution) — membership is a pure function of (salt, id, logw), the
    * same rows survive on any cluster, any partitioning, any engine.
    *
    * Cost: one max() pass for the normalizer (a driver scalar — the only
    * global state), then a pure per-row filter. No shuffle, no RNG state.
    * Without a supplied `normalizer` the weight expression is evaluated
    * twice (once projected for the max, once in the filter) —
    * deliberately: staging the full frame to make it single-pass would
    * MATERIALIZE the whole corpus (text columns and all) to checkpoint
    * storage, which measured 4× the cost of re-running the cheap
    * dsirLogWeights fold at the ×1000 blow-up and is a nonstarter at
    * 100 TB.
    *
    * `normalizer = Some(m)` SKIPS the max() pass — the ×1000 single-scan
    * path (measured: the second fold scan is ~40% of the call). Supply it
    * when the max is already known: a previously staged narrow
    * (id, logw) frame, the max of an earlier epoch over the same fit, or
    * an analytic bound. The supplied value must be ≥ the true max for
    * exact self-normalized semantics; a LOWER value degrades gracefully —
    * rows with logw > m get acceptance p > 1, which the cutoff clamps to
    * "always keep" (the heaviest rows can never be lost, only the
    * relative down-weighting of the rest is scaled). Keep the supplied
    * value within ~ln(2¹⁵) ≈ 10.4 of the true max: beyond that,
    * exp(logw − m) overflows the 16-bit acceptance rendering — supply
    * bounds, not guesses.
    */
  def importanceResample(df: DataFrame, idCol: String, logwCol: String,
      salt: String = "", normalizer: Option[Double] = None): DataFrame = {
    val mx = normalizer.getOrElse {
      val mxRow = df.select(col(logwCol)).agg(max(col(logwCol))).head()
      if (mxRow.isNullAt(0)) return df // empty input: nothing to resample
      mxRow.getDouble(0)
    }
    val p = exp(col(logwCol) - lit(mx))
    // The draw and cutoff are CorpusPrep's shared membership convention —
    // one definition, so the byte recipe oracles replay cannot drift.
    df.filter(CorpusPrep.hashPrefix(col(idCol), salt) < CorpusPrep.cutHexCol(p))
  }

  /** Precision-targeted threshold calibration — "keep everything the
    * classifier scores ≥ τ, with τ the LOOSEST cut whose kept set still
    * hits `targetPrecision` on a labeled calibration frame" (the
    * FineWeb-Edu-style step between training a quality classifier and
    * running it over 100 TB: the τ you ship IS the curation decision).
    * Max-recall subject to the precision floor: among all observed
    * score cuts, the smallest score whose keep-set precision ≥ target.
    *
    * Scale shape = the rocAuc histogram discipline: one groupBy
    * collapses the frame to distinct scores (loud cap — calibrate on
    * ROUNDED scores), cumulative pos/neg run over the bounded histogram
    * only (window ordered score-desc), the precision test compares
    * exact long counts against the target, and the single closing
    * divisions are the whole float surface. Fails LOUDLY when no cut
    * meets the target (shipping an unreachable precision floor
    * silently would curate garbage). Returns one row
    * (threshold, precision, recall, n_kept, n_pos_total).
    */
  def thresholdForPrecision(df: DataFrame, scoreCol: String,
      labelCol: String, targetPrecision: Double,
      maxDistinctScores: Int = 1 << 20): DataFrame = {
    require(targetPrecision > 0.0 && targetPrecision <= 1.0,
      s"thresholdForPrecision: targetPrecision $targetPrecision must be " +
        "in (0, 1]")
    val h = df.groupBy(col(scoreCol).as("__s")).agg(
      sum(when(col(labelCol).cast("boolean"), 1L).otherwise(0L)).as("__p"),
      sum(when(col(labelCol).cast("boolean"), 0L).otherwise(1L)).as("__n"))
    val staged = graft.core.Persist.stage(h)
    Bounded.check(staged.count(), maxDistinctScores, "thresholdForPrecision",
      "distinct scores", "maxDistinctScores",
      s"round '$scoreCol' first (the cumulative window runs over the histogram)")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("__s").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = staged
      .withColumn("__cp", sum(col("__p")).over(w))
      .withColumn("__cn", sum(col("__n")).over(w))
    val ok = cum.filter(
      col("__cp").cast("double") / (col("__cp") + col("__cn"))
        >= targetPrecision)
    require(!ok.isEmpty,
      s"thresholdForPrecision: NO score cut reaches precision " +
        s"$targetPrecision on this calibration frame (best prefix misses " +
        "it) — lower the target or improve the classifier")
    val totals = staged.agg(coalesce(sum(col("__p")), lit(0L)).as("__tp"))
    ok.orderBy(col("__s").asc).limit(1)
      .crossJoin(broadcast(totals))
      .select(col("__s").as("threshold"),
        round(col("__cp").cast("double") / (col("__cp") + col("__cn")), 6)
          .as("precision"),
        round(col("__cp").cast("double") / col("__tp"), 6).as("recall"),
        (col("__cp") + col("__cn")).as("n_kept"),
        col("__tp").as("n_pos_total"))
  }
}
