package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.core.{Bounded, NLExpr, ReasoningStrategy, Sem}

/** Evaluation operators, composed from the core ops exactly as the reference
  * composes them (lotus/evals/llm_as_judge.py, pairwise_judge.py).
  */
object Evals {

  /** The reference judge system prompt, verbatim (llm_as_judge.py:71-75 —
    * including the missing inter-sentence spaces).
    */
  val JudgeSystemPrompt: String =
    "You are an intelligent, rigorous, and fair evaluator." +
      "The user will provide the judging criteria, the relevant context and the grading scale." +
      "Your job is to judge the output given the criteria, context and grading scale."

  /** n-trial judging: one sem_map per trial with the judge system prompt,
    * output columns `<suffix>_i`. Reference behaviors mirrored
    * (llm_as_judge.py:76-105): response_format is rejected under CoT
    * strategies; the response cache is disabled during trials so repeated
    * trials stay independent; trials run concurrently on driver threads
    * (ThreadPoolExecutor → concurrent Spark job submission).
    *
    * `responseFormat`: field names of a required JSON response — each
    * trial's raw output is validated (parse failure raises, like pydantic's
    * model_validate_json) and the trial column becomes a struct of the
    * fields.
    */
  def llmAsJudge(df: DataFrame, judgeInstr: String, nTrials: Int = 1,
      suffix: String = "_judge",
      responseFormat: Seq[String] = Nil,
      systemPrompt: Option[String] = None,
      strategy: ReasoningStrategy = ReasoningStrategy.Default): DataFrame = {
    require(responseFormat.isEmpty ||
      (strategy != ReasoningStrategy.Cot && strategy != ReasoningStrategy.ZsCot),
      "Response format is not supported for COT or ZS_COT strategies. " +
        "Use a non-COT strategy instead with reasoning field in the response format.")
    val sys = Some(systemPrompt.getOrElse(JudgeSystemPrompt))
    val s0 = Sem.settings
    Sem.withSettings(s0.copy(enableCache = false)) {
      val trials: Seq[(Int, DataFrame => DataFrame)] = (0 until nTrials).map { i =>
        i -> ((d: DataFrame) => {
          val mapped = SemRowOps.semMap(d, judgeInstr, suffix = s"$suffix$i",
            strategy = strategy, systemPrompt = sys)
          if (responseFormat.isEmpty) mapped
          else {
            val schema = StructType(responseFormat.map(f => StructField(f, StringType)))
            // FAILFAST: a raw output that does not parse into the format
            // raises on materialization, matching model_validate_json.
            val parsed = from_json(col(s"$suffix$i"), schema,
              Map("mode" -> "FAILFAST"))
            mapped.withColumn(s"$suffix$i", parsed)
          }
        })
      }
      if (nTrials <= 1) trials.foldLeft(df)((d, t) => t._2(d))
      else {
        // Each trial is an independent LLM stage over the SAME input; run
        // them concurrently (bounded by parallelGroupbyMaxThreads) and join
        // the trial columns back on a row id.
        val keyed = df.withColumn("__judge_rid", monotonically_increasing_id())
          .transform(graft.core.Persist.stage(_))
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.max(1, math.min(s0.parallelGroupbyMaxThreads, nTrials)))
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutor(pool)
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration._
        try {
          val futs = trials.map { case (i, t) =>
            Future {
              t(keyed).select(col("__judge_rid"), col(s"$suffix$i"))
                .transform(graft.core.Persist.stage(_))
            }
          }
          val cols = Await.result(Future.sequence(futs), Duration.Inf)
          cols.foldLeft(keyed)((d, c) => d.join(c, "__judge_rid")).drop("__judge_rid")
        } finally pool.shutdown()
      }
    }
  }

  /** A/B comparison of two columns: rename to single-token labels `A`/`B`
    * (single tokens keep logprob cascades possible, reference
    * pairwise_judge.py:13-24), run the filter core with output tokens
    * ("A","B"), map the boolean back to "A"/"B". With `permuteCols`, both
    * orders are judged and the second trial's verdict is remapped.
    */
  def pairwiseJudge(df: DataFrame, col1: String, col2: String, judgeInstr: String,
      nTrials: Int = 1, permuteCols: Boolean = false,
      suffix: String = "_judge"): DataFrame = {
    val base = df
    val trials = if (permuteCols) nTrials * 2 else nTrials
    (0 until trials).foldLeft(base) { (d, i) =>
      val flip = permuteCols && i % 2 == 1
      val (a, b) = if (flip) (col2, col1) else (col1, col2)
      val renamed = d.withColumnRenamed(a, "A").withColumnRenamed(b, "B")
      val instr = NLExpr.substitute(judgeInstr,
        Map(col1 -> (if (flip) "{B}" else "{A}"), col2 -> (if (flip) "{A}" else "{B}")))
      val judged = SemRowOps.semFilter(renamed, instr, default = true, returnAll = true,
        suffix = s"__pred$i", outputTokens = ("A", "B"))
      val verdict = if (flip)
        when(org.apache.spark.sql.functions.col(s"__pred$i"), "B").otherwise("A")
      else
        when(org.apache.spark.sql.functions.col(s"__pred$i"), "A").otherwise("B")
      judged.withColumn(s"$suffix$i", verdict).drop(s"__pred$i")
        .withColumnRenamed("A", a).withColumnRenamed("B", b)
    }
  }

  /** Retrieval-quality metrics per query — the IR eval that closes the
    * loop on the batch search tiers: given a ranked results table
    * `(qid, doc, rank)` (rank 1-based) and graded judgments
    * `(qid, doc, grade)` (grade > 0 ⇒ relevant), computes per query
    *
    *  - `recall_k`:  |retrieved@k ∩ relevant| / |relevant|
    *  - `mrr_k`:     1 / rank of the first relevant hit in the top k (0 if
    *                 none) — reciprocal rank, macro-averaged by the caller
    *  - `ndcg_k`:    Σ grade/log2(rank+1) over the top k, normalized by the
    *                 ideal ordering of that query's grades (0 if no
    *                 relevant docs)
    *
    * Queries with judgments but no results still appear (all-zero row) —
    * silently dropping them would inflate every macro average. Shape: one
    * equi-join on (qid, doc) + two grouped aggregations; nothing is
    * per-query iterative, so a million-query eval runs as one plan.
    */
  def retrievalMetrics(results: DataFrame, qrels: DataFrame, k: Int,
      qidCol: String = "qid", docCol: String = "doc_id",
      rankCol: String = "rank", gradeCol: String = "grade"): DataFrame = {
    require(k >= 1, s"retrievalMetrics: k $k must be >= 1")
    val q = col(qidCol)
    // Ideal DCG and the relevant-doc count share ONE aggregation over the
    // judged-relevant rows: the iDCG sum is conditioned on the top-k ideal
    // ranks, the count is not.
    val ideal = qrels.filter(col(gradeCol) > 0)
      .withColumn("__irank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(q)
          .orderBy(col(gradeCol).desc, col(docCol))))
      .groupBy(q).agg(
        sum(when(col("__irank") <= k,
          col(gradeCol).cast("double") /
            log2(col("__irank").cast("double") + 1.0))
          .otherwise(lit(0.0))).as("__idcg"),
        count(lit(1)).as("__n_rel"))
    val hits = results.filter(col(rankCol) <= k)
      .join(qrels.filter(col(gradeCol) > 0), Seq(qidCol, docCol))
    val perQ = hits.groupBy(q).agg(
      count(lit(1)).as("__n_hit"),
      min(col(rankCol)).as("__first_rank"),
      sum(col(gradeCol).cast("double") /
        log2(col(rankCol).cast("double") + 1.0)).as("__dcg"))
    ideal.join(perQ, Seq(qidCol), "left_outer")
      .select(q,
        round(coalesce(col("__n_hit"), lit(0L)).cast("double") /
          col("__n_rel"), 4).as(s"recall_$k"),
        round(coalesce(lit(1.0) / col("__first_rank"), lit(0.0)), 4)
          .as(s"mrr_$k"),
        round(coalesce(col("__dcg") / col("__idcg"), lit(0.0)), 4)
          .as(s"ndcg_$k"))
  }

  /** SQuAD-style answer-overlap metrics — normalized exact match and
    * token-multiset F1 (Rajpurkar et al. 2016, arXiv 1606.05250 §6.1:
    * lowercase → strip ASCII punctuation → drop English articles →
    * collapse whitespace; F1 counts each token min(count_pred, count_ref)
    * times). Pure per-row column composition: an eval sweep over a
    * billion-row predictions table is one narrow map — no shuffle, no
    * explode — at any scale. `f1` uses the algebraic form
    * 2·same/(|p|+|r|) (≡ 2PR/(P+R), and the identical float-op shape the
    * oracle replays); a both-empty pair scores em = true, f1 = 1 (the
    * SQuAD convention for empty gold answers), a one-sided-empty pair 0.
    * `dropArticles` is the English-specific step — disable it for
    * non-English eval sets.
    */
  def textOverlapMetrics(df: DataFrame, predCol: String, refCol: String,
      dropArticles: Boolean = true): DataFrame = {
    def toks(c: Column): Column = {
      val depunct = regexp_replace(lower(c), "[!-/:-@\\[-`{-~]", "")
      val noArt =
        if (dropArticles) regexp_replace(depunct, "\\b(a|an|the)\\b", " ")
        else depunct
      val squeezed = trim(regexp_replace(noArt, "\\s+", " "))
      when(squeezed === "", array().cast("array<string>"))
        .otherwise(split(squeezed, " "))
    }
    val p = toks(col(predCol))
    val r = toks(col(refCol))
    // Multiset intersection size: per DISTINCT pred token, the smaller of
    // its two occurrence counts. Work is bounded by each row's own token
    // count (≤ |p|·(|p|+|r|) comparisons on short answer strings).
    val same = aggregate(array_distinct(p), lit(0),
      (acc, t) => acc +
        least(size(filter(p, x => x === t)), size(filter(r, x => x === t))))
    df.withColumn("n_same", same.cast("long"))
      .withColumn("em", p === r)
      .withColumn("f1",
        when(size(p) === 0 && size(r) === 0, lit(1.0))
          .when(col("n_same") === 0, lit(0.0))
          .otherwise(lit(2.0) * col("n_same").cast("double") /
            (size(p) + size(r)).cast("double")))
  }

  /** Unbiased pass@k (Chen et al. 2021, arXiv 2107.03374 §2.1 — the
    * HumanEval estimator): per problem with n samples of which c pass,
    * `pass@k = 1 − C(n−c, k)/C(n, k)`, computed as the left-fold product
    * `Π_{i<k} (n−c−i)/(n−i)` — numerically stable (every factor ≤ 1, no
    * factorial overflow) and, starting from 1.0 (multiplication by 1.0
    * is IEEE-exact), the identical rounding sequence an oracle's
    * list-fold replays. One grouped aggregate over the samples table —
    * an eval sweep over millions of (problem, sample) rows is one
    * shuffle. Problems with n < k are REJECTED (the estimator is
    * undefined); c = n short-circuits to 1.0 exactly.
    */
  def passAtK(df: DataFrame, problemCol: String, correctCol: String,
      ks: Seq[Int]): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1),
      s"passAtK: ks $ks must all be >= 1")
    val n = col("n").cast("double")
    val c = col("c").cast("double")
    val kCols = ks.distinct.sorted.map { k =>
      when(col("n") < k, lit(null).cast("double"))
        .when(c === n, lit(1.0))
        .otherwise(lit(1.0) - aggregate(sequence(lit(0), lit(k - 1)),
          lit(1.0), (acc, i) => acc * (n - c - i) / (n - i)))
        .as(s"pass_at_$k")
    }
    val grouped = df.groupBy(col(problemCol))
      .agg(count(lit(1)).as("n"),
        sum(when(col(correctCol).cast("boolean"), 1L).otherwise(0L)).as("c"))
    val out = grouped.select(col(problemCol) +: col("n") +: col("c") +:
      kCols: _*)
    val bad = out.filter(ks.distinct.sorted.map(k =>
      col(s"pass_at_$k").isNull).reduce(_ || _)).limit(1).count()
    require(bad == 0,
      s"passAtK: some problem has fewer samples than max k=${ks.max} — " +
        "the estimator is undefined there; filter or lower k")
    out
  }

  /** Reliability diagram — the per-bin calibration table behind ECE
    * (Guo et al. 2017, arXiv 1706.04599 §2): equal-width confidence bins
    * [0,1], per bin the count, accuracy, mean confidence, and |gap|.
    * One grouped aggregate; the only non-integer aggregate is the
    * confidence sum (exactly order-independent when confidences are
    * dyadic rationals — logprob-derived 1/2ᵏ grids qualify; arbitrary
    * floats are still correct, just not bit-pinned across engines).
    * `ece(report)` folds the diagram into the scalar in ascending-bin
    * order.
    */
  def calibrationReport(df: DataFrame, confCol: String, correctCol: String,
      bins: Int = 10): DataFrame = {
    require(bins >= 1, s"calibrationReport: bins $bins must be >= 1")
    val outOfRange = df
      .filter(col(confCol) < 0.0 || col(confCol) > 1.0).limit(1).count()
    require(outOfRange == 0,
      s"calibrationReport: $confCol must lie in [0, 1]")
    val bin = least(floor(col(confCol) * bins).cast("int"), lit(bins - 1))
    df.groupBy(bin.as("bin"))
      .agg(count(lit(1)).as("n"),
        sum(when(col(correctCol).cast("boolean"), 1L).otherwise(0L))
          .as("n_correct"),
        sum(col(confCol).cast("double")).as("__sumConf"))
      .withColumn("acc", col("n_correct").cast("double") / col("n"))
      .withColumn("avg_conf", col("__sumConf") / col("n"))
      .withColumn("abs_gap", abs(col("acc") - col("avg_conf")))
      .select("bin", "n", "n_correct", "acc", "avg_conf", "abs_gap")
  }

  /** Expected calibration error from a [[calibrationReport]] frame:
    * Σ_b (n_b/N)·|gap_b|, folded in ascending-bin order (≤ bins rows —
    * a driver fold, deterministic).
    */
  def ece(report: DataFrame): Double = {
    val rows = report.select("bin", "n", "abs_gap")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    val total = rows.map(_._2).sum.toDouble
    rows.foldLeft(0.0) { case (acc, (_, n, gap)) => acc + n / total * gap }
  }

  /** Exact ROC-AUC of a score column against a boolean label — the
    * Mann–Whitney form over the SCORE HISTOGRAM, with the standard ½
    * credit for ties: AUC = Σ_g nPos_g·(cumNegBelow_g + nNeg_g/2) /
    * (P·N). Scale shape: one groupBy collapses the corpus to its
    * distinct scores (bounded with a loud cap — the pct-rank
    * convention), a window ONLY over that bounded histogram, and the sum
    * kept in INTEGERS doubled (n·(2·cumNeg + nNeg)) so the single final
    * division is the only float op — bit-identical on any engine.
    * Returns one row (auc, n_pos, n_neg, n_scores).
    */
  def rocAuc(df: DataFrame, scoreCol: String, labelCol: String,
      maxDistinctScores: Int = 1 << 20): DataFrame = {
    val h = df.groupBy(col(scoreCol).as("__s"))
      .agg(sum(when(col(labelCol).cast("boolean"), 1L).otherwise(0L)).as("__p"),
        sum(when(col(labelCol).cast("boolean"), 0L).otherwise(1L)).as("__n"))
    val staged = graft.core.Persist.stage(h)
    // ONE aggregate: the bucket count and both class totals.
    val stats = staged.agg(count(lit(1)), coalesce(sum(col("__p")), lit(0L)),
      coalesce(sum(col("__n")), lit(0L))).head()
    val nScores = stats.getLong(0)
    Bounded.check(nScores, maxDistinctScores, "rocAuc", "distinct scores",
      "maxDistinctScores", "the rank window runs over the histogram; " +
        "quantize the score or raise maxDistinctScores deliberately")
    // Both classes must be present: with P = 0 or N = 0 the closing
    // division would silently emit NaN/Infinity — reject loudly instead,
    // matching passAtK/fleissKappa/calibrationReport's convention.
    val (nPosTot, nNegTot) = (stats.getLong(1), stats.getLong(2))
    require(nPosTot >= 1 && nNegTot >= 1,
      s"rocAuc: need both classes present, got n_pos=$nPosTot " +
        s"n_neg=$nNegTot — AUC is undefined for a single-class label")
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("__s"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    staged
      .withColumn("__cumNegBelow", coalesce(sum(col("__n")).over(w), lit(0L)))
      .agg(
        sum(col("__p") * (lit(2L) * col("__cumNegBelow") + col("__n")))
          .as("__num2"),
        sum(col("__p")).as("n_pos"), sum(col("__n")).as("n_neg"))
      .withColumn("auc",
        col("__num2").cast("double") /
          (lit(2.0) * col("n_pos") * col("n_neg")))
      .withColumn("n_scores", lit(nScores))
      .select("auc", "n_pos", "n_neg", "n_scores")
  }

  /** Fleiss' kappa (Fleiss 1971) — inter-rater agreement over an (item,
    * rater, label) table with a CONSTANT number of raters per item
    * (validated loudly; the statistic is undefined otherwise). Every
    * intermediate is an INTEGER sum (Σ n_ij², per-label totals), so the
    * three closing float ops (two divisions, one ratio) are the whole
    * IEEE surface — engine-replayable without float-order care. One
    * grouped aggregate per term; no window, no collect beyond the
    * scalars.
    */
  def fleissKappa(df: DataFrame, itemCol: String, labelCol: String)
      : DataFrame = {
    val cell = df.groupBy(col(itemCol).as("__i"), col(labelCol).as("__l"))
      .agg(count(lit(1)).as("__c"))
    val perItem = cell.groupBy("__i")
      .agg(sum(col("__c")).as("__n"), sum(col("__c") * col("__c")).as("__sq"))
    val stats = perItem.agg(
      countDistinct(col("__n")).as("__distinctN"),
      max(col("__n")).as("__n1"),
      count(lit(1)).as("__items"),
      sum(col("__sq")).as("__sumSq")).head()
    require(stats.getLong(0) == 1L,
      "fleissKappa: items have differing rater counts — Fleiss' kappa " +
        "requires a constant n per item; complete or filter the panel")
    val n = stats.getLong(1)
    require(n >= 2, s"fleissKappa: need >= 2 raters per item, got $n")
    val nItems = stats.getLong(2)
    val sumSq = stats.getLong(3)
    val labelSq = cell.groupBy("__l").agg(sum(col("__c")).as("__cl"))
      .agg(sum(col("__cl") * col("__cl")).as("__s2")).head().getLong(0)
    // pBar = (Σ_i Σ_j n_ij² − N·n) / (N·n·(n−1)); pe = Σ_j C_j² / (N·n)²
    // — both ratios of exact longs (magnitudes < 2^53 by the panel
    // bounds), then one closing ratio.
    val spark = df.sparkSession
    import spark.implicits._
    val pBar = (sumSq - nItems * n).toDouble / (nItems * n * (n - 1)).toDouble
    val pe = labelSq.toDouble / ((nItems * n) * (nItems * n)).toDouble
    Seq((if (pe == 1.0) 1.0 else (pBar - pe) / (1.0 - pe),
      pBar, pe, nItems, n))
      .toDF("kappa", "p_bar", "p_e", "n_items", "n_raters")
  }

  /** Bradley–Terry strength fit over pairwise comparisons — the arena
    * analysis stage downstream of [[pairwiseJudge]] (Hunter 2004's MM
    * algorithm, the estimator behind Chatbot-Arena-style leaderboards):
    * `w_i ← W_i / Σ_j n_ij / (w_i + w_j)`, simultaneous updates from the
    * previous iterate, `iters` rounds from the all-ones start, scores
    * normalized to sum 1 at the end.
    *
    * Scale shape: ONE grouped aggregate over the comparisons table
    * (billions of rows → ≤ models² count rows), then a driver-side fit
    * bounded by `maxModels` through [[graft.core.Bounded.pull]]. Every
    * float-order choice is pinned so an engine-independent oracle can
    * replay the fit bit for bit: opponents accumulate in ascending-model
    * order via a plain left fold, win totals are INTEGERS, updates read
    * only the previous iterate, and the final normalizer is the
    * index-order sum of the weight vector.
    *
    * `winnerCol` must hold 'a' or 'b' (which side of the pair won); any
    * other value, a self-pair or a null model is rejected loudly. Returns
    * (model, wins, games, score, rank) with rank tie-broken on model.
    */
  def bradleyTerry(df: DataFrame, aCol: String, bCol: String,
      winnerCol: String, iters: Int = 50, maxModels: Int = 1024): DataFrame = {
    require(iters >= 1, s"bradleyTerry: iters $iters must be >= 1")
    // A null winner must count as bad: `isin` alone is null there, and the
    // `otherwise` below would credit side b.
    val bad = df.agg(
      count_if(col(winnerCol).isNull || !col(winnerCol).isin("a", "b")),
      count_if(col(aCol) === col(bCol)),
      count_if(col(aCol).isNull), count_if(col(bCol).isNull)).head()
    require(bad.getLong(0) == 0,
      s"bradleyTerry: $winnerCol must be 'a' or 'b' — found other values")
    require(bad.getLong(1) == 0,
      s"bradleyTerry: a model compared against itself carries no signal " +
        "and breaks the pair structure; filter self-pairs first")
    Seq(aCol -> bad.getLong(2), bCol -> bad.getLong(3)).foreach { case (c, n) =>
      require(n == 0, s"bradleyTerry: null model in $c — filter or impute first")
    }
    val dir = df.select(
      when(col(winnerCol) === "a", col(aCol)).otherwise(col(bCol)).as("wm"),
      when(col(winnerCol) === "a", col(bCol)).otherwise(col(aCol)).as("lm"))
    // m models make fewer than m² (winner, loser) rows, hence `per`.
    val counts = Bounded.pull(dir.groupBy("wm", "lm").agg(count(lit(1)).as("c")),
        maxModels, "bradleyTerry", "distinct models", "maxModels", "the fit " +
          "is models²-dense on the driver; raise maxModels deliberately",
        per = maxModels, units = _.flatMap(r => Seq(r.get(0), r.get(1))).distinct.length)
      .map(r => ((r.get(0), r.get(1)), r.getLong(2))).toMap
    val models = counts.keysIterator.flatMap(k => Seq(k._1, k._2)).toSeq
      .distinct.sortBy(_.toString)
    val m = models.length
    val idx = models.zipWithIndex.toMap
    val n = Array.ofDim[Long](m, m)
    val wins = Array.fill(m)(0L)
    counts.foreach { case ((wm, lm), c) =>
      val i = idx(wm); val j = idx(lm)
      n(i)(j) += c; n(j)(i) += c; wins(i) += c
    }
    var w = Array.fill(m)(1.0)
    for (_ <- 0 until iters) {
      val nw = new Array[Double](m)
      var i = 0
      while (i < m) {
        var denom = 0.0
        var j = 0
        while (j < m) {
          if (j != i && n(i)(j) > 0) denom += n(i)(j).toDouble / (w(i) + w(j))
          j += 1
        }
        nw(i) = wins(i).toDouble / denom
        i += 1
      }
      w = nw
    }
    var total = 0.0
    w.foreach(total += _)
    val ranked = models.indices
      .map(i => (models(i), wins(i), n(i).sum, w(i) / total))
      .sortBy { case (mod, _, _, sc) => (-sc, mod.toString) }
      .zipWithIndex
      .map { case ((mod, wi, g, sc), r) => (mod.toString, wi, g, sc, r + 1L) }
    val spark = df.sparkSession
    import spark.implicits._
    ranked.toDF("model", "wins", "games", "score", "rank")
  }

  /** Self-consistency aggregation (Wang et al. 2022, arXiv 2203.11171):
    * per problem, the majority answer across samples (ties to the
    * lexicographically smallest answer — a total order) plus the
    * agreement fraction. Two grouped aggregates — the per-(problem,
    * answer) counts then a max_by per problem — never a per-problem
    * window over raw samples.
    */
  def selfConsistency(df: DataFrame, problemCol: String,
      answerCol: String): DataFrame = {
    val counts = df.groupBy(col(problemCol), col(answerCol).as("__ans"))
      .agg(count(lit(1)).as("__cnt"))
    counts.groupBy(col(problemCol))
      .agg(
        // Tie-break encoded in the ordering key: minimize (−count,
        // answer) — highest count wins, equal counts go to the smallest
        // answer. A total order, so both engines pick identically.
        min_by(col("__ans"),
          struct((lit(0L) - col("__cnt")).as("negc"), col("__ans")))
          .as("majority_answer"),
        max(col("__cnt")).as("majority_count"),
        sum(col("__cnt")).as("n_samples"))
      .withColumn("agreement",
        col("majority_count").cast("double") / col("n_samples").cast("double"))
  }

  /** Exact Kendall rank correlation τ-b between two score columns —
    * "do two judges / two metrics rank the eval set the same way",
    * with full tie handling (τ-b is the tie-corrected form; LLM judge
    * scores are small integers, so ties dominate). Scale shape follows
    * the [[rocAuc]] histogram convention: ONE groupBy collapses the
    * corpus to its distinct (a, b) value pairs (loud cap — a billion-row
    * eval with 10-point scores is a ≤100-row histogram), concordant /
    * discordant / tie counts are integer sums over the BOUNDED
    * histogram self-join (h² cell pairs, each weighted n_i·n_j), and
    * the closing τ-b = (C − D) / √((n0 − n1)(n0 − n2)) is the only
    * float surface — three integer-exact operands, bit-identical on
    * any engine. Counting each unordered pair once (the i < j half)
    * keeps every intermediate a plain long: with the default cap the
    * products stay far under 2^63 for any corpus below ~4 billion rows.
    * Returns one row (tau_b, n_pairs, concordant, discordant, tie_a,
    * tie_b, n_rows).
    */
  def kendallTauB(df: DataFrame, aCol: String, bCol: String,
      maxDistinctPairs: Int = 4096): DataFrame = {
    val h = df.groupBy(col(aCol).as("__a"), col(bCol).as("__b"))
      .agg(count(lit(1)).as("__n"))
    val staged = graft.core.Persist.stage(h)
    // ONE aggregate: the cell count and each column's distinct values.
    val dc = staged.agg(count(lit(1)), countDistinct(col("__a")),
      countDistinct(col("__b"))).head()
    Bounded.check(dc.getLong(0), maxDistinctPairs, "kendallTauB",
      "distinct (a, b) value pairs", "maxDistinctPairs", "the cell " +
        "self-join is quadratic in the histogram; quantize the scores or " +
        "raise maxDistinctPairs deliberately")
    // A constant column (or a 0/1-row frame) makes a denominator factor
    // (n0 − n1) or (n0 − n2) zero and τ-b silently NaN — reject loudly,
    // the same contract as rocAuc's both-classes-present check.
    require(dc.getLong(1) >= 2 && dc.getLong(2) >= 2,
      s"kendallTauB: '$aCol' has ${dc.getLong(1)} and '$bCol' has " +
        s"${dc.getLong(2)} distinct value(s) — τ-b is undefined (zero " +
        "denominator) unless BOTH score columns take at least two values")
    val x = staged.select(col("__a").as("a1"), col("__b").as("b1"),
      col("__n").as("n1"))
    val y = staged.select(col("__a").as("a2"), col("__b").as("b2"),
      col("__n").as("n2"))
    // Each unordered CELL pair once (total order on (a, b)); same-cell
    // pairs contribute only joint ties, counted from n_i·(n_i−1)/2.
    val cross = x.join(y,
      col("a1") < col("a2") ||
        (col("a1") === col("a2") && col("b1") < col("b2")))
    val w = col("n1") * col("n2")
    val agg = cross.agg(
      sum(when(((col("a1") < col("a2")) && (col("b1") < col("b2"))) ||
          ((col("a1") > col("a2")) && (col("b1") > col("b2"))), w)
        .otherwise(0L)).as("__c"),
      sum(when(((col("a1") < col("a2")) && (col("b1") > col("b2"))) ||
          ((col("a1") > col("a2")) && (col("b1") < col("b2"))), w)
        .otherwise(0L)).as("__d"),
      sum(when(col("a1") === col("a2") && col("b1") =!= col("b2"), w)
        .otherwise(0L)).as("__ta"),
      sum(when(col("b1") === col("b2") && col("a1") =!= col("a2"), w)
        .otherwise(0L)).as("__tb"))
    // n·(n−1) is even, so shiftright-by-1 is the exact long halving (a
    // `/` would detour through double and lose exactness near 2^53).
    val tot = staged.agg(sum(col("__n")).as("__nr"),
      shiftright(sum(col("__n") * (col("__n") - 1)), 1).as("__joint"))
    agg.crossJoin(broadcast(tot))
      .withColumn("n_pairs",
        shiftright(col("__nr") * (col("__nr") - 1), 1))
      .withColumn("concordant", coalesce(col("__c"), lit(0L)))
      .withColumn("discordant", coalesce(col("__d"), lit(0L)))
      .withColumn("tie_a", coalesce(col("__ta"), lit(0L)))
      .withColumn("tie_b", coalesce(col("__tb"), lit(0L)))
      // The two denominator factors are exact longs; cast EACH to double
      // before the product (a long product of two ~n² factors overflows
      // past n ≈ 55k) — sqrt is the closing float surface.
      .withColumn("tau_b",
        (col("concordant") - col("discordant")).cast("double") /
          sqrt((col("n_pairs") - col("tie_a") - col("__joint"))
              .cast("double") *
            (col("n_pairs") - col("tie_b") - col("__joint"))
              .cast("double")))
      .select(round(col("tau_b"), 6).as("tau_b"),
        col("n_pairs").cast("long").as("n_pairs"),
        col("concordant"), col("discordant"), col("tie_a"), col("tie_b"),
        col("__nr").as("n_rows"))
  }
}
