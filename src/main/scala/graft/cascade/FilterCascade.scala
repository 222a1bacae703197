package graft.cascade

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.core.{NLExpr, Sem}
import graft.llm.{LMClient, LMRequest, Prompts}
import graft.operators.{LLMStage, SemCore}

final case class CascadeStats(
    total: Long, helperAccepted: Long, helperRejected: Long, oracleCalls: Long,
    tauPos: Double, tauNeg: Double)

/** Shared cascade machinery: given a frame scored with a calibrated proxy
  * probability `__pc` and row id `__cid`, learn thresholds from an
  * oracle-labelled importance sample and route — confident bands resolved by
  * the proxy, the uncertain middle by the oracle.
  *
  * Scale layout: proxy scoring and the middle-band oracle pass are
  * distributed; the driver only sees the first `cascadeISMaxSampleRange`
  * scores (the reference's sampling window), two scalar aggregates, and the
  * labelled sample — O(sample), never O(n).
  */
private[cascade] object CascadeCore {

  /** Learn (tauPos, tauNeg) on `scored` (must have __cid, __pc). */
  def learnThresholds(scored: DataFrame, mkReq: Row => LMRequest, oracleLm: LMClient,
      args: CascadeArgs, default: Boolean): (Double, Double) =
    (args.posThreshold, args.negThreshold) match {
      case (Some(tp), Some(tn)) => (tp, tn)
      case _ =>
        val window = scored.select("__cid", "__pc")
          .orderBy("__cid").limit(args.cascadeISMaxSampleRange)
          .collect().map(r => (r.getLong(0), r.getDouble(1)))
        val agg = scored.agg(sum(sqrt(col("__pc"))).as("ssq"), count(lit(1)).as("n")).head()
        val (sumSqrtAll, n) = (agg.getDouble(0), agg.getLong(1))

        val rng = new scala.util.Random(args.cascadeISRandomSeed.getOrElse(42L))
        def weight(p: Double): Double =
          args.cascadeISWeight * math.sqrt(p) / math.max(sumSqrtAll, 1e-12) +
            (1 - args.cascadeISWeight) / n
        val w = window.map { case (_, p) => weight(p) }
        val sumW = w.sum.max(1e-12)
        val cdf = w.map(_ / sumW).scanLeft(0.0)(_ + _).tail
        val sampleSize = math.max(1, (args.samplingPercentage * n).toInt)
        val sampleIdx = Seq.fill(sampleSize) {
          val u = rng.nextDouble()
          val i = cdf.indexWhere(_ >= u)
          if (i < 0) window.length - 1 else i
        }

        val sampledIds = sampleIdx.map(i => window(i)._1).distinct
        val sampleDf = scored.filter(col("__cid").isin(sampledIds: _*))
        val labelled = LLMStage.appendAnswer(sampleDf, oracleLm, "__oracle_raw", mkReq)
          .withColumn("__label",
            SemCore.boolExpr(SemCore.answerExprFor(oracleLm.modelName, col("__oracle_raw")), default))
          .select("__cid", "__label")
          .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap

        val proxyScores = sampleIdx.map(i => window(i)._2)
        val oracleOut = sampleIdx.map(i => labelled(window(i)._1))
        val corrections = sampleIdx.map(i => (1.0 / n) / weight(window(i)._2))
        val ((tp, tn), _) = CascadeUtils.learnCascadeThresholds(
          proxyScores, oracleOut, corrections, args)
        (tp, tn)
    }

  /** Route by thresholds; returns (kept rows projected to keepCols, stats). */
  def route(scored: DataFrame, mkReq: Row => LMRequest, oracleLm: LMClient,
      args: CascadeArgs, default: Boolean,
      keepCols: Seq[String]): (DataFrame, CascadeStats) = {
    val (tauPos, tauNeg) = learnThresholds(scored, mkReq, oracleLm, args, default)
    val isAccepted = col("__pc") >= tauPos
    val isRejected = col("__pc") <= tauNeg && col("__pc") < tauPos
    val isMiddle = col("__pc") < tauPos && col("__pc") > tauNeg
    val accepted = scored.filter(isAccepted)
    val middle = scored.filter(isMiddle)
    val oracleResolved = LLMStage.appendAnswer(middle, oracleLm, "__oracle_raw", mkReq)
      .filter(SemCore.boolExpr(SemCore.answerExprFor(oracleLm.modelName, col("__oracle_raw")), default))
      .drop("__oracle_raw")
    val cols = keepCols.map(col)
    val result = accepted.select(cols: _*).union(oracleResolved.select(cols: _*))
    // One job for all four counts; a null `__pc` fails every predicate, so
    // it is counted in the total only, as the filters above drop it.
    val counts = scored.agg(count(lit(1)), count(when(isAccepted, 1)),
      count(when(isRejected, 1)), count(when(isMiddle, 1))).head()
    val stats = CascadeStats(counts.getLong(0), counts.getLong(1),
      counts.getLong(2), counts.getLong(3), tauPos, tauNeg)
    (result, stats)
  }
}

/** Model-cascade sem_filter (reference lotus/sem_ops/sem_filter.py:433-603):
  * helper-LM logprob scores + learned thresholds; only the uncertain middle
  * band reaches the oracle model.
  */
object FilterCascade {

  def semFilterCascade(
      df: DataFrame,
      instr: String,
      helperLm: LMClient,
      args: CascadeArgs = CascadeArgs(),
      default: Boolean = true
  ): (DataFrame, CascadeStats) = {
    val s = Sem.settings
    val nle = NLExpr.parse(instr)
    nle.validate(df.columns.toIndexedSeq)
    val instruction = nle.instruction

    val withId = df.withColumn("__cid", monotonically_increasing_id())
    val ser = SemCore.serializeDoc(withId.schema, nle.cols, s.serializationFormat)
    val mkReq = (row: Row) => LMRequest(Prompts.filterFormatter(ser(row), instruction))

    // Helper pass (distributed), then distributed quantile calibration.
    val scored = LLMStage.appendAnswerWithProb(withId, helperLm, "__helper_raw", "__p", mkReq)
      .transform(graft.core.Persist.stage(_))
    val q = args.cascadeNumCalibrationQuantiles
    // relativeError 1e-4 keeps the Greenwald-Khanna sketch O(1/ε)-bounded on
    // the driver (relativeError 0 forces a full-precision sketch — O(n)
    // driver memory at corpus scale). The calibration digitizes into ~q bins,
    // so 1e-4 is statistically indistinguishable from exact quantiles.
    val quantiles = scored.stat.approxQuantile("__p",
      (0 to q).map(_.toDouble / q).toArray, 1e-4)
    val qArr = array(quantiles.toSeq.map(lit): _*)
    val bin = aggregate(qArr, lit(0), (acc, x) => acc + when(x <= col("__p"), 1).otherwise(0))
    val calibrated = scored.withColumn("__pc",
      least(lit(1.0), greatest(lit(0.0), (bin - 1).cast("double") / q)))
      .transform(graft.core.Persist.stage(_))

    CascadeCore.route(calibrated, mkReq, s.lm, args, default, df.columns.toIndexedSeq)
  }
}

/** Join cascade (reference lotus/sem_ops/sem_join.py:180-340,424-620): the
  * embedding sim-join score is the proxy; confident pairs are accepted or
  * dropped outright and only the uncertain band is LLM-verified. This is the
  * search-filter plan; activates only when |L|×|R| ≥ minJoinCascadeSize
  * (reference default 100), else falls back to the naive theta join.
  *
  * Candidate generation is scale-routed like [[graft.operators.EmbedOps
  * .semSimJoinAuto]] routes plans: under `args.joinCascadeAutoPairLimit`
  * estimated pairs, reference-parity full proxy scoring (K = |R| per-left
  * top-K — the reference's run_sem_sim_join) is exact and bounded, and the
  * scored frame is checkpointed at ≤ the pair limit. Above it, candidates
  * come from the LSH band-bucket join with `args.joinCascadeAutoTopK` per
  * left row — bounded candidates, no all-pairs enumeration or |L|×|R|
  * materialization at any stage: the 100 TB path (pairs outside the
  * retrieved top-k are implicitly rejected, trading bounded recall for
  * scale exactly like the reference's ANN retrieval). An explicit
  * `args.joinCascadeTopK > 0` forces the LSH path with that k.
  */
object JoinCascade {

  /** Build the scored candidate frame for one plan. `mapFirst` applies
    * `args.mapInstruction` to the left column before embedding — the
    * map-search-filter plan's proxy (reference sem_join.py:424-544).
    * The returned frame is bounded by max(joinCascadeAutoPairLimit,
    * |L|×topK) rows — never the unbounded cross product.
    */
  private[graft] def scoredPairs(left: DataFrame, right: DataFrame,
      leftOn: String, rightOn: String,
      mapFirst: Option[String], args: CascadeArgs,
      leftCount: Long, rightCount: Long): (DataFrame, String => Boolean) = {
    import graft.operators.EmbedOps
    val (lEff, lProxyCol) = mapFirst match {
      case Some(mi) =>
        val mapped = graft.operators.SemRowOps.semMap(left, mi, suffix = "__mapped")
        (mapped, "__mapped")
      case None => (left, leftOn)
    }
    val leftCols = lEff.columns.toSet
    val fullScoringOk =
      args.joinCascadeTopK <= 0 &&
        CascadeUtils.satMul(leftCount, rightCount) <= args.joinCascadeAutoPairLimit
    val cand =
      if (fullScoringOk) {
        // Reference parity (K = |R|): full proxy scoring, streamed per-left
        // through the top-K window; |L|×|R| is under the pair limit here, so
        // the downstream checkpoint is bounded too.
        val kAll = math.min(math.max(1L, rightCount), Int.MaxValue.toLong).toInt
        EmbedOps.semSimJoin(lEff, right, lProxyCol, rightOn, kAll, scoreCol = "__raw")
      } else {
        val k = if (args.joinCascadeTopK > 0) args.joinCascadeTopK
                else args.joinCascadeAutoTopK
        EmbedOps.semSimJoinLSH(lEff, right, lProxyCol, rightOn, k, scoreCol = "__raw")
      }
    val crossed = cand
      .withColumn("__cid", monotonically_increasing_id())
      // calibrate_sem_sim_join: clip scores into [0,1]
      .withColumn("__pc", least(lit(1.0), greatest(lit(0.0), col("__raw"))))
      .drop("__raw", "__mapped")
      .transform(graft.core.Persist.stage(_))
    val isLeft = (c: String) =>
      leftCols.contains(c) || (c.endsWith(":left") && leftCols.contains(c.stripSuffix(":left")))
    (crossed, isLeft)
  }

  def semJoinCascade(
      left: DataFrame,
      right: DataFrame,
      instr: String,
      leftOn: String,
      rightOn: String,
      args: CascadeArgs = CascadeArgs()
  ): (DataFrame, Option[CascadeStats]) = {
    val s = Sem.settings
    val leftCount = left.count()
    val rightCount = right.count()
    // Saturating multiply: at corpus scale a plain Long product wraps
    // negative, which would both re-enable K=|R| full scoring AND trip the
    // < minJoinCascadeSize fallback into a naive full theta join.
    val pairCount = CascadeUtils.satMul(leftCount, rightCount)
    if (pairCount < args.minJoinCascadeSize)
      return (graft.operators.SemRowOps.semJoin(left, right, instr), None)

    def mkReqFor(crossed: DataFrame, isLeftCol: String => Boolean): Row => LMRequest = {
      val nle = NLExpr.parse(instr)
      nle.validate(crossed.columns.toIndexedSeq)
      val leftCols = nle.cols.filter(isLeftCol)
      val rightCols = nle.cols.filterNot(isLeftCol)
      val serL = SemCore.serializeDoc(crossed.schema, leftCols, s.serializationFormat)
      val serR = SemCore.serializeDoc(crossed.schema, rightCols, s.serializationFormat)
      val instruction = nle.instruction
      row => LMRequest(Prompts.filterFormatter(serL(row) + "\n" + serR(row), instruction))
    }

    // Plan choice (reference join_optimizer): evaluate candidate proxies and
    // pick the one routing fewer pairs to the oracle.
    val candidates: Seq[Option[String]] = args.joinCascadeStrategy match {
      case Some("map_search_filter") => Seq(args.mapInstruction)
      case Some(_)                   => Seq(None)
      case None                      => None +: args.mapInstruction.map(Some(_)).toSeq
    }
    val evaluated = candidates.map { mapFirst =>
      val (crossed, isLeft) = scoredPairs(left, right, leftOn, rightOn, mapFirst,
        args, leftCount, rightCount)
      val mkReq = mkReqFor(crossed, isLeft)
      val (tp, tn) = CascadeCore.learnThresholds(crossed, mkReq, s.lm, args, default = false)
      val oracleCalls = crossed.filter(col("__pc") < tp && col("__pc") > tn).count()
      (crossed, mkReq, tp, tn, oracleCalls)
    }
    val (crossed, mkReq, tp, tn, _) = evaluated.minBy(_._5)

    val keepCols = crossed.columns.filterNot(c => c == "__cid" || c == "__pc").toIndexedSeq
    val (res, stats) = CascadeCore.route(crossed, mkReq, s.lm,
      args.copy(posThreshold = Some(tp), negThreshold = Some(tn)),
      default = false, keepCols)
    (res, Some(stats))
  }
}
