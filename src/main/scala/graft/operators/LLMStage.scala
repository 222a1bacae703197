package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}
import graft.core.{Persist, Sem}
import graft.llm.{CachedLM, LMClient, LMRequest, LMResult, UsageLimit, UsageTracker}

/** The physical core of every semantic operator: a `mapPartitions` stage that
  * batches rows into LLM requests (reference physical model: batched API
  * calls, lotus/models/lm.py:261-302) and appends the raw answer as a string
  * column. Everything downstream (CoT split, boolean parse, JSON expansion)
  * is native Catalyst expressions so it stays inside whole-stage codegen.
  *
  * Scale notes: batching is per-partition (parallelism = tasks × in-batch
  * concurrency); no driver collect. Replay determinism has two layers:
  * the executor-local response cache (retried tasks re-read identical
  * answers, [[graft.llm.ResponseCache]]) and lazy checkpointing of stage
  * output (downstream actions never recompute the LLM stage,
  * [[graft.core.Persist]]). Usage limits are enforced driver-side before
  * each stage is built.
  */
object LLMStage {

  /** LLM-call parallelism = tasks × in-batch concurrency, so a small-file
    * input (one partition) would serialize every call. Spread low-partition
    * inputs to cluster parallelism; well-partitioned inputs pass through.
    */
  private def parallelize(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** Append `outCol` = LM answer for each row. `mkReq` is resolved against
    * the input schema on the driver and shipped in the task closure.
    */
  def appendAnswer(
      dfIn: DataFrame,
      lm: LMClient,
      outCol: String,
      mkReq: Row => LMRequest
  ): DataFrame =
    stage(dfIn, lm, Seq(StructField(outCol, StringType, nullable = true)), mkReq)(
      res => Seq(res.output))

  /** Like [[appendAnswer]] but also appends the positive-token probability
    * (logprob-derived) column — the helper-model pass of cascades.
    */
  def appendAnswerWithProb(
      dfIn: DataFrame,
      lm: LMClient,
      outCol: String,
      probCol: String,
      mkReq: Row => LMRequest
  ): DataFrame =
    stage(dfIn, lm, Seq(StructField(outCol, StringType, nullable = true),
      StructField(probCol, DoubleType, nullable = true)), mkReq)(
      res => Seq(res.output, res.positiveProb.orNull))

  /** The one stage body: batch each partition's rows into `lm` calls and
    * append `cells(result)` as the `outFields` columns.
    */
  private def stage(dfIn: DataFrame, lm: LMClient, outFields: Seq[StructField],
      mkReq: Row => LMRequest)(cells: LMResult => Seq[Any]): DataFrame = {
    val df = parallelize(dfIn)
    val outSchema = StructType(df.schema.fields ++ outFields)
    val stats = UsageTracker.forSession(df.sparkSession)
    UsageLimit.checkBeforeStage(stats, lm)
    val lmEff = if (Sem.settings.enableCache) CachedLM(lm, stats) else lm
    val cached = lmEff.isInstanceOf[CachedLM]
    val batch = lmEff.maxBatchSize
    val out = df.mapPartitions { iter =>
      iter.grouped(batch).flatMap { rows =>
        val reqs = rows.map(mkReq)
        val results = lmEff.complete(reqs)
        stats.record(reqs, results)
        if (!cached) stats.recordPhysical(reqs.length.toLong)
        rows.lazyZip(results).map { (r, res) => Row.fromSeq(r.toSeq ++ cells(res)) }
      }
    }(Encoders.row(outSchema))
    if (Sem.settings.persistLlmOutputs) Persist.stage(out, eager = false) else out
  }
}
