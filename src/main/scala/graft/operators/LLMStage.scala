package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}
import graft.core.{Persist, Sem}
import graft.llm.{LMClient, LMRequest, MeteredLM}

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
  * [[graft.core.Persist]]). Calls go through [[graft.llm.MeteredLM]], which
  * enforces the usage limit when the stage is built and meters every batch.
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
  ): DataFrame = stage(dfIn, lm, outCol, None, mkReq)

  /** Like [[appendAnswer]] but also appends the positive-token probability
    * (logprob-derived) column — the helper-model pass of cascades.
    */
  def appendAnswerWithProb(
      dfIn: DataFrame,
      lm: LMClient,
      outCol: String,
      probCol: String,
      mkReq: Row => LMRequest
  ): DataFrame = stage(dfIn, lm, outCol, Some(probCol), mkReq)

  /** The batch stage: spread the input, answer it, persist the answers. */
  private def stage(dfIn: DataFrame, lm: LMClient, outCol: String, probCol: Option[String],
      mkReq: Row => LMRequest): DataFrame = {
    val out = answerPartitions(parallelize(dfIn), lm, outCol, probCol, mkReq)
    if (Sem.settings.persistLlmOutputs) Persist.stage(out, eager = false) else out
  }

  /** The one stage body: batch each partition's rows into metered `lm`
    * calls and append the answer as `outCol` (and its positive-token
    * probability as `probCol`). It probes no partitions and checkpoints
    * nothing, so it is also the streaming operators' stage; micro-batch
    * retries are covered by the response cache when `enableCache` is on.
    */
  private[graft] def answerPartitions(df: DataFrame, lm: LMClient, outCol: String,
      probCol: Option[String], mkReq: Row => LMRequest): DataFrame = {
    val outSchema = StructType(df.schema.fields ++ (StructField(outCol, StringType) +:
      probCol.map(StructField(_, DoubleType)).toSeq))
    val withProb = probCol.nonEmpty
    val metered = MeteredLM.forStage(df.sparkSession, lm)
    val batch = metered.maxBatchSize
    df.mapPartitions { iter =>
      iter.grouped(batch).flatMap { rows =>
        val results = metered.complete(rows.map(mkReq))
        rows.lazyZip(results).map { (r, res) =>
          Row.fromSeq(r.toSeq ++
            (if (withProb) Seq(res.output, res.positiveProb.orNull) else Seq(res.output)))
        }
      }
    }(Encoders.row(outSchema))
  }
}
