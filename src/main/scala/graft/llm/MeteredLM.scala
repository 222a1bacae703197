package graft.llm

import org.apache.spark.sql.SparkSession

/** The one metered LM client every semantic operator calls through. Each
  * `complete` records virtual usage (every request issued) and the physical
  * split (requests that reached `inner` vs response-cache hits) into the
  * session's [[UsageStats]] (reference virtual/physical usage,
  * lotus/models/lm.py:497-529). With `cached`, requests are answered from
  * the executor-local [[ResponseCache]] first and only the misses reach
  * `inner`; without it the whole batch is physical. The stats are
  * accumulators captured in the client, so calls count the same from the
  * driver and from executor tasks.
  */
final class MeteredLM private (inner: LMClient, val stats: UsageStats, cached: Boolean)
    extends LMClient {
  private val cfg = inner.toString

  override def maxBatchSize: Int = inner.maxBatchSize
  override def maxCtxLen: Int = inner.maxCtxLen
  override def maxTokens: Int = inner.maxTokens
  override def countTokens(s: String): Int = inner.countTokens(s)
  override def modelName: String = inner.modelName

  override def complete(batch: Seq[LMRequest]): Seq[LMResult] = {
    val (results, physical) =
      if (cached) cachedComplete(batch) else (inner.complete(batch), batch.length)
    stats.record(batch, results, physical)
    results
  }

  /** Serve hits from the response cache (keyed on `inner.toString` and the
    * request), send the misses to `inner` in one call and cache them.
    */
  private def cachedComplete(batch: Seq[LMRequest]): (Seq[LMResult], Int) = {
    val keys = batch.map(r => ResponseCache.key(cfg, r))
    val hits = keys.map(ResponseCache.get).toArray
    val missIdx = hits.indices.filter(hits(_).isEmpty)
    if (missIdx.nonEmpty) {
      val missRes = inner.complete(missIdx.map(batch))
      missIdx.lazyZip(missRes).foreach { (i, r) =>
        ResponseCache.put(keys(i), r)
        hits(i) = Some(r)
      }
    }
    (hits.toIndexedSeq.map(_.get), missIdx.length)
  }
}

object MeteredLM {

  /** The only way an operator obtains its LM: binds the session's usage
    * stats, enforces the usage limit before the stage is built, and turns
    * the response cache on when `Sem.settings.enableCache` is set.
    */
  def forStage(spark: SparkSession, lm: LMClient): MeteredLM = {
    val stats = UsageTracker.forSession(spark)
    UsageLimit.checkBeforeStage(stats, lm)
    new MeteredLM(lm, stats, graft.core.Sem.settings.enableCache)
  }
}
