package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import graft.embed.Embedder
import graft.llm.{LMClient, LMRequest, LMResult}

/** Timing wrappers the traced run puts around graft's two pluggable
  * engines. In local mode every task runs in the driver JVM, so the
  * wrappers record into JVM-wide collectors the bench reads afterwards.
  */
object Probes {
  /** One physical `LMClient.complete` call: (start ns, end ns, requests). */
  val lmCalls = new ConcurrentLinkedQueue[(Long, Long, Int)]()
  val embedNs = new AtomicLong()

  def reset(): Unit = {
    lmCalls.clear()
    embedNs.set(0L)
  }

  def lmIntervals: Seq[(Long, Long)] = {
    import scala.jdk.CollectionConverters._
    lmCalls.asScala.toSeq.map(c => (c._1, c._2))
  }
}

/** Times each call into the wrapped model; everything else delegates. */
final case class TimedLM(inner: LMClient) extends LMClient {
  override def complete(batch: Seq[LMRequest]): Seq[LMResult] = {
    val t0 = System.nanoTime()
    try inner.complete(batch)
    finally Probes.lmCalls.add((t0, System.nanoTime(), batch.length))
  }
  override def maxBatchSize: Int = inner.maxBatchSize
  override def maxCtxLen: Int = inner.maxCtxLen
  override def maxTokens: Int = inner.maxTokens
  override def countTokens(s: String): Int = inner.countTokens(s)
  override def modelName: String = inner.modelName
}

/** Times each call into the wrapped embedder. */
final case class TimedEmbedder(inner: Embedder) extends Embedder {
  override def dim: Int = inner.dim
  override def embed(texts: Seq[String]): Seq[Array[Float]] = {
    val t0 = System.nanoTime()
    try inner.embed(texts)
    finally Probes.embedNs.addAndGet(System.nanoTime() - t0)
  }
}
