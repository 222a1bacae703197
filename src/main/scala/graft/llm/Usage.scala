package graft.llm

import org.apache.spark.sql.SparkSession
import org.apache.spark.util.LongAccumulator

/** Cluster-wide LLM usage accounting (reference lotus/models/lm.py:497-529
  * tracks usage in-process; on Spark the counters must be accumulators so
  * executor-side calls aggregate on the driver). Only [[MeteredLM]] writes
  * them: every operator's LM calls go through that one client, which counts
  * virtual usage (every request issued) and the physical split (requests
  * that reached the model vs response-cache hits) once per batch.
  */
final class UsageStats(
    val calls: LongAccumulator,
    val requests: LongAccumulator,
    val promptChars: LongAccumulator,
    val outputChars: LongAccumulator,
    /** Requests that actually reached the model (cache misses). */
    val physicalRequests: LongAccumulator,
    /** Requests served from the response cache. */
    val cacheHits: LongAccumulator) extends Serializable {

  /** One `complete` call: `batch` issued, `physical` of them sent to the
    * model, the rest served from the cache.
    */
  private[llm] def record(batch: Seq[LMRequest], results: Seq[LMResult], physical: Int): Unit = {
    calls.add(1L)
    requests.add(batch.length.toLong)
    physicalRequests.add(physical.toLong)
    cacheHits.add((batch.length - physical).toLong)
    batch.foreach(r => promptChars.add(r.messages.map(_.content.length.toLong).sum))
    results.foreach(r => outputChars.add(r.output.length.toLong))
  }

  /** ≈tokens at 4 chars/token, the engine-wide estimate. */
  def report: String =
    s"llm batches=${calls.value} requests=${requests.value} " +
      s"physical=${physicalRequests.value} cache_hits=${cacheHits.value} " +
      s"prompt_tokens≈${promptChars.value / 4} output_tokens≈${outputChars.value / 4}"
}

object UsageTracker {
  @volatile private var current: Option[UsageStats] = None

  /** Create (once per session) and return the active stats. */
  def forSession(spark: SparkSession): UsageStats = synchronized {
    current.getOrElse {
      val sc = spark.sparkContext
      val s = new UsageStats(
        sc.longAccumulator("graft.llm.batches"),
        sc.longAccumulator("graft.llm.requests"),
        sc.longAccumulator("graft.llm.promptChars"),
        sc.longAccumulator("graft.llm.outputChars"),
        sc.longAccumulator("graft.llm.physicalRequests"),
        sc.longAccumulator("graft.llm.cacheHits"))
      current = Some(s)
      s
    }
  }

  def get: Option[UsageStats] = current
  def reset(): Unit = synchronized { current = None }
}

/** Time source for [[RateGovernor]]: production uses the wall clock;
  * tests inject a virtual clock so the sliding-window math is verifiable
  * in deterministic virtual time (and against [[RateGovernor.schedule]]).
  */
trait GovernorClock extends Serializable {
  def nowMs: Long
  /** Wait up to `ms` while holding `lock` (a virtual clock just advances). */
  def waitMs(lock: Object, ms: Long): Unit
}

object WallClock extends GovernorClock {
  def nowMs: Long = System.currentTimeMillis()
  def waitMs(lock: Object, ms: Long): Unit = lock.wait(ms)
}

/** Single-threaded virtual clock: `waitMs` advances time instead of
  * blocking, so governor specs run instantly and deterministically.
  */
final class VirtualClock(start: Long = 0L) extends GovernorClock {
  private var t = start
  def nowMs: Long = t
  def waitMs(lock: Object, ms: Long): Unit = { t += ms }
}

/** Executor-local rate governor (reference lm.py:304-436 is single-process;
  * cluster-aware limiting divides the global budget by the number of
  * concurrently running executors — the driver computes per-executor RPM/TPM
  * when building the LMClient and each executor JVM enforces its share with
  * a token bucket).
  */
final class RateGovernor(rpm: Int, tpm: Int, windowMs: Long = 60000L,
    clock: GovernorClock = WallClock) extends Serializable {
  @transient private lazy val lock = new Object
  @transient private lazy val events = scala.collection.mutable.ArrayDeque.empty[(Long, Int)]
  @transient private var tokTotal = 0L

  /** Block until a request of `tokens` estimated tokens may proceed.
    * Sliding window over the last `windowMs` (reference TPM limiter keeps a
    * sliding 60 s token window with 5% headroom, lm.py:351-436) — a fixed
    * window would admit 2× the budget across a window boundary.
    * Returns the grant time (clock ms) — callers may ignore it; the spec
    * matches it against [[RateGovernor.schedule]].
    */
  def acquire(tokens: Int): Long = {
    if (rpm <= 0 && tpm <= 0) return clock.nowMs
    lock.synchronized {
      while (true) {
        val now = clock.nowMs
        while (events.nonEmpty && now - events.head._1 >= windowMs) {
          tokTotal -= events.removeHead()._2
        }
        val rpmOk = rpm <= 0 || events.length < rpm
        val tpmOk = tpm <= 0 || tokTotal + tokens <= (tpm * 0.95).toLong
        if (rpmOk && tpmOk) {
          events.append((now, tokens)); tokTotal += tokens; return now
        } else {
          val sleepMs = events.headOption.map(h => windowMs - (now - h._1)).getOrElse(100L)
          clock.waitMs(lock, math.max(10L, math.min(sleepMs, 1000L)))
        }
      }
      0L // unreachable
    }
  }
}

object RateGovernor {
  /** Per-executor share of a global budget. */
  def perExecutor(globalRpm: Int, globalTpm: Int, numExecutors: Int): RateGovernor =
    new RateGovernor(
      if (globalRpm <= 0) 0 else math.max(1, globalRpm / math.max(1, numExecutors)),
      if (globalTpm <= 0) 0 else math.max(1, globalTpm / math.max(1, numExecutors)))

  /** The deterministic grant schedule `acquire` produces for a back-to-back
    * request sequence, in virtual ms from the first grant — the same
    * sliding-window RPM/TPM math as pure arithmetic, so the runtime's rate
    * accounting is oracle-verifiable (gate `rate_limit_schedule` reproduces
    * it in SQL with a recursive CTE) and spec-matched against `acquire`
    * under a [[VirtualClock]].
    *
    * g(0) = 0; g(i) = max of
    *   - g(i-1)                       (grants are serialized and ordered),
    *   - g(i-rpm) + window            (RPM: the i-rpm'th event must expire),
    *   - g(k-1) + window              (TPM: oldest k events must expire so
    *     the trailing-window token sum + tokens(i) fits the 95% headroom
    *     cap; k minimal — 0 if it already fits, then no constraint).
    */
  def schedule(tokens: Seq[Int], rpm: Int, tpm: Int,
      windowMs: Long = 60000L): Seq[Long] = {
    if (rpm <= 0 && tpm <= 0) return Seq.fill(tokens.length)(0L)
    val cap = if (tpm > 0) (tpm * 0.95).toLong else Long.MaxValue
    tokens.foreach(t => require(tpm <= 0 || t <= cap,
      s"request of $t tokens can never fit the TPM headroom cap $cap"))
    val g = new Array[Long](tokens.length)
    // prefix(i) = tokens(0) + … + tokens(i-1)
    val prefix = tokens.scanLeft(0L)(_ + _)
    var i = 0
    while (i < tokens.length) {
      val prev = if (i == 0) 0L else g(i - 1)
      val rpmRelease =
        if (rpm > 0 && i >= rpm) g(i - rpm) + windowMs else 0L
      val tpmRelease =
        if (tpm <= 0 || prefix(i) + tokens(i) <= cap) 0L
        else {
          // minimal k ≥ 1 with prefix(i) - prefix(k) + tokens(i) ≤ cap;
          // prefix is monotone so scan forward (k = i always qualifies
          // because tokens(i) ≤ cap).
          var k = 1
          while (prefix(i) - prefix(k) + tokens(i) > cap) k += 1
          g(k - 1) + windowMs
        }
      g(i) = math.max(prev, math.max(rpmRelease, tpmRelease))
      i += 1
    }
    g.toSeq
  }
}
