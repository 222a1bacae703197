package graft.core

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

/** Per-JVM diagnostic trail of wall-millis, in call order, BOUNDED at the
  * newest `cap` entries (a long-lived service calling an auto-tuned
  * operator forever must not grow a queue node per call). Bench DRAINS a
  * ring into its JSON record, so a second render in the same JVM reports
  * its own run's calls, not a replay of the previous one's.
  */
private[graft] final class TimingRing(cap: Int) {
  private val q = new ConcurrentLinkedQueue[java.lang.Long]
  // Element count tracked beside the queue: ConcurrentLinkedQueue.size()
  // is an O(n) traversal and would run per call forever once the queue
  // fills; the counter makes cap eviction O(1) and atomic-per-slot (add
  // then conditionally evict keeps the count ≤ cap + #concurrent-callers,
  // good enough for a diagnostic ring).
  private val n = new AtomicInteger(0)

  /** Run `body`, recording its wall-millis even when it throws. */
  def time[A](body: => A): A = {
    val t0 = System.nanoTime()
    try body finally add((System.nanoTime() - t0) / 1000000L)
  }

  def add(ms: Long): Unit = {
    q.add(ms)
    if (n.incrementAndGet() > cap && q.poll() != null) n.decrementAndGet()
  }

  /** The recorded millis, oldest first; empties the ring. */
  def drain(): Seq[Long] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    var v = q.poll()
    while (v != null) {
      n.decrementAndGet()
      out += v.longValue()
      v = q.poll()
    }
    out.toSeq
  }
}
