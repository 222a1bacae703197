package graftbench

import scala.collection.mutable.ArrayBuffer

/** One traced call: `parent` is the id of the span that was open when it
  * started (0 = none). Times are `System.nanoTime` values.
  */
final case class Span(id: Int, name: String, parent: Int, start: Long, end: Long) {
  def dur: Long = end - start
}

/** Span recorder. Spans live in memory and are read out once the traced
  * phase ends. A disabled tracer only runs the body, so untraced runs pay
  * nothing. Spans open and close on the bench's single driver thread; the
  * open span is tagged on the SparkContext (`Tracer.SpanProperty`) so the
  * [[SparkCollector]] can attribute each job to the call that started it.
  */
final class Tracer(val enabled: Boolean, sc: Option[org.apache.spark.SparkContext]) {
  private val done = ArrayBuffer.empty[Span]
  private var nextId = 1
  @volatile private var open: Int = 0

  /** Id of the innermost open span, 0 when none. */
  def current: Int = open

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open
      open = id
      sc.foreach(_.setLocalProperty(Tracer.SpanProperty, id.toString))
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        done += Span(id, name, parent, t0, t1)
        open = parent
        sc.foreach(_.setLocalProperty(Tracer.SpanProperty,
          if (parent == 0) null else parent.toString))
      }
    }

  def spans: Seq[Span] = done.toSeq.sortBy(_.start)
}

object Tracer {
  val SpanProperty = "graftbench.span"
  val off = new Tracer(false, None)
}

/** Arithmetic over spans and samples, kept free of Spark so it is tested
  * on its own.
  */
object Trace {

  /** Total length covered by a set of intervals (overlaps count once). */
  def unionLength(intervals: Iterable[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.toSeq.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s
        curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Length of `within` that the intervals cover, each clipped to it. */
  def covered(within: (Long, Long), intervals: Iterable[(Long, Long)]): Long =
    unionLength(intervals.map { case (s, e) =>
      (math.max(s, within._1), math.min(e, within._2))
    })

  /** A span's self time: its duration minus the part of it its child
    * intervals cover.
    */
  def selfTime(span: (Long, Long), children: Iterable[(Long, Long)]): Long =
    (span._2 - span._1) - covered(span, children)

  /** All spans below `root` (children, grandchildren, ...). */
  def descendants(root: Int, spans: Seq[Span]): Seq[Span] = {
    val byParent = spans.groupBy(_.parent)
    val out = ArrayBuffer.empty[Span]
    var frontier = Seq(root)
    while (frontier.nonEmpty) {
      val kids = frontier.flatMap(p => byParent.getOrElse(p, Nil))
      out ++= kids
      frontier = kids.map(_.id)
    }
    out.toSeq
  }

  /** Nearest-rank percentile of ascending `sorted` (p in (0, 100]). */
  def percentile(sorted: IndexedSeq[Double], p: Double): Double = {
    require(sorted.nonEmpty, "percentile of no samples")
    sorted(math.min(sorted.length, math.max(1, rank(p, sorted.length))) - 1)
  }

  /** 1-based nearest rank of percentile `p` among `n` samples; the small
    * slack keeps 99.9 % of 10000 at rank 9990 despite rounding.
    */
  def rank(p: Double, n: Int): Int = math.ceil(p * n / 100.0 - 1e-9).toInt

  def median(xs: Iterable[Double]): Double = {
    val s = xs.toIndexedSeq.sorted
    require(s.nonEmpty, "median of no samples")
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  val TailLadder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** The tail rule: the highest percentile of [[TailLadder]] with at least
    * ten samples above its nearest rank. None when even the median has
    * fewer than ten beyond it (under 20 samples).
    */
  def tail(samples: Iterable[Double]): Option[Tail] = {
    val s = samples.toIndexedSeq.sorted
    TailLadder.find(p => s.nonEmpty && s.length - rank(p, s.length) >= 10)
      .map(p => Tail(p, percentile(s, p), s.length))
  }

  final case class Tail(percentile: Double, value: Double, samples: Int) {
    def label: String =
      if (percentile == percentile.floor) s"p${percentile.toInt}" else s"p$percentile"
  }
}
