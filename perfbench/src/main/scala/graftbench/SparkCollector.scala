package graftbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** Spark counts attributed to spans. A job belongs to the span named by
  * the `Tracer.SpanProperty` local property its submitting thread carried;
  * a job submitted from a thread without it (a pool thread inside graft)
  * goes to the span open on the driver when the event arrives. Stages and
  * tasks follow their job. Written-file counts come from the write
  * commands' driver-side SQL metric, attributed through the execution's
  * jobs.
  *
  * Call [[drain]] before reading: listener events arrive asynchronously.
  */
final class SparkCollector(fallbackSpan: () => Int) extends SparkListener {
  import SparkCollector._

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val stageTasks = mutable.HashMap.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val aggs = mutable.HashMap.empty[Int, Agg]
  private val execSpan = mutable.HashMap.empty[Long, Int]
  private val filesAccum = mutable.HashMap.empty[Long, Long]

  private def agg(span: Int): Agg = aggs.getOrElseUpdate(span, new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      .map(_.toInt).getOrElse(fallbackSpan())
    jobs(e.jobId) = JobRec(span, e.time, e.time)
    e.stageIds.foreach(stageSpan(_) = span)
    agg(span).jobs += 1
    props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(x => execSpan.getOrElseUpdate(x.toLong, span))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageSpan.get(e.stageInfo.stageId).foreach(agg(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val span = stageSpan.getOrElse(e.stageId, fallbackSpan())
    val a = agg(span)
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.scan += m.inputMetrics.bytesRead
      a.write += m.outputMetrics.bytesWritten
    }
    if (e.taskInfo != null)
      stageTasks.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
        e.taskInfo.duration
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart => noteWriteMetrics(s.executionId, s.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        noteWriteMetrics(u.executionId, u.sparkPlanInfo)
      case d: SparkListenerDriverAccumUpdates =>
        // Posted after the write's jobs ran, so the execution has a span.
        d.accumUpdates.foreach { case (id, v) =>
          if (filesAccum.get(id).contains(d.executionId))
            execSpan.get(d.executionId).foreach(agg(_).files += v)
        }
      case _ =>
    }
  }

  private def noteWriteMetrics(exec: Long, plan: SparkPlanInfo): Unit = {
    plan.metrics.foreach { m =>
      if (m.name == WrittenFilesMetric) filesAccum(m.accumulatorId) = exec
    }
    plan.children.foreach(noteWriteMetrics(exec, _))
  }

  /** Summed counts over the given spans. */
  def totals(spans: Set[Int]): Agg = synchronized {
    val out = new Agg
    spans.foreach(s => aggs.get(s).foreach(out.add))
    out
  }

  /** Jobs started under the given spans, as (start ms, end ms) epoch times. */
  def jobIntervals(spans: Set[Int]): Seq[(Long, Long)] = synchronized {
    jobs.values.filter(j => spans(j.span)).map(j => (j.start, j.end)).toSeq
  }

  /** Worst max/median task-time ratio over the stages of the given spans
    * that ran at least two tasks; 1.0 when none did.
    */
  def taskSkew(spans: Set[Int]): Double = synchronized {
    val ratios = stageTasks.collect {
      case ((stage, _), ds) if ds.length >= 2 && stageSpan.get(stage).exists(spans) =>
        val sorted = ds.sorted
        val med = math.max(1L, sorted(sorted.length / 2))
        sorted.last.toDouble / med
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }
}

object SparkCollector {
  val WrittenFilesMetric = "number of written files"

  final case class JobRec(span: Int, start: Long, var end: Long)

  final class Agg {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var runMs = 0L; var gcMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
    var scan = 0L; var write = 0L; var files = 0L

    def add(o: Agg): Unit = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks
      runMs += o.runMs; gcMs += o.gcMs
      shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite; spill += o.spill
      scan += o.scan; write += o.write; files += o.files
    }
  }

  def install(sc: SparkContext, tracer: Tracer): SparkCollector = {
    val c = new SparkCollector(() => tracer.current)
    sc.addSparkListener(c)
    c
  }

  def drain(sc: SparkContext): Unit = org.apache.spark.graftbench.BusDrain.drain(sc)
}
