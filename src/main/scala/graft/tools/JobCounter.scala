package graft.tools

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.graft.ListenerBusBridge

/** One job counter for `Profile jobs` and the specs: see [[JobCounter.around]]. */
final class JobCounter private extends SparkListener {
  private val started = new ConcurrentHashMap[Int, SparkListenerJobStart]()
  private val ended = new ConcurrentHashMap[Int, Long]()
  private val tasksOfStage = new ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = started.put(e.jobId, e)
  override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.put(e.jobId, e.time)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    tasksOfStage.merge(e.stageId, 1, Integer.sum)

  private def jobs: Seq[JobCounter.Job] =
    started.values.asScala.toSeq.sortBy(_.jobId).map { js =>
      val prop = (k: String) => Option(js.properties).flatMap(p => Option(p.getProperty(k)))
      // Most jobs carry no callSite.short property; the name Spark gives
      // the job's last (result) stage is its call site.
      val site = prop("callSite.short")
        .orElse(js.stageInfos.sortBy(_.stageId).lastOption.map(_.name))
      JobCounter.Job(js.jobId, site.getOrElse(""),
        prop("spark.job.description").getOrElse(""), js.time,
        ended.getOrDefault(js.jobId, js.time),
        js.stageIds.map(s => tasksOfStage.getOrDefault(s, 0).intValue).sum)
    }
}

object JobCounter {

  /** Span in epoch ms; `tasks` ran in the job's stages (skipped stages run none). */
  final case class Job(id: Int, callSite: String, desc: String, t0: Long,
      t1: Long, tasks: Int)

  /** `body`'s result and the jobs submitted while it ran, by id. Listener
    * events arrive asynchronously, so the bus is drained before and after.
    */
  def around[A](sc: SparkContext)(body: => A): (A, Seq[Job]) = {
    ListenerBusBridge.waitUntilEmpty(sc)
    val c = new JobCounter
    sc.addSparkListener(c)
    val out = try body finally {
      ListenerBusBridge.waitUntilEmpty(sc)
      sc.removeSparkListener(c)
    }
    (out, c.jobs)
  }
}
