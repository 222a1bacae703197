package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Dev tool (guide §1.5): run named SparkEntry queries with a listener that
  * records every Spark job's wall time, call site and description, then
  * print the per-job breakdown — the "where do the seconds go" split for
  * multi-job gates (lifecycle ladders, foreachBatch microbatches) that a
  * single plan dump cannot show.
  *
  * `runMain graft.Profile <sfDir> <name>[,<name>…] [passes]` — the LAST
  * pass's jobs are reported (earlier passes warm JIT/code caches the way
  * the bench's median does).
  */
object Profile {

  private final case class JobRec(id: Int, var desc: String = "",
      var callSite: String = "", var t0: Long = 0L, var t1: Long = 0L,
      var nTasks: Int = 0)

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val namesCsv = args(1)
    val passes = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    @volatile var recording = false
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = if (recording) {
        val r = JobRec(js.jobId)
        r.t0 = js.time
        r.desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        r.callSite = Option(js.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("")
        r.nTasks = js.stageInfos.map(_.numTasks).sum
        jobs.put(js.jobId, r)
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val r = jobs.get(je.jobId)
        if (r != null) r.t1 = je.time
      }
    }
    spark.sparkContext.addSparkListener(listener)
    // Bench-main warmup so pass 1 is not charged session bootstrap.
    spark.range(1000000L).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    namesCsv.split(",").map(_.trim).filter(_.nonEmpty).foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query '$name'"))
      var last = 0.0
      for (p <- 1 to passes) {
        if (p == passes) { jobs.clear(); recording = true }
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        last = (System.nanoTime() - t0) / 1e9
        // Listener events arrive asynchronously: drain them while still
        // recording, so the pass's last jobs are in the map with their ends.
        org.apache.spark.sql.graft.ListenerBusBridge.waitUntilEmpty(spark.sparkContext)
        recording = false
        try {
          spark.sparkContext.getPersistentRDDs.values
            .foreach(_.unpersist(blocking = true))
          spark.catalog.clearCache()
        } catch { case _: Exception => () }
      }
      import scala.jdk.CollectionConverters._
      val recs = jobs.values.asScala.toSeq.sortBy(_.id)
      val sumJobs = recs.map(r => math.max(0L, r.t1 - r.t0)).sum / 1e3
      println(f"==== $name: last-pass wall ${last}%.2f s, ${recs.size} jobs, sum-of-jobs ${sumJobs}%.2f s (gaps = driver work) ====")
      var prevEnd = 0L
      recs.foreach { r =>
        val gap = if (prevEnd == 0L) 0.0 else math.max(0L, r.t0 - prevEnd) / 1e3
        prevEnd = math.max(prevEnd, r.t1)
        val ms = math.max(0L, r.t1 - r.t0)
        println(f"job ${r.id}%4d ${ms}%6d ms  gap ${gap}%7.3f s  tasks ${r.nTasks}%4d  ${r.callSite.take(46)}%-46s  ${r.desc.take(80)}")
      }
    }
    spark.stop()
  }
}
