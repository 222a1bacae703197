package graft
import org.apache.spark.sql.SparkSession
import graft.tools.{Dev, JobCounter}

/** Dev tool with three modes:
  *
  *  - `jobs <sfDir> <name>[,<name>…] [passes]` (guide §1.5) runs named
  *    SparkEntry queries under a [[graft.tools.JobCounter]], which records
  *    every Spark job's wall time, call site, description and tasks run,
  *    then prints the per-job breakdown — the "where do the seconds go"
  *    split for multi-job gates (lifecycle ladders, foreachBatch
  *    microbatches) that a single plan dump cannot show. The LAST pass's
  *    jobs are reported (earlier passes warm JIT/code caches the way the
  *    bench's median does).
  *  - `explain <sfDir> [<name>[,<name>…]]` prints the formatted physical
  *    plan of named queries — the `.explain` feedback loop for plan
  *    audits, without writing anything. With no names it dumps a
  *    representative set whose plans show the scale-critical properties:
  *    parquet filter/column pushdown, broadcast joins for dims,
  *    TakeOrderedAndProject for top-k, no stray cartesian products, wide
  *    WholeStageCodegen spans. A query whose plan cannot be built prints a
  *    `failed:` line and the rest still print.
  *  - `entry` runs `SparkEntry.entry` and prints its rows and row count.
  *
  * `runMain graft.Profile <mode> …`
  */
object Profile {

  private val usage =
    """usage: graft.Profile <mode> ..., mode one of:
      |  jobs <sfDir> <name>[,<name>...] [passes]
      |  explain <sfDir> [<name>[,<name>...]]
      |  entry""".stripMargin

  private def names(csv: String): Seq[String] =
    csv.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  private val defaultExplain = Seq("q1_agg", "q2_join_agg", "q3_topn",
    "q6_filter", "sem_filter_kw", "sem_sim_join_cos", "dedup_minhash",
    "agg_skew_distinct", "sample_reservoir_key", "split_train_holdout",
    "corpus_diff_snapshots", "events_asof_nearest", "text_line_stats")

  /** The run `args` ask for, or the usage message when they name no mode,
    * an unknown one, or a missing or malformed argument.
    */
  private[graft] def plan(args: Array[String]): Either[String, SparkSession => Unit] =
    args.toList match {
      case "jobs" :: sfDir :: csv :: rest
          if rest.size <= 1 && rest.forall(_.toIntOption.exists(_ > 0)) =>
        Right(jobs(_, sfDir, names(csv), rest.headOption.fold(2)(_.toInt)))
      case "explain" :: sfDir :: rest if rest.size <= 1 =>
        Right(explain(_, sfDir, rest.headOption.map(names).getOrElse(defaultExplain)))
      case "entry" :: Nil => Right(entry)
      case _ => Left(usage)
    }

  def main(args: Array[String]): Unit = {
    val run = plan(args).fold(Dev.usage, identity)
    val spark = Dev.local(Dev.cpus)
    try run(spark) finally spark.stop()
  }

  private def jobs(spark: SparkSession, sfDir: String, names: Seq[String],
      passes: Int): Unit = {
    Dev.warmUp(spark, sfDir)
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query '$name'"))
      for (_ <- 1 until passes) { fn(spark, sfDir).count(); Dev.isolate(spark) }
      val ((_, last), recs) = JobCounter.around(spark.sparkContext)(
        Dev.time(fn(spark, sfDir).count()))
      Dev.isolate(spark)
      val sumJobs = recs.map(r => math.max(0L, r.t1 - r.t0)).sum / 1e3
      println(f"==== $name: last-pass wall ${last}%.2f s, ${recs.size} jobs, sum-of-jobs ${sumJobs}%.2f s (gaps = driver work) ====")
      var prevEnd = 0L
      recs.foreach { r =>
        val gap = if (prevEnd == 0L) 0.0 else math.max(0L, r.t0 - prevEnd) / 1e3
        prevEnd = math.max(prevEnd, r.t1)
        val ms = math.max(0L, r.t1 - r.t0)
        println(f"job ${r.id}%4d ${ms}%6d ms  gap ${gap}%7.3f s  tasks ${r.tasks}%4d  ${r.callSite.take(46)}%-46s  ${r.desc.take(80)}")
      }
    }
  }

  private def explain(spark: SparkSession, sfDir: String,
      names: Seq[String]): Unit =
    names.foreach { name =>
      println(s"==== $name ====")
      try SparkEntry.queries.getOrElse(name, sys.error(s"unknown query '$name'"))(spark, sfDir)
        .explain("formatted")
      catch { case e: Throwable => println(s"failed: ${e.getMessage}") }
    }

  private def entry(spark: SparkSession): Unit = {
    val df = SparkEntry.entry(spark)
    df.show(20, truncate = false)
    println(s"entry rows=${df.count()}")
  }
}
