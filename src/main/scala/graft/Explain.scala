package graft
import org.apache.spark.sql.SparkSession

/** Dev tool: print the formatted physical plan of named SparkEntry queries
  * (`runMain graft.Explain <sfDir> [<name>[,<name>…]]`) — the `.explain`
  * feedback loop for plan audits, without writing anything. With no names
  * it dumps a representative set whose plans show the scale-critical
  * properties: parquet filter/column pushdown, broadcast joins for dims,
  * TakeOrderedAndProject for top-k, no stray cartesian products, wide
  * WholeStageCodegen spans. A query whose plan cannot be built prints a
  * `failed:` line and the rest still print.
  */
object Explain {
  private val defaultNames = Seq("q1_agg", "q2_join_agg", "q3_topn", "q6_filter",
    "sem_filter_kw", "sem_sim_join_cos", "dedup_minhash", "agg_skew_distinct",
    "sample_reservoir_key", "split_train_holdout", "corpus_diff_snapshots",
    "events_asof_nearest", "text_line_stats")

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: graft.Explain <sfDir> [<name>[,<name>…]]")
    val sfDir = args(0)
    val names = if (args.length > 1) args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      else defaultNames
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    names.foreach { name =>
      println(s"==== $name ====")
      try SparkEntry.queries.getOrElse(name, sys.error(s"unknown query '$name'"))(spark, sfDir)
        .explain("formatted")
      catch { case e: Throwable => println(s"failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
