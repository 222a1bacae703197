package graft.core

import org.apache.spark.sql.DataFrame

object Parallelism {

  /** Spread a low-partition input (small/few files) to cluster parallelism
    * before CPU-heavy per-row stages; large inputs pass through untouched.
    * Decided from logical-plan size stats, not `df.rdd.getNumPartitions` —
    * instantiating the RDD lineage would physically plan the query a
    * second time outside AQE. A scan gets ~sizeInBytes/maxPartitionBytes
    * partitions, so below one maxPartitionBytes per core the input cannot
    * fill the cluster and is worth an (O(small) bytes) spread shuffle.
    * (Promoted from Dedup's private helper once the ×30 load test showed
    * the same single-partition starvation on the ad-hoc BM25 scorer: a
    * compactly-written 60 MB corpus ran its two scoring scans on ONE core.)
    */
  def spread(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    val maxPartitionBytes = spark.sessionState.conf.filesMaxPartitionBytes
    val size = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (size < BigInt(maxPartitionBytes) * target) df.repartition(target) else df
  }

  /** Estimated bytes per directory of a partitioned layout: 16 MB,
    * measured on the BM25 index (`LexIndex`) on a 4-core host. With 14.5 MB
    * of postings in ONE directory, a search took 0.55–0.84 s against
    * 0.59–0.67 s with 64 directories (0.42–0.54 s with 16); its saves
    * were the fastest of 1, 4, 16 and 64 directories, and its 48-document
    * appends (0.67–0.95 s) trailed only 4 directories' and beat 64's
    * (1.45–1.61 s). From a 0.35 MB to that 14.5 MB index a one-directory
    * search grew by about 20 ms per MB, so above the largest measured size
    * the layout splits, rather than leave a 128 MB index (Spark's scan
    * split) in one full-scanned directory.
    */
  private val bytesPerDirectory = 16L << 20

  /** How many directories a partitioned layout of `df` gets:
    * `ceil(estimate / 16 MB)` clamped to `[1, cap]`, from the same
    * plan-size estimate [[spread]] reads. A small layout is one directory,
    * so its appends write a few files and its reads list serially, while
    * a large one keeps `cap` directories to prune. An unknown estimate
    * (Spark's default size is `Long.MaxValue`) gets `cap`. Logs the choice
    * with its inputs once.
    */
  def directories(df: DataFrame, cap: Int, what: String): Int = {
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val n = ((est + bytesPerDirectory - 1) / bytesPerDirectory).max(1).min(cap).toInt
    org.slf4j.LoggerFactory.getLogger(getClass).info(
      s"$what = $n (estimate $est bytes, target $bytesPerDirectory bytes " +
        s"per directory, cap $cap)")
    n
  }
}
