package graft.tools

import org.apache.spark.sql.SparkSession

/** The dev harness every main and spec shares: how a local session is
  * built, how many cores it gets, how a step is timed, how the run between
  * two measured queries is isolated, and where a record is appended.
  */
object Dev {

  /** Cores for a dev session: `SPARK_GRAFT_CPUS`, else every core. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** The one local session factory: `local[cpus]` with as many shuffle
    * partitions as cores, a pinned UTC session zone (gates compare epochs
    * against DuckDB's naive-as-UTC timestamps), no UI and WARN logging.
    */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `body`'s result and its wall seconds. */
  def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Print a usage message and exit 2, before any session is built. */
  def usage(msg: String): Nothing = {
    System.err.println(msg)
    sys.exit(2)
  }

  /** Warm the JVM and codegen paths so the first measured query is not
    * charged for session bootstrap. Reads `documents.parquet`, the table
    * both an sf directory and a `ScaleStress` blow-up hold.
    */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    spark.range(1000000L).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/documents.parquet").count()
  }

  /** Per-query isolation, OUTSIDE the timing window: operators stage
    * frames via localCheckpoint and (by design — see Persist's
    * Tracked-variant contract) leave them pinned for the caller's
    * lifetime. Across passes × queries those blocks accumulate until
    * late-alphabet queries measure storage-memory pressure instead of
    * their own plan (a ×30 scale run showed the 9th query 7× slower
    * in-sequence than in isolation, on identical code and data).
    * BLOCKING: a non-blocking unpersist leaves the previous query's
    * localCheckpoint blocks draining asynchronously while the next
    * query is already being timed — measured as the r12
    * dedup_minhash_auto bimodality (stable 2.1-2.6 s estimator when
    * run alone, 2.5-11 s interleaved with a sibling gate; the
    * estimator's ~80 MB broadcast + staged state contended with the
    * sibling's still-resident blocks). The wait is outside the timing
    * window, so it costs wall-clock only, never a measurement.
    */
  def isolate(spark: SparkSession): Unit =
    try {
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache()
    } catch { case _: Exception => () }

  /** Append one record to `BENCH_HISTORY.jsonl`, the cross-round log. A
    * failed write is reported on stderr: the record was printed on stdout,
    * but it will be missing from the history.
    */
  def appendHistory(line: String): Unit =
    try
      java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_HISTORY.jsonl"),
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    catch { case e: Exception =>
      System.err.println(s"[bench] could not append to BENCH_HISTORY.jsonl: $e")
    }
}
