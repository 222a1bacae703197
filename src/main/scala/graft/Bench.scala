package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.tools.Dev

/** Benchmark main: every SparkEntry query timed on SPARK_GRAFT_SF_DIR, one
  * JSON line on stdout. Contention defense (a recorded round-4 run was 2-3×
  * inflated by a busy machine and unusable): each query runs
  * SPARK_GRAFT_BENCH_PASSES times (default 3) and reports the PER-QUERY
  * MEDIAN, and the machine's /proc/loadavg is recorded before and after so
  * a contended run is self-evident in the output.
  *
  * A THROWING query records timing -1 and its message under `"errors"` —
  * never a fail-fast elapsed time. (Round 7 shipped six crashing queries
  * that read as 19× speedups because the catch recorded time-to-throw.)
  *
  * The JSON is also written to `BENCH_LAST.json` (latest run) and appended
  * to `BENCH_HISTORY.jsonl` (every run, so cross-round comparisons stay
  * reproducible after BENCH_LAST is overwritten). `SPARK_GRAFT_BENCH_ONLY=
  * a,b` restricts to named queries for dev iteration.
  */
object Bench {

  private[graft] def loadAvg(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.split("\\s+")(0).toDouble finally src.close()
    } catch { case _: Exception => -1.0 }

  private[graft] def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n == 0) -1.0
    else if (n % 2 == 1) s(n / 2)
    else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  private[graft] final case class Outcome(
      timings: Seq[(String, Double)], errors: Seq[(String, String)],
      passTotals: Seq[Double] = Nil)

  /** Cumulative JVM GC (ms) and collection count across all collectors —
    * the in-JVM-accumulation diagnostic: if late passes pay materially
    * more GC than early ones, the board is measuring heap/metaspace
    * pressure, not plans.
    */
  private[graft] def gcStats(): (Long, Long) = {
    import scala.jdk.CollectionConverters._
    val beans = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala
    (beans.map(b => math.max(0L, b.getCollectionTime)).sum,
      beans.map(b => math.max(0L, b.getCollectionCount)).sum)
  }

  private[graft] def metaspaceUsedMb(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .find(_.getName.contains("Metaspace"))
      .map(_.getUsage.getUsed >> 20).getOrElse(-1L)
  }

  /** Time every query over `passes` alternating passes (A B C, A B C rather
    * than AAA BBB, so a transient machine spike inflates at most one pass of
    * each query — which the median discards). A query that throws in ANY
    * pass reports -1 and its first error message; a partial success must not
    * masquerade as a clean median.
    */
  private[graft] def timeAll(spark: SparkSession, sfDir: String,
      names: Seq[(String, (SparkSession, String) => DataFrame)],
      passes: Int): Outcome = {
    val timings = scala.collection.mutable.Map[String, Vector[Double]]()
      .withDefaultValue(Vector.empty)
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val passTotals = scala.collection.mutable.ArrayBuffer.fill(passes)(0.0)
    for (pass <- 1 to passes; (name, fn) <- names) {
      try {
        val (_, dt) = Dev.time(fn(spark, sfDir).count())
        timings(name) = timings(name) :+ dt
        passTotals(pass - 1) += dt
      } catch {
        case e: Throwable =>
          if (!errors.contains(name))
            errors(name) = Option(e.getMessage).getOrElse(e.toString)
              .linesIterator.take(3).mkString(" ").take(500)
      }
      Dev.isolate(spark)
    }
    def ms(v: Double): Double = math.round(v * 1000).toDouble / 1000
    val results = names.map { case (name, _) =>
      name -> (if (errors.contains(name)) -1.0 else ms(median(timings(name))))
    }
    Outcome(results, errors.toSeq, passTotals.toSeq.map(ms))
  }

  /** The scalars both records carry, rendered once: the `"metric"` …
    * `"unit"` head and the `"n_errors"` … `"pass_totals"` tail. `value`
    * sums only non-erroring queries (an error contributes no fake time);
    * `n_errors` makes a red run visible to a consumer that reads nothing
    * else.
    */
  private def scalarParts(o: Outcome, sfDir: String, passes: Int,
      loadBefore: Double, loadAfter: Double): (String, String) = {
    val good = o.timings.collect { case (_, v) if v >= 0 => v }
    val total = math.round(good.sum * 1000).toDouble / 1000
    val passPart =
      if (o.passTotals.isEmpty) ""
      else s""","pass_totals":${o.passTotals.mkString("[", ",", "]")}"""
    // A capture that STARTED on a busy machine is a different workload
    // than a quiet one (r13's recorded capture at loadavg 4.19 read
    // 1.2–3× over the quiet canonical on identical code): the record
    // says so itself, so any consumer — including one that reads only
    // this line — can discount it without cross-referencing history.
    // The threshold normalizes by core count (an absolute cut would
    // mislabel both a quiet 64-core runner at loadavg 1.5 and a busy
    // 2-core box at 0.9), floored at 1.0 — on small boxes a fraction of
    // one core is still one runnable process, the unit of interference.
    val cores = Runtime.getRuntime.availableProcessors()
    val contended =
      if (loadBefore > math.max(1.0, 0.04 * cores)) ""","contended":true"""
      else ""
    (s"""{"metric":"total","value":$total,"unit":"sec",""",
      s""""n_errors":${o.errors.size},"sf":"$sfDir","passes":$passes,"loadavg_before":$loadBefore,"loadavg_after":$loadAfter$contended$passPart""")
  }

  /** Compact SUMMARY line — every scalar of the full record, WITHOUT the
    * per-query/error maps. The full line for 228 queries is ~9 KB and a
    * consumer capturing only the last ~2 KB of stdout truncates it mid-map
    * (both the r14 and r15 captures parsed to null, leaving two rounds
    * with no per-query ground truth); this line is < 300 bytes and printed
    * LAST, so any tail window holds a complete, parseable record. Per-query
    * detail lives in `BENCH_LAST.json` / `BENCH_HISTORY.jsonl`.
    */
  private[graft] def renderSummaryJson(o: Outcome, sfDir: String, passes: Int,
      loadBefore: Double, loadAfter: Double): String = {
    val (head, tail) = scalarParts(o, sfDir, passes, loadBefore, loadAfter)
    s"""$head"n_queries":${o.timings.size},$tail,"queries_file":"BENCH_LAST.json"}"""
  }

  /** One-line JSON record: the shared scalars plus the per-query timings,
    * the error messages and the run's diagnostics.
    */
  private[graft] def renderJson(o: Outcome, sfDir: String, passes: Int,
      loadBefore: Double, loadAfter: Double,
      diag: Map[String, Long] = Map.empty,
      diagLists: Map[String, Seq[Long]] = Map.empty): String = {
    val qs = o.timings.map { case (k, v) => graft.core.Jsons.str(k) + ":" + v }
      .mkString("{", ",", "}")
    val errs = o.errors.map { case (k, v) =>
      graft.core.Jsons.str(k) + ":" + graft.core.Jsons.str(v)
    }.mkString("{", ",", "}")
    val diagPart = {
      val scalars = diag.toSeq.sortBy(_._1)
        .map { case (k, v) => graft.core.Jsons.str(k) + ":" + v }
      val lists = diagLists.toSeq.sortBy(_._1).filter(_._2.nonEmpty)
        .map { case (k, vs) =>
          graft.core.Jsons.str(k) + ":" + vs.mkString("[", ",", "]") }
      val all = scalars ++ lists
      if (all.isEmpty) "" else all.mkString(",", ",", "")
    }
    val (head, tail) = scalarParts(o, sfDir, passes, loadBefore, loadAfter)
    s"""$head"queries":$qs,"errors":$errs,$tail$diagPart}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val passes = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt)
    val spark = Dev.local(Dev.cpus)
    Dev.warmUp(spark, sfDir)
    val loadBefore = loadAvg()
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val (gcMs0, gcN0) = gcStats()
    val outcome = timeAll(spark, sfDir, names, passes)
    val (gcMs1, gcN1) = gcStats()
    val diag = Map(
      "gc_ms" -> (gcMs1 - gcMs0), "gc_count" -> (gcN1 - gcN0),
      "metaspace_mb" -> metaspaceUsedMb(),
      "n_queries" -> names.size.toLong)
    // Per-invocation estimator wall-millis from the auto-band gates (in
    // call order across passes) — the estimator/route cost split. DRAINED
    // (poll, not iterate): a second render in the same JVM must report
    // its own run's invocations, not replay this one's.
    val pickBands = graft.operators.Dedup.pickBandsMs.drain()
    val pickProbes = graft.operators.EmbedOps.pickProbesMs.drain()
    val loadAfter = loadAvg()
    val json = renderJson(outcome, sfDir, passes, loadBefore, loadAfter, diag,
      Map("pickbands_ms" -> pickBands, "pickprobes_ms" -> pickProbes))
    println(json)
    // The LAST stdout line is the compact summary (no per-query map): a
    // consumer whose capture window is smaller than the ~9 KB full line
    // still reads a complete record — see renderSummaryJson.
    println(renderSummaryJson(outcome, sfDir, passes, loadBefore, loadAfter))
    // Self-contained record regardless of the caller's capture window, plus
    // an append-only history so per-round records survive the next run.
    try
      java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_LAST.json"),
        json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Exception =>
      System.err.println(s"[bench] could not write BENCH_LAST.json: $e")
    }
    Dev.appendHistory(json)
    spark.stop()
  }
}
