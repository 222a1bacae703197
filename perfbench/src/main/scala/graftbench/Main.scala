package graftbench

import java.lang.management.ManagementFactory
import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.core.JsonGenerator
import com.fasterxml.jackson.databind.SerializerProvider
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.databind.module.SimpleModule
import com.fasterxml.jackson.databind.ser.std.StdSerializer
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Runs one workload and prints its record.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *      --contract <BENCHMARK.json> [--record <file>]
  * }}}
  *
  * The untraced phase gives the end-to-end metrics. With `--trace 1` a
  * second, traced phase replays the same operations from a fresh set-up
  * and gives the per-layer metrics. Their names and units come from the
  * contract file. The last stdout line is the result
  * object; the line before it is the full run record, also written to
  * `--record`.
  */
object Main {
  val Cores = 4
  /** The measured loop stops taking new operations after this long, so a
    * run always ends well inside its time limit.
    */
  val LoopCapSeconds = 60.0

  /** Metric names and units, in order, from the benchmark's contract
    * (`BENCHMARK.json`), so the result can never drift from it.
    */
  final case class Contract(endToEnd: Seq[(String, String)], perLayer: Seq[(String, String)])

  /** Writes the record and the result. Maps keep their order, doubles keep
    * every digit, and NaN or infinite doubles become null.
    */
  val mapper: JsonMapper = JsonMapper.builder()
    .addModule(DefaultScalaModule)
    .addModule(new SimpleModule().addSerializer(classOf[java.lang.Double],
      new StdSerializer[java.lang.Double](classOf[java.lang.Double]) {
        def serialize(d: java.lang.Double, g: JsonGenerator, p: SerializerProvider): Unit =
          if (d.isNaN || d.isInfinite) g.writeNull() else g.writeNumber(d.doubleValue)
      }))
    .build()

  def contract(path: String): Contract = {
    val root = mapper.readTree(new java.io.File(path))
    def metrics(key: String) = root.get(key).elements().asScala
      .map(m => m.get("name").asText -> m.get("unit").asText).toSeq
    Contract(metrics("end_to_end"), metrics("per_layer"))
  }

  /** Spans around semantic operators: their self time outside the model
    * calls is `operators.llmstage.self_s`.
    */
  val SemanticSpans: Set[String] = Set("operators.semrowops.filter", "operators.semrowops.map",
    "operators.semrowops.join", "operators.semtopk.topk", "operators.semagg.agg",
    "cascade.filter")

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: java.nio.file.Path, contract: String, record: Option[String])

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = need("workload")
    require(Workload.names.contains(workload), s"unknown workload $workload")
    val trace = need("trace")
    require(trace == "0" || trace == "1", s"--trace must be 0 or 1, got $trace")
    Args(workload, need("seed").toLong, need("seconds").toDouble, trace == "1",
      java.nio.file.Paths.get(need("work")).toAbsolutePath, need("contract"), m.get("record"))
  }

  /** One phase's measured operations. */
  final case class Phase(wallMs: Seq[Double], unitMs: Seq[Double], rows: Long,
      checks: Checks, error: Option[String]) {
    def ops: Int = wallMs.length
    def wallS: Double = wallMs.sum / 1e3
  }

  private def loadAvg(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split("\\s+").head.toDouble finally src.close()
    } catch { case _: Exception => -1.0 }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  private def heapAfterGcMb(): Double = {
    System.gc(); Thread.sleep(200); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** Run operations until `seconds` of operation time have passed (and at
    * least `minOps`), or exactly `fixedOps` for a fixed-work workload or a
    * replay.
    */
  def runPhase(wl: Workload, spark: SparkSession, tr: Tracer, seconds: Double,
      fixedOps: Option[Int]): Phase = {
    val wall = ArrayBuffer.empty[Double]
    val unit = ArrayBuffer.empty[Double]
    var rows = 0L
    var checks = Checks.none
    var error: Option[String] = None
    val start = System.nanoTime()
    def more: Boolean = error.isEmpty && (fixedOps match {
      case Some(n) => wall.length < n
      case None =>
        (wall.sum / 1e3 < seconds || wall.length < wl.minOps) &&
          (System.nanoTime() - start) / 1e9 < LoopCapSeconds
    })
    while (more) {
      val i = wall.length
      val t0 = System.nanoTime()
      try {
        val out = tr.span("op")(wl.op(i, tr))
        wall += (System.nanoTime() - t0) / 1e6
        System.err.println(f"graftbench: ${if (tr.enabled) "traced" else "untraced"} op $i " +
          f"${wall.last}%.0f ms, unit ${out.unitMs}%.0f ms")
        unit += out.unitMs
        rows += out.rows
        checks = checks ++ wl.check(i)
      } catch {
        case e: Exception =>
          error = Some(s"operation $i: ${e.getClass.getName}: ${e.getMessage}")
          e.printStackTrace()
      }
      Workload.releaseBlocks(spark)
    }
    Phase(wall.toSeq, unit.toSeq, rows, checks, error)
  }

  /** Per-layer figures of a traced phase, by metric name. A layer the
    * workload never called has no entry.
    */
  def layers(tr: Tracer, col: SparkCollector, wl: Workload, phase: Phase,
      untraced: Phase, gc0: Long, clock: (Long, Long)): Map[String, Double] = {
    val spans = tr.spans
    val ids = spans.map(_.id).toSet
    val tot = col.totals(ids)
    def subtree(s: Span): Set[Int] = Trace.descendants(s.id, spans).map(_.id).toSet + s.id
    // Job times are epoch ms; spans are nanoTime. `clock` pins the two.
    val (nano0, epoch0) = clock
    def gapNs(s: Span): Long = Trace.selfTime((s.start, s.end),
      col.jobIntervals(subtree(s)).map { case (a, b) =>
        (nano0 + (a - epoch0) * 1000000L, nano0 + (b - epoch0) * 1000000L)
      })
    val secondsByName = spans.groupBy(_.name).map { case (n, ss) => s"${n}_s" -> ss.map(_.dur).sum / 1e9 }
    val commits = spans.filter(_.name == "core.commit")
    def perCommit(f: Span => Double): Double =
      if (commits.isEmpty) 0.0 else commits.map(f).sum / commits.length
    val lm = Probes.lmIntervals
    val lmBusy = lm.map { case (a, b) => b - a }.sum / 1e9
    val selfOutsideLm = spans.filter(s => SemanticSpans(s.name))
      .map(s => Trace.selfTime((s.start, s.end), lm)).sum / 1e9
    val generic = Map(
      "spark.jobs" -> tot.jobs.toDouble, "spark.stages" -> tot.stages.toDouble,
      "spark.tasks" -> tot.tasks.toDouble, "spark.task_run_s" -> tot.runMs / 1e3,
      "spark.task_skew" -> col.taskSkew(ids),
      "spark.shuffle_read_bytes" -> tot.shuffleRead.toDouble,
      "spark.shuffle_write_bytes" -> tot.shuffleWrite.toDouble,
      "spark.spill_bytes" -> tot.spill.toDouble,
      "spark.driver_gap_s" -> spans.filter(_.name == "op").map(gapNs).sum / 1e9,
      "spark.gc_s" -> tot.gcMs / 1e3,
      "io.scan_bytes" -> tot.scan.toDouble, "io.write_bytes" -> tot.write.toDouble,
      "io.files_written" -> tot.files.toDouble,
      "embed.embedder_s" -> Probes.embedNs.get / 1e9,
      "core.commit_jobs_per_batch" -> perCommit(c => col.totals(subtree(c)).jobs.toDouble),
      "core.commit_tasks_per_batch" -> perCommit(c => col.totals(subtree(c)).tasks.toDouble),
      "core.commit_driver_gap_s" -> perCommit(c => gapNs(c) / 1e9),
      "operators.llmstage.self_s" -> selfOutsideLm,
      "llm.complete_busy_s" -> lmBusy,
      "jvm.gc_ms" -> (gcMs() - gc0).toDouble,
      "bench.tracing_overhead_s" -> (phase.wallS - untraced.wallS))
    secondsByName ++ generic ++ wl.layerExtras
  }

  /** Per span name: calls, total and self seconds, jobs and tasks. */
  def spanTable(tr: Tracer, col: SparkCollector): Map[String, Any] = {
    val spans = tr.spans
    val byParent = spans.groupBy(_.parent)
    ListMap(spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, ss) =>
      val self = ss.map(s => Trace.selfTime((s.start, s.end),
        byParent.getOrElse(s.id, Nil).map(c => (c.start, c.end)))).sum
      val agg = col.totals(ss.map(_.id).toSet)
      n -> ListMap("calls" -> ss.length, "total_s" -> ss.map(_.dur).sum / 1e9,
        "self_s" -> self / 1e9, "jobs" -> agg.jobs, "tasks" -> agg.tasks)
    }: _*)
  }

  def session(work: java.nio.file.Path): SparkSession =
    SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", Cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Spark keeps job, stage and SQL history even without the UI; a small
      // cap keeps heap_after_gc_mb from growing with the operations that
      // fit in a run.
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()

  def main(argv: Array[String]): Unit = {
    val code = try run(parse(argv)) catch {
      case e: Throwable =>
        e.printStackTrace()
        2
    }
    System.out.flush()
    System.exit(code)
  }

  def run(a: Args): Int = {
    val loadBefore = loadAvg()
    val c = contract(a.contract)
    java.nio.file.Files.createDirectories(a.work)
    val spark = session(a.work)
    spark.sparkContext.setLogLevel("WARN")
    val wl = Workload(a.workload, Ctx(spark, a.seed, a.work))
    try {
      val setupS = (0 until wl.setupRounds).map { r =>
        val t0 = System.nanoTime()
        wl.setup(r)
        val s = (System.nanoTime() - t0) / 1e9
        System.err.println(f"graftbench: setup $r $s%.2f s")
        s
      }
      wl.warmup()
      wl.resetPhase()
      val untraced = runPhase(wl, spark, Tracer.off, a.seconds, wl.fixedOps)
      val extras = wl.extras
      val heapMb = heapAfterGcMb()

      var traced: Option[(Phase, Map[String, Double], Map[String, Any])] = None
      if (a.trace && untraced.error.isEmpty) {
        wl.setup(wl.setupRounds)
        wl.warmup()
        val tr = new Tracer(true, Some(spark.sparkContext))
        val col = SparkCollector.install(spark.sparkContext, tr)
        val clock = (System.nanoTime(), System.currentTimeMillis())
        Probes.reset()
        wl.resetPhase()
        val gc0 = gcMs()
        val phase = runPhase(wl, spark, tr, a.seconds, Some(untraced.ops))
        SparkCollector.drain(spark.sparkContext)
        traced = Some((phase, layers(tr, col, wl, phase, untraced, gc0, clock), spanTable(tr, col)))
        spark.sparkContext.removeSparkListener(col)
      }
      val loadAfter = loadAvg()

      val phases = untraced +: traced.map(_._1).toSeq
      val checks = phases.map(_.checks).reduce(_ ++ _)
      val errors = phases.flatMap(_.error)
      val attempted = phases.map(_.ops).sum + checks.attempted
      val failed = errors.length + checks.failures.length
      val e2e = ListMap(
        "setup_s" -> Trace.median(setupS),
        "rows_per_s" -> (if (untraced.wallS > 0) untraced.rows / untraced.wallS else 0.0),
        "op_p50_ms" -> (if (untraced.unitMs.isEmpty) 0.0 else Trace.median(untraced.unitMs)),
        "heap_after_gc_mb" -> heapMb)
      require(e2e.keySet == c.endToEnd.map(_._1).toSet,
        s"${a.contract} names end-to-end metrics ${c.endToEnd.map(_._1).mkString(", ")}; " +
          s"the bench measures ${e2e.keys.mkString(", ")}")
      val perLayer = traced.map { case (_, all, _) =>
        ListMap(c.perLayer.map { case (n, _) => n -> all.getOrElse(n, 0.0) }: _*)
      }
      val opTail = Trace.tail(untraced.unitMs)
      val conf = spark.conf.getAll.filter { case (k, _) =>
        k.startsWith("spark.sql.") || k == "spark.master" || k == "spark.app.name"
      }
      val record = ListMap(
        "bench" -> "graftbench",
        "workload" -> a.workload,
        "seed" -> a.seed,
        "seconds" -> a.seconds,
        "trace" -> a.trace,
        "nproc" -> Runtime.getRuntime.availableProcessors,
        "cores" -> Cores,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "spark_conf" -> ListMap(conf.toSeq.sortBy(_._1): _*),
        "loadavg_before" -> loadBefore,
        "loadavg_after" -> loadAfter,
        // Contended: more runnable threads than cores on either reading.
        // The bench's own run adds at most about `Cores`, and one-minute
        // load averages lag, so a back-to-back run reads near `Cores`.
        "contended" -> (math.max(loadBefore, loadAfter) >
          Runtime.getRuntime.availableProcessors + 0.5),
        "input" -> ListMap(wl.inputProps.toSeq.sortBy(_._1): _*),
        "setup_s_samples" -> setupS,
        "ops" -> untraced.ops,
        "op_ms_samples" -> untraced.unitMs,
        "op_tail_ms" -> opTail.map(_.value),
        "op_tail_percentile" -> opTail.map(_.label),
        "end_to_end" -> e2e,
        "workload_metrics" -> ListMap(extras.toSeq.sortBy(_._1): _*),
        "error_rate" -> failed.toDouble / math.max(1, attempted),
        "check_failures" -> checks.failures,
        "errors" -> errors,
        "per_layer" -> perLayer,
        // Contract metrics of layers this workload never called; they read 0.
        "per_layer_not_called" -> traced.map { case (_, all, _) =>
          c.perLayer.map(_._1).filterNot(all.contains)
        },
        "spans" -> traced.map(_._3))
      val recordLine = mapper.writeValueAsString(record)
      a.record.foreach { f =>
        java.nio.file.Files.write(java.nio.file.Paths.get(f), (recordLine + "\n").getBytes("UTF-8"))
      }
      val metrics =
        if (a.trace) c.perLayer.map { case (n, u) =>
          n -> ListMap("value" -> perLayer.fold(0.0)(_(n)), "unit" -> u)
        }
        else c.endToEnd.map { case (n, u) => n -> ListMap("value" -> e2e(n), "unit" -> u) }
      println("record " + recordLine)
      // A traced run whose untraced phase failed has no per-layer figures
      // to report: it ends without a result.
      if (a.trace && traced.isEmpty) 1
      else {
        println(mapper.writeValueAsString(ListMap("correct" -> (failed == 0),
          "attempted" -> attempted, "failed" -> failed, "metrics" -> ListMap(metrics: _*))))
        0
      }
    } finally {
      wl.close()
      spark.stop()
    }
  }
}
