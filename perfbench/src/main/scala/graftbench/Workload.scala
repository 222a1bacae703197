package graftbench

import java.nio.file.Path
import org.apache.spark.sql.SparkSession

/** What every workload shares: the session, the seed and a private work
  * directory inside the bench's run directory.
  */
final case class Ctx(spark: SparkSession, seed: Long, work: Path) {
  def dir(name: String): String = work.resolve(name).toString
}

/** The result of one measured operation: input rows it consumed and the
  * latency of its unit of work (a release pass, a microbatch commit, a
  * query pipeline), in ms.
  */
final case class OpOut(rows: Long, unitMs: Double)

/** Outcome of the output checks run after one operation. */
final case class Checks(attempted: Int, failures: Seq[String]) {
  def ++(o: Checks): Checks = Checks(attempted + o.attempted, failures ++ o.failures)
}

object Checks {
  val none: Checks = Checks(0, Nil)

  /** One check: passes when `ok`, else records `what`. */
  def of(what: String)(ok: => Boolean): Checks =
    try { if (ok) Checks(1, Nil) else Checks(1, Seq(what)) }
    catch { case e: Exception => Checks(1, Seq(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}")) }
}

/** A closed-loop workload driven by one client (the bench's main thread).
  * The loop is: `setup` (several times, timed), `warmup`, then `op`
  * repeatedly for the measured time, each followed by `check` and
  * `cleanup` outside the timed region.
  */
trait Workload {
  def name: String

  /** Input properties recorded in the run record. */
  def inputProps: Map[String, Any]

  /** Set-ups per run; `setup_s` is their median. The first round also pays
    * JVM and Spark warm-up, so the median is taken over several more.
    */
  def setupRounds: Int = 5

  /** Build fresh state; round `r` uses its own directories. */
  def setup(r: Int): Unit

  /** Untimed operations that let caches fill and code warm up. */
  def warmup(): Unit

  /** Operation `i` of the measured phase. Graft calls go through `tr`;
    * with `tr.enabled` the workload also swaps in the timing probes.
    */
  def op(i: Int, tr: Tracer): OpOut

  /** Output checks for the operation just run. */
  def check(i: Int): Checks

  /** Operations the measured phase runs even when time is up, so that
    * every run reaches its checkpoints.
    */
  def minOps: Int = 1

  /** Set when the measured phase is a fixed number of operations instead
    * of a span of time, so every run measures the same mix of work.
    */
  def fixedOps: Option[Int] = None

  /** Extra end-to-end figures for the run record (workload-specific). */
  def extras: Map[String, Any] = Map.empty

  /** Per-layer values only this workload can measure (traced phase). */
  def layerExtras: Map[String, Double] = Map.empty

  /** Reset per-phase counters before a phase starts. */
  def resetPhase(): Unit = ()

  def close(): Unit = ()
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "corpus_curate" => new CorpusCurate(ctx)
    case "index_churn" => new IndexChurn(ctx)
    case "semantic_query" => new SemanticQuery(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  val names: Seq[String] = Seq("corpus_curate", "index_churn", "semantic_query")

  /** Release every cached or checkpointed block between operations, so one
    * operation's state never carries into the next one's memory.
    */
  def releaseBlocks(spark: SparkSession): Unit = {
    graft.core.LogLevels.quietLocalCheckpointUnpersist
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }

  def deleteTree(p: Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.delete)
      } finally s.close()
    }

  def treeBytes(p: Path): Long =
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
          .map(java.nio.file.Files.size).sum
      } finally s.close()
    }
}
