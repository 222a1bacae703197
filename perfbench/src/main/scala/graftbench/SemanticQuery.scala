package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft._
import graft.cascade.CascadeArgs
import graft.core.{Persist, Sem, SemSettings}
import graft.llm.{FakeBehavior, LMClient, OpenAICompatLM, ResponseCache, UsageTracker}

/** A LOTUS-style query pipeline over generated reviews: semFilter →
  * semMap → semTopK(quick) → semAgg(groupBy), a semJoin against a small
  * table and a semFilterCascade with a logprob helper. The model is
  * `OpenAICompatLM` with the response cache on, served by an in-process
  * [[LmStub]] that answers each model name by one [[FakeBehavior]] rule
  * after a fixed service time. One operation is one pipeline pass over a
  * fresh batch of rows; the response cache starts empty each pass.
  */
final class SemanticQuery(ctx: Ctx) extends Workload {
  import SemanticQuery._
  val name = "semantic_query"
  private val spark = ctx.spark
  import spark.implicits._

  private val reviews = new Gen.Reviews(ctx.seed, Rows)
  private var stub: LmStub = _
  private var features: DataFrame = _

  // Results of the last operation, kept for its checks.
  private var rows: IndexedSeq[Gen.Review] = IndexedSeq.empty
  private var filtered: DataFrame = _
  private var mapped: DataFrame = _
  private var cascadeKept: Set[Long] = Set.empty

  // Per-phase counts.
  private var phaseRows = 0L
  private var cascadeOracle = 0L
  private var usage0: Seq[Long] = Nil

  def inputProps: Map[String, Any] = reviews.props ++ Map(
    "lm_stub_service_ms" -> ServiceMs, "lm_max_batch" -> MaxBatch,
    "keyword" -> Keyword, "topk_k" -> TopK, "join_left_rows" -> JoinLeft,
    "warmup_passes" -> WarmupPasses)

  private def client(model: String, logprobs: Boolean = false): LMClient =
    OpenAICompatLM(stub.endpoint, model, maxBatchSize = MaxBatch, timeoutSec = 30,
      maxRetries = 1, withLogprobs = logprobs)

  private def lm(model: String, tr: Tracer, logprobs: Boolean = false): LMClient = {
    val c = client(model, logprobs)
    if (tr.enabled) TimedLM(c) else c
  }

  private def settings(model: String, tr: Tracer): SemSettings =
    SemSettings(lm = lm(model, tr), enableCache = true)

  def setup(r: Int): Unit = {
    if (stub != null) stub.stop()
    stub = new LmStub(Rules, ServiceMs)
    features = Gen.features.toDF("word")
    rows = reviews.pass(0)
    // One request per rule, so the client and the stub's connections are
    // ready before anything is timed.
    Sem.withSettings(settings(FilterModel, Tracer.off)) {
      rows.take(1).toDF().semFilter(FilterInstr).collect()
    }
    Workload.releaseBlocks(spark)
  }

  /** Several passes: pass time keeps falling over the first dozen passes
    * of a JVM, and measuring on the steep part makes runs disagree.
    */
  def warmup(): Unit = {
    (1 to WarmupPasses).foreach { w =>
      op(-w, Tracer.off)
      Workload.releaseBlocks(spark)
    }
    resetPhase()
  }

  def op(i: Int, tr: Tracer): OpOut = {
    rows = reviews.pass(i + WarmupPasses + 1)
    val df = rows.toDF().repartition(4)
    ResponseCache.clear()
    val t0 = System.nanoTime()
    filtered = Sem.withSettings(settings(FilterModel, tr)) {
      tr.span("operators.semrowops.filter") { Persist.stage(df.semFilter(FilterInstr)) }
    }
    mapped = Sem.withSettings(settings(MapModel, tr)) {
      tr.span("operators.semrowops.map") { Persist.stage(filtered.semMap(MapInstr)) }
    }
    Sem.withSettings(settings(TopKModel, tr)) {
      tr.span("operators.semtopk.topk") {
        mapped.semTopK(TopKInstr, k = TopK, method = "quick").collect()
      }
    }
    Sem.withSettings(settings(AggModel, tr)) {
      tr.span("operators.semagg.agg") {
        mapped.semAgg(AggInstr, groupBy = Seq("product")).collect()
      }
    }
    Sem.withSettings(settings(JoinModel, tr)) {
      tr.span("operators.semrowops.join") {
        mapped.orderBy("id").limit(JoinLeft).semJoin(features, JoinInstr).collect()
      }
    }
    val oracle0 = stub.requests(FilterModel)
    cascadeKept = Sem.withSettings(settings(FilterModel, tr)) {
      tr.span("cascade.filter") {
        df.semFilterCascade(CascadeInstr, helperLm = lm(HelperModel, tr, logprobs = true),
          args = Cascade).select("id").as[Long].collect().toSet
      }
    }
    cascadeOracle += stub.requests(FilterModel) - oracle0
    val ms = (System.nanoTime() - t0) / 1e6
    phaseRows += rows.length
    OpOut(rows.length.toLong, ms)
  }

  def check(i: Int): Checks = {
    val truth = rows.filter(r => hasKeyword(r.text)).map(_.id).toSet
    val filter = Checks.of("semFilter equals the keyword rule") {
      filtered.select("id").as[Long].collect().toSet == truth
    }
    val map = Checks.of("semMap equals the first-words rule") {
      val got = mapped.select("id", "_map").as[(Long, String)].collect().toMap
      val byId = rows.map(r => r.id -> r.text).toMap
      got.keySet == truth && got.forall { case (id, m) => m == firstWords(byId(id)) }
    }
    val hit = (cascadeKept intersect truth).size.toDouble
    val recall = if (truth.isEmpty) 1.0 else hit / truth.size
    val precision = if (cascadeKept.isEmpty) 1.0 else hit / cascadeKept.size
    val cascade = Checks.of(f"semFilterCascade meets its recall and precision targets " +
        f"(recall $recall%.3f, precision $precision%.3f)") {
      recall >= Cascade.recallTarget && precision >= Cascade.precisionTarget
    }
    filter ++ map ++ cascade
  }

  override def resetPhase(): Unit = {
    phaseRows = 0L
    cascadeOracle = 0L
    if (stub != null) stub.resetStats()
    usage0 = usage
  }

  private def usage: Seq[Long] = {
    val u = UsageTracker.forSession(spark)
    Seq(u.calls.value, u.requests.value, u.physicalRequests.value, u.cacheHits.value)
  }

  override def extras: Map[String, Any] = {
    val rowsD = math.max(1L, phaseRows).toDouble
    val lat = stub.latencies
    Map(
      "lm_requests_per_row" -> stub.totalRequests / rowsD,
      "lm_prompt_tokens_per_row" -> stub.tokens / rowsD,
      "lm_stub_failed" -> stub.failed,
      "lm_stub_request_p50_ms" -> (if (lat.isEmpty) 0.0 else Trace.median(lat)))
  }

  override def layerExtras: Map[String, Double] = {
    val Seq(batches, requests, physical, hits) = usage.zip(usage0).map { case (a, b) => a - b }
    val lat = stub.latencies
    val helper = stub.requests(HelperModel).toDouble
    val oracle = cascadeOracle.toDouble
    Map(
      "llm.batches" -> batches.toDouble,
      "llm.requests" -> requests.toDouble,
      "llm.physical_requests" -> physical.toDouble,
      "llm.cache_hits" -> hits.toDouble,
      "llm.cache_hit_ratio" -> (if (requests == 0) 0.0 else hits.toDouble / requests),
      "llm.batch_size_mean" -> (if (batches == 0) 0.0 else requests.toDouble / batches),
      "llm.stub_inflight_max" -> stub.maxInflight.toDouble,
      "llm.stub_request_p50_ms" -> (if (lat.isEmpty) 0.0 else Trace.median(lat)),
      "cascade.helper_requests" -> helper,
      "cascade.oracle_requests" -> oracle,
      "cascade.oracle_share" -> (if (phaseRows == 0) 0.0 else oracle / phaseRows))
  }

  /** At least two passes, so `op_p50_ms` is the mean of two. */
  override def minOps: Int = 2

  override def close(): Unit = if (stub != null) stub.stop()
}

object SemanticQuery {
  val Rows = 100
  val WarmupPasses = 1
  /** A pass is about 26 rounds of concurrent requests. At 150 ms each, the
    * fixed service time is about two thirds of a pass, so the pass time
    * follows the number of round trips more than the host's CPU noise.
    */
  val ServiceMs = 150L
  val MaxBatch = 64
  val TopK = 5
  val JoinLeft = 24
  val Keyword = "good"

  val FilterModel = "kw-filter"
  val HelperModel = "kw-helper"
  val MapModel = "first-words"
  val TopKModel = "prefer-longer"
  val AggModel = "concat"
  val JoinModel = "field-join"

  val FilterInstr = "the {text} is good"
  /** Worded apart from [[FilterInstr]] so the cascade's oracle prompts are
    * not answered from the plain filter's cache entries.
    */
  val CascadeInstr = "the {text} praises the product"
  val MapInstr = "give the first three words of {text}"
  val TopKInstr = "which {text} is more substantial"
  val AggInstr = "summarize the {text}"
  val JoinInstr = "the {text} mentions the word {word}"

  val Rules: Map[String, FakeBehavior] = Map(
    FilterModel -> FakeBehavior.KeywordFilter(Keyword),
    HelperModel -> FakeBehavior.KeywordFilterProb(Keyword),
    MapModel -> FakeBehavior.FirstWords("Text", 3),
    TopKModel -> FakeBehavior.PreferLongerText("Text"),
    AggModel -> FakeBehavior.ConcatDocs(" | "),
    JoinModel -> FakeBehavior.FieldWordJoin("Text", "Word"))

  /** Pinned routing thresholds. Learned thresholds meet the targets only
    * with probability 1 − failureProbability per run, so a per-run check on
    * them would fail by design in about that share of runs; with pinned
    * thresholds and a helper whose confident bands are pure, every run
    * must meet the targets, and a router that mis-routes fails the check.
    */
  val Cascade: CascadeArgs = CascadeArgs(posThreshold = Some(0.9), negThreshold = Some(0.1))

  /** The keyword rule in plain Scala: the word appears as a token. */
  def hasKeyword(text: String): Boolean =
    text.toLowerCase.split("[^\\p{L}\\p{N}_]+").contains(Keyword)

  def firstWords(text: String): String = text.split("\\s+").take(3).mkString(" ")
}
