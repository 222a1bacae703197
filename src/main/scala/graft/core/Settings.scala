package graft.core

import graft.llm.{FakeLM, LMClient}
import graft.embed.{Embedder, HashingEmbedder}

/** Reasoning strategies (reference lotus/types.py:284-288). */
sealed trait ReasoningStrategy extends Serializable
object ReasoningStrategy {
  case object Default extends ReasoningStrategy
  case object Cot extends ReasoningStrategy
  case object ZsCot extends ReasoningStrategy
  case object FewShot extends ReasoningStrategy
}

/** Engine-wide settings, resolved on the driver at operator-build time and
  * captured (frozen) into executor closures — the Spark-correct analogue of
  * the reference's mutable `lotus.settings` singleton + ContextVar scoping
  * (lotus/settings.py:15-70).
  */
final case class SemSettings(
    lm: LMClient = FakeLM.echo,
    helperLm: Option[LMClient] = None,
    embedder: Embedder = HashingEmbedder(64),
    /** Cross-encoder reranker for semSearch's nRerank path (reference
      * settings.reranker). */
    reranker: graft.embed.Reranker = graft.embed.LexicalReranker(),
    /** Optional vector store backing index save/load (reference settings.vs;
      * None = the parquet index-column convention). */
    vs: Option[graft.embed.VectorStore] = None,
    serializationFormat: SerializationFormat = SerializationFormat.Default,
    /** Below this row count, driver-coordinated algorithms (topk, agg fold)
      * may collect and run locally instead of launching per-round jobs. */
    localExecutionThreshold: Int = 200000,
    /** Oversized-document handling for per-row LLM ops (reference TRUNCATE
      * default; CHUNK via [[LongContext.chunkColumn]] as a pre-op). */
    longContextStrategy: LongContextStrategy = LongContextStrategy.Truncate,
    /** LM response cache (reference settings.enable_cache, default off,
      * lotus/settings.py:20): executor-local LRU keyed on (model config,
      * messages) — task retries replay answers instead of re-asking. */
    enableCache: Boolean = false,
    /** Persist every LLM stage's output (lazy checkpoint) so downstream
      * reuse never re-issues the stage's calls — the Spark-retry
      * determinism requirement (SURVEY §7.5 risk 1). */
    persistLlmOutputs: Boolean = true,
    /** When set, iterative/nondeterministic stage materialization uses
      * reliable `checkpoint(dir)` instead of `localCheckpoint` — executor
      * loss on a real cluster destroys localCheckpoint blocks mid-job. */
    checkpointDir: Option[String] = None,
    /** Abort the job once estimated usage crosses any limit (reference
      * LotusUsageLimitException, lm.py:465-473). */
    usageLimit: Option[graft.llm.UsageLimit] = None,
    /** Driver-side thread budget for concurrent sub-jobs (judge trials,
      * per-group top-k) — reference parallel_groupby_max_threads
      * (settings.py:15-30). Spark supports concurrent job submission. */
    parallelGroupbyMaxThreads: Int = 8
) extends Serializable

object Sem {
  private val dyn = new scala.util.DynamicVariable[SemSettings](SemSettings())

  def settings: SemSettings = dyn.value

  /** Scoped override (driver-side), like `settings.context(...)`. */
  def withSettings[T](s: SemSettings)(f: => T): T = dyn.withValue(s)(f)

  def withLM[T](lm: LMClient)(f: => T): T = dyn.withValue(dyn.value.copy(lm = lm))(f)

  def withEmbedder[T](e: Embedder)(f: => T): T =
    dyn.withValue(dyn.value.copy(embedder = e))(f)
}
