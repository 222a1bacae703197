package graft.plan

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import graft._
import graft.cascade.CascadeArgs

/** A serializable semantic pipeline — the counterpart of the reference's
  * LazyFrame AST (lotus/ast/lazyframe.py:83-131). Spark is already lazy, so
  * this layer exists for what Catalyst can't provide: (a) reordering
  * *around* opaque LLM stages (predicate pushdown below semantic filters,
  * mirroring lotus/ast/optimizer/predicate_pushdown.py:22-87), (b)
  * save/load of pipelines, (c) cascade threshold pre-warming
  * (lotus/ast/optimizer/cascade.py:52-76).
  */
sealed trait SemOp extends Serializable

/** A classical (Catalyst-optimizable) filter, as a Spark SQL expression. */
final case class ClassicalFilter(condition: String) extends SemOp
final case class SemFilterOp(instr: String, default: Boolean = true) extends SemOp
final case class SemMapOp(instr: String, suffix: String = "_map") extends SemOp
final case class SemExtractOp(inputCols: Seq[String], outputCols: Seq[String]) extends SemOp
final case class SemFilterCascadeOp(instr: String,
    posThreshold: Option[Double] = None, negThreshold: Option[Double] = None) extends SemOp

/** Semantic join against a named right-side frame, itself prepared by a
  * NESTED sub-plan — the counterpart of the reference's join nodes holding a
  * child LazyFrame AST (lotus/ast/nodes.py:88-292). The right frame is bound
  * at run time via `run(df, frames)`; the sub-plan's own instruction
  * parameters are optimizable by nested path in [[Gepa]].
  */
final case class SemJoinOp(instr: String, rightName: String,
    rightPlan: SemPlan = SemPlan(Nil)) extends SemOp

final case class SemPlan(ops: Seq[SemOp]) {

  /** Columns an op introduces (used by the pushdown safety rule). */
  private def produces(op: SemOp): Seq[String] = op match {
    case SemMapOp(_, suffix)          => Seq(suffix)
    case SemExtractOp(_, out)         => out
    case _                            => Nil
  }

  /** The lowercased name parts of the columns `condition` references, as
    * Spark's parser reads them (backticks resolved); None when it does not
    * parse. Lowercased because Spark resolves names case-insensitively by
    * default.
    */
  private def references(condition: String): Option[Set[String]] =
    scala.util.Try(CatalystSqlParser.parseExpression(condition)).toOption.map {
      _.collect { case a: UnresolvedAttribute => a.nameParts }.flatten
        .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    }

  /** Predicate pushdown: bubble classical filters before consecutive
    * semantic stages — an LLM call costs ~10^6× a codegen'd predicate, so
    * every row dropped early is the single biggest cost lever. Safe unless
    * the predicate references a column the semantic stage produces; a
    * condition that does not parse stays where it is.
    */
  def optimized: SemPlan = {
    val arr = ops.toBuffer
    var changed = true
    while (changed) {
      changed = false
      for (i <- 1 until arr.length) {
        (arr(i - 1), arr(i)) match {
          // A join introduces the whole right-side schema — a filter above it
          // may reference right columns, so never push one below a join.
          case (prev, cf: ClassicalFilter)
              if !prev.isInstanceOf[ClassicalFilter] && !prev.isInstanceOf[SemJoinOp] =>
            val produced = produces(prev).map(_.toLowerCase(java.util.Locale.ROOT))
            if (references(cf.condition).exists(refs => !produced.exists(refs.contains))) {
              arr(i) = arr(i - 1)
              arr(i - 1) = cf
              changed = true
            }
          case _ =>
        }
      }
    }
    SemPlan(arr.toSeq)
  }

  /** Lower the plan onto a DataFrame (semantic ops use the ambient
    * `Sem.settings` LM, as operators do). `frames` binds the named right
    * sides of any [[SemJoinOp]]s (and of joins inside nested sub-plans).
    */
  def run(df: DataFrame): DataFrame = run(df, Map.empty)

  def run(df: DataFrame, frames: Map[String, DataFrame]): DataFrame =
    ops.foldLeft(df) { (d, op) =>
      op match {
        case ClassicalFilter(c)        => d.filter(c)
        case SemFilterOp(instr, dflt)  => d.semFilter(instr, default = dflt)
        case SemMapOp(instr, suffix)   => d.semMap(instr, suffix = suffix)
        case SemExtractOp(in, out)     => d.semExtract(in, out.map(_ -> None))
        case SemFilterCascadeOp(instr, tp, tn) =>
          d.semFilterCascade(instr, graft.core.Sem.settings.helperLm
            .getOrElse(graft.core.Sem.settings.lm),
            args = CascadeArgs(posThreshold = tp, negThreshold = tn))
        case SemJoinOp(instr, rightName, rightPlan) =>
          val right = frames.getOrElse(rightName, throw new IllegalArgumentException(
            s"SemJoinOp: no frame named '$rightName' bound in run(df, frames)"))
          d.semJoin(rightPlan.run(right, frames), instr)
      }
    }

  /** Pre-warm cascade thresholds on a training frame: run once, store the
    * learned (tauPos, tauNeg) into the plan so production runs skip the
    * sampling phase (reference CascadeOptimizer).
    */
  def prewarmCascades(train: DataFrame,
      frames: Map[String, DataFrame] = Map.empty): SemPlan = {
    var cur = train
    val warmed = ops.map {
      case op @ SemFilterCascadeOp(instr, None, None) =>
        val helper = graft.core.Sem.settings.helperLm.getOrElse(graft.core.Sem.settings.lm)
        val (res, stats) = graft.cascade.FilterCascade.semFilterCascade(cur, instr, helper)
        cur = res
        SemFilterCascadeOp(instr, Some(stats.tauPos), Some(stats.tauNeg))
      case op =>
        cur = SemPlan(Seq(op)).run(cur, frames)
        op
    }
    SemPlan(warmed)
  }

  def toJson: String = {
    val m = new ObjectMapper()
    m.writerWithDefaultPrettyPrinter().writeValueAsString(SemPlan.toNode(m, this))
  }
}

object SemPlan {

  private[plan] def toNode(m: ObjectMapper, plan: SemPlan): ObjectNode = {
    val root = m.createObjectNode()
    val arr = root.putArray("ops")
    plan.ops.foreach { op =>
      val o = arr.addObject()
      op match {
        case ClassicalFilter(c) => o.put("type", "classical_filter").put("condition", c)
        case SemFilterOp(i, d)  => o.put("type", "sem_filter").put("instr", i).put("default", d)
        case SemMapOp(i, s)     => o.put("type", "sem_map").put("instr", i).put("suffix", s)
        case SemExtractOp(in, out) =>
          val n = o.put("type", "sem_extract")
          val ia = n.putArray("input_cols"); in.foreach(ia.add)
          val oa = n.putArray("output_cols"); out.foreach(oa.add)
        case SemFilterCascadeOp(i, tp, tn) =>
          o.put("type", "sem_filter_cascade").put("instr", i)
          tp.foreach(o.put("tau_pos", _)); tn.foreach(o.put("tau_neg", _))
        case SemJoinOp(i, rightName, rightPlan) =>
          o.put("type", "sem_join").put("instr", i).put("right_name", rightName)
          o.set("right_plan", toNode(m, rightPlan))
      }
    }
    root
  }

  private def fromNode(root: com.fasterxml.jackson.databind.JsonNode): SemPlan = {
    val arr = root.path("ops")
    val ops = (0 until arr.size()).map { i =>
      val o = arr.get(i)
      o.path("type").asText() match {
        case "classical_filter" => ClassicalFilter(o.path("condition").asText())
        case "sem_filter" => SemFilterOp(o.path("instr").asText(), o.path("default").asBoolean(true))
        case "sem_map" => SemMapOp(o.path("instr").asText(), o.path("suffix").asText("_map"))
        case "sem_extract" =>
          val in = (0 until o.path("input_cols").size()).map(j => o.path("input_cols").get(j).asText())
          val out = (0 until o.path("output_cols").size()).map(j => o.path("output_cols").get(j).asText())
          SemExtractOp(in, out)
        case "sem_filter_cascade" =>
          SemFilterCascadeOp(o.path("instr").asText(),
            if (o.has("tau_pos")) Some(o.path("tau_pos").asDouble()) else None,
            if (o.has("tau_neg")) Some(o.path("tau_neg").asDouble()) else None)
        case "sem_join" =>
          SemJoinOp(o.path("instr").asText(), o.path("right_name").asText(),
            fromNode(o.path("right_plan")))
        case other => throw new IllegalArgumentException(s"unknown op type: $other")
      }
    }
    SemPlan(ops)
  }

  def fromJson(json: String): SemPlan = fromNode(new ObjectMapper().readTree(json))

  /** Save/load (reference LazyFrame.save/load, lazyframe.py:802-834 — JSON
    * instead of pickle).
    */
  def save(plan: SemPlan, path: String): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), plan.toJson)
  def load(path: String): SemPlan =
    fromJson(java.nio.file.Files.readString(java.nio.file.Paths.get(path)))
}
