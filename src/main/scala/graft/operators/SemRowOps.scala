package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.core.{NLExpr, ReasoningStrategy, Sem}
import graft.llm.{LMRequest, Prompts}
import graft.llm.Prompts.Example

/** Per-row semantic operators: sem_map, sem_filter, sem_extract, and the
  * pair-wise sem_join built on the filter core.
  *
  * Physical shape (all of them): one `mapPartitions` LLM stage over the
  * WHOLE input frame, appending the raw answer → native-expression
  * postprocessing. The prompt reads only the referenced columns, but no
  * projection happens first: every input column rides through the stage,
  * and Catalyst cannot push a later filter or column pruning below it.
  * Filters become a real Catalyst `Filter` over the parsed boolean.
  */
object SemRowOps {

  import SemCore._

  /** (text serializer, image resolver or null) for the referenced cols. */
  private def docBuilders(df: DataFrame, cols: Seq[String],
      s: graft.core.SemSettings): (org.apache.spark.sql.Row => String,
        org.apache.spark.sql.Row => Map[String, String]) = {
    val (textCols, imgCols) = splitImageCols(df.schema, cols)
    val ser = serializeDocBudgeted(df.schema, textCols, s.serializationFormat, s.lm,
      s.longContextStrategy)
    val imgRes =
      if (imgCols.isEmpty) null
      else imageResolver(df.schema, imgCols, new org.apache.spark.util.SerializableConfiguration(
        df.sparkSession.sparkContext.hadoopConfiguration))
    (ser, imgRes)
  }

  private def imagesOf(imgRes: org.apache.spark.sql.Row => Map[String, String],
      row: org.apache.spark.sql.Row): Map[String, String] =
    if (imgRes == null) Map.empty else imgRes(row)

  def semMap(
      df: DataFrame,
      instr: String,
      suffix: String = "_map",
      examples: Seq[Example] = Nil,
      strategy: ReasoningStrategy = ReasoningStrategy.Default,
      systemPrompt: Option[String] = None,
      returnExplanations: Boolean = false,
      returnRawOutputs: Boolean = false
  ): DataFrame = {
    val s = Sem.settings
    val nle = NLExpr.parse(instr)
    nle.validate(df.columns.toIndexedSeq)
    val (ser, imgRes) = docBuilders(df, nle.cols, s)
    val instruction = nle.instruction
    val (exs, strat, sys) = (examples, strategy, systemPrompt)
    val out = LLMStage.appendAnswer(df, s.lm, RawCol,
      row => LMRequest(Prompts.mapFormatter(ser(row), instruction, exs, strat, sys),
        images = imagesOf(imgRes, row)))
    val isCot = strat == ReasoningStrategy.Cot || strat == ReasoningStrategy.ZsCot ||
      exs.exists(_.cot.isDefined)
    var res = out.withColumn(suffix, if (isCot) answerExprFor(s.lm.modelName, col(RawCol)) else col(RawCol))
    if (returnExplanations)
      res = res.withColumn(s"explanation$suffix",
        if (isCot) reasoningExprFor(s.lm.modelName, col(RawCol)) else lit(null).cast(StringType))
    if (returnRawOutputs) res = res.withColumn(s"raw_output$suffix", col(RawCol))
    res.drop(RawCol)
  }

  def semFilter(
      df: DataFrame,
      instr: String,
      default: Boolean = true,
      returnAll: Boolean = false,
      suffix: String = "_filter",
      examples: Seq[Example] = Nil,
      strategy: ReasoningStrategy = ReasoningStrategy.Default,
      systemPrompt: Option[String] = None,
      outputTokens: (String, String) = ("True", "False"),
      returnExplanations: Boolean = false
  ): DataFrame = {
    val s = Sem.settings
    val nle = NLExpr.parse(instr)
    nle.validate(df.columns.toIndexedSeq)
    val (ser, imgRes) = docBuilders(df, nle.cols, s)
    val instruction = nle.instruction
    val (exs, strat, sys, toks) = (examples, strategy, systemPrompt, outputTokens)
    val out = LLMStage.appendAnswer(df, s.lm, RawCol,
      row => LMRequest(Prompts.filterFormatter(ser(row), instruction, exs, strat, sys, toks),
        images = imagesOf(imgRes, row)))
    val ans = answerExprFor(s.lm.modelName, col(RawCol))
    val pred = boolExpr(ans, default, outputTokens)
    var res = out.withColumn(suffix, pred)
    if (returnExplanations) res = res.withColumn(s"explanation$suffix", reasoningExprFor(s.lm.modelName, col(RawCol)))
    res = res.drop(RawCol)
    if (returnAll) res else res.filter(col(suffix)).drop(suffix)
  }

  def semExtract(
      df: DataFrame,
      inputCols: Seq[String],
      outputCols: Seq[(String, Option[String])],
      extractQuotes: Boolean = false,
      strategy: ReasoningStrategy = ReasoningStrategy.Default,
      returnRawOutputs: Boolean = false
  ): DataFrame = {
    val s = Sem.settings
    inputCols.foreach(c => require(df.columns.contains(c), s"Column $c not found"))
    val (ser, imgRes) = docBuilders(df, inputCols, s)
    val (ocs, quotes, strat) = (outputCols, extractQuotes, strategy)
    val out = LLMStage.appendAnswer(df, s.lm, RawCol,
      row => LMRequest(Prompts.extractFormatter(ser(row), ocs, quotes, strat),
        images = imagesOf(imgRes, row)))
    val isCot = strat == ReasoningStrategy.Cot || strat == ReasoningStrategy.ZsCot
    val jsonCol = if (isCot) answerExprFor(s.lm.modelName, col(RawCol)) else col(RawCol)
    val names = outputCols.map(_._1) ++
      (if (extractQuotes) outputCols.map(c => s"${c._1}_quote") else Nil)
    // All-string schema: the reference coerces every extracted value to str.
    val schema = StructType(names.map(n => StructField(n, StringType)))
    val parsed = out.withColumn("__graft_json", from_json(jsonCol, schema))
    val withCols = names.foldLeft(parsed)((d, n) => d.withColumn(n, col("__graft_json").getField(n)))
    val res = withCols.drop("__graft_json")
    if (returnRawOutputs) res.withColumn("raw_output", col(RawCol)).drop(RawCol)
    else res.drop(RawCol)
  }

  /** NL-predicate theta join: cross product, each pair classified by the
    * filter core; inner only (reference raises for anything else,
    * sem_join.py:713-714). Overlapping column names get `:left` / `:right`
    * suffixes (sem_join.py:716-747). Small right sides broadcast via Spark's
    * BroadcastNestedLoopJoin automatically.
    */
  def semJoin(
      left: DataFrame,
      right: DataFrame,
      instr: String,
      how: String = "inner",
      examples: Seq[Example] = Nil,
      strategy: ReasoningStrategy = ReasoningStrategy.Default,
      default: Boolean = true
  ): DataFrame = {
    require(how == "inner", s"sem_join only supports inner joins, got: $how")
    val overlap = left.columns.toSet & right.columns.toSet
    val l2 = overlap.foldLeft(left)((d, c) => d.withColumnRenamed(c, s"$c:left"))
    val r2 = overlap.foldLeft(right)((d, c) => d.withColumnRenamed(c, s"$c:right"))
    val joined = l2.crossJoin(r2)

    val s = Sem.settings
    val nle = NLExpr.parse(instr)
    nle.validate(joined.columns.toIndexedSeq)
    val leftCols = nle.cols.filter(l2.columns.contains)
    val rightCols = nle.cols.filter(r2.columns.contains)
    val (serL, imgResL) = docBuilders(joined, leftCols, s)
    val (serR, imgResR) = docBuilders(joined, rightCols, s)
    val instruction = nle.instruction
    val (exs, strat) = (examples, strategy)
    // Pair doc = left block + "\n" + right block; image maps of both sides
    // merge (merge_multimodal_info, task_instructions.py:390-410).
    val out = LLMStage.appendAnswer(joined, s.lm, RawCol,
      row => LMRequest(Prompts.filterFormatter(serL(row) + "\n" + serR(row), instruction, exs, strat),
        images = imagesOf(imgResL, row) ++ imagesOf(imgResR, row)))
    val pred = boolExpr(answerExprFor(s.lm.modelName, col(RawCol)), default)
    out.filter(pred).drop(RawCol)
  }
}
