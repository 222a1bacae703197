package graft.operators

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.{NLExpr, Persist, Sem}
import graft.llm.{LMRequest, MeteredLM, Prompts, UsageLimit}

/** Hierarchical LLM aggregation (reference lotus/sem_ops/sem_agg.py:62-235):
  * pack documents into context-budgeted prompts, summarize each pack, repeat
  * on the partial summaries until one row (per group) remains.
  *
  * Spark shape: a driver round loop; each round is ONE distributed job.
  * Packing is PARTITION-LOCAL — rows are range-partitioned by
  * (groupBy, order) once up front (ascending ranges land in ascending
  * partition ids, so a per-partition local index yields a total order), and
  * each round assigns pack ids in a single sorted pass per partition. No
  * global window, no single-partition exchange at any size: the round's
  * partition count shrinks with the data (n/4 rows per partition, floor 1),
  * so cross-partition merging happens exactly when the data is small enough
  * to warrant it. Rounds shrink row count by the pack fan-in (≥ 2), so the
  * loop is O(log n) jobs and never collects docs to the driver — the
  * 100 TB-safe layout.
  */
object SemAgg {

  private val PidShift = 40 // < 2^40 rows per partition

  val PartitionIdCol = "_lotus_partition_id"

  /** One round's pack stage over a fold frame (group cols + __ord + __doc):
    * optional range re-partition to `parts` (−1 keeps the current layout),
    * then partition-local pack assignment in a single sorted pass — a new
    * pack starts at a group boundary or when the char budget is exceeded AND
    * the pack already holds ≥2 docs (the fan-in guarantee — packs may exceed
    * the budget rather than stall the fold; a real LM shrinks summaries each
    * level, and the bound also covers summarizers that don't compress).
    * No global window, no single-partition exchange (plan-asserted in
    * PlanPropertiesSpec).
    */
  private[graft] def packStage(cur: DataFrame, groupBy: Seq[String], budget: Long,
      parts: Int): DataFrame = {
    val groupCols = groupBy.map(col)
    val nGroupL = groupBy.length
    val packSort = groupCols :+ col("__ord")
    val arrangedR =
      if (parts < 0) cur
      else cur.repartitionByRange(parts, packSort: _*).sortWithinPartitions(packSort: _*)
    val packSchema = StructType(arrangedR.schema.fields :+ StructField("__pack", LongType))
    val budgetL = budget
    val packed0 = arrangedR.mapPartitions { it =>
      val pid = TaskContext.getPartitionId().toLong
      var packIdx = 0L
      var packDocs = 0
      var packChars = 0L
      var curKey: Seq[Any] = null
      it.map { r =>
        val key = (0 until nGroupL).map(r.get)
        val t = r.getString(nGroupL + 1).length.toLong + 64L
        if (curKey == null) { curKey = key }
        else if (key != curKey) {
          curKey = key; packIdx += 1; packDocs = 0; packChars = 0L
        } else if (packChars + t > budgetL && packDocs >= 2) {
          packIdx += 1; packDocs = 0; packChars = 0L
        }
        packDocs += 1
        packChars += t
        Row.fromSeq(r.toSeq :+ ((pid << PidShift) | packIdx))
      }
    }(Encoders.row(packSchema))
    packed0
      .groupBy(groupCols :+ col("__pack"): _*)
      .agg(sort_array(collect_list(struct(col("__ord"), col("__doc")))).as("__docs"))
  }

  def semAgg(
      df: DataFrame,
      instr: String,
      allCols: Boolean = false,
      groupBy: Seq[String] = Nil,
      suffix: String = "_output",
      orderBy: Seq[Column] = Nil,
      /** Field names of a required JSON final answer (reference
        * response_format on sem_agg): the output column becomes a validated
        * struct; non-conforming output raises on materialization. */
      responseFormat: Seq[String] = Nil
  ): DataFrame = {
    val s = Sem.settings
    val nle = NLExpr.parse(instr)
    val docCols =
      if (allCols) df.columns.filterNot(c => groupBy.contains(c) || c == PartitionIdCol)
        .toIndexedSeq
      else { nle.validate(df.columns.toIndexedSeq); nle.cols }
    val instruction = nle.instruction
    // Reference consumes sem_partition_by's magic column by sorting on it
    // (sem_agg.py:432-436) so the leaf round packs within a partition first;
    // prepending it to the fold order gives the same leaf locality (packs
    // may straddle adjacent partition boundaries — the upper rounds combine
    // across partitions either way).
    val effOrderBy =
      if (groupBy.isEmpty && df.columns.contains(PartitionIdCol))
        col(PartitionIdCol) +: orderBy
      else orderBy
    val lm = MeteredLM.forStage(df.sparkSession, s.lm)

    // Serialized doc per row, built natively (codegen) for the DEFAULT format.
    val docExpr = concat(docCols.map { c =>
      concat(lit(s"[${graft.core.NLExpr.cap(c)}]: «"),
        coalesce(col(c).cast(StringType), lit("None")), lit("»\n"))
    }: _*)

    val nGroup = groupBy.length
    val groupCols = groupBy.map(col)
    val P = df.sparkSession.sparkContext.defaultParallelism

    // ---- initial total order, fully parallel ----
    // Range-partition by (group, order) + sort within partitions, then
    // __ord = (partitionId << 40) | localIndex. Consistent with the user's
    // orderBy because RangePartitioner assigns ascending key ranges to
    // ascending partition ids.
    val ordAliases = effOrderBy.zipWithIndex.map { case (c, i) => c.as(s"__o$i") }
    val base = df.withColumn("__doc", docExpr)
      .select(groupCols ++ ordAliases :+ col("__doc"): _*)
    val sortCols = groupCols ++ effOrderBy.indices.map(i => col(s"__o$i"))
    val arranged =
      if (sortCols.nonEmpty)
        base.repartitionByRange(P, sortCols: _*).sortWithinPartitions(sortCols: _*)
      else base

    val rowSchema = StructType(
      groupBy.map(g => df.schema(g)) ++
        Seq(StructField("__ord", LongType), StructField("__doc", StringType)))
    val docIdx = arranged.schema.fieldIndex("__doc")
    var cur = arranged.mapPartitions { it =>
      val pid = TaskContext.getPartitionId().toLong
      it.zipWithIndex.map { case (r, i) =>
        Row.fromSeq((0 until nGroup).map(r.get) ++
          Seq((pid << PidShift) | i.toLong, r.getString(docIdx)))
      }
    }(Encoders.row(rowSchema))

    // Chars-per-pack budget ≈ 4 chars/token on the usable context.
    val budget = math.max(2000L, (lm.maxCtxLen.toLong - lm.maxTokens.toLong) * 4 / 2)

    var isLeaf = true
    var n = -1L // unknown until the first convergence check
    var done = false
    // Persistent-RDD ids backing cur's checkpoint (empty while cur is the
    // unstaged round-0 plan): each round frees the previous round's blocks
    // once the next materializes, so O(log n) rounds don't pin O(log n)
    // shrinking copies (the starEdges convention).
    var curIds = Set.empty[Int]
    try {
    while (!done) {
      UsageLimit.checkBeforeStage(lm.stats, lm)
      // Partition count shrinks with the data: ≥4 rows per partition so
      // local packing (fan-in ≥ 2) keeps making progress; the first round
      // keeps the arranged partitioning (no extra shuffle).
      val parts = if (n < 0) -1 else math.max(1, math.min(P, math.ceil(n / 4.0).toInt))
      val packed = packStage(cur, groupBy, budget, parts)
      val nGroupL = nGroup

      val leaf = isLeaf
      val batchSize = lm.maxBatchSize
      val lmL = lm
      val next = packed.mapPartitions { iter =>
        iter.grouped(batchSize).flatMap { rows =>
          val reqs = rows.map { r =>
            val docs = r.getSeq[Row](nGroupL + 1).map(_.getString(1))
            LMRequest(Prompts.aggFormatter(docs, instruction, leaf))
          }
          rows.lazyZip(lmL.complete(reqs)).map { (r, out) =>
            val ordMin = r.getSeq[Row](nGroupL + 1).head.getLong(0)
            Row.fromSeq((0 until nGroupL).map(r.get) ++ Seq(ordMin,
              s"[Source]: «${out.output}»\n"))
          }
        }
      }(Encoders.row(rowSchema))

      // Eager checkpoint: materializes the round's LLM calls exactly once
      // AND truncates lineage so O(log n) rounds don't stack plans.
      val (nextCp, nextIds) = Persist.stageTracked(next)
      // Converged when every group is a single pack; one job yields both the
      // row count (next round's partition sizing) and the per-group max.
      if (groupBy.isEmpty) {
        n = nextCp.count()
        done = n <= 1
      } else {
        val agg = nextCp.groupBy(groupCols: _*).count()
          .agg(sum("count").as("n"), max("count").as("mx")).head()
        n = agg.getLong(0)
        done = agg.getLong(1) <= 1
      }
      Persist.unstage(df.sparkSession, curIds)
      cur = nextCp
      curIds = nextIds
      if (!done) isLeaf = false

      // Small-tail fold on the driver: once the surviving partials are few,
      // per-round Spark-job overhead dominates the remaining O(log n)
      // rounds — collect once and finish with batched local LM calls
      // (SURVEY §7.5 risk 3's local-execution fallback; identical packing
      // and prompts, so results are unchanged).
      if (!done && n >= 0 && n <= driverFoldThreshold(df.sparkSession)) {
        val rows = cur.collect().sortBy(r =>
          ((0 until nGroup).map(i => String.valueOf(r.get(i))).mkString(""),
            r.getLong(nGroup)))
        val folded = driverFold(rows.toIndexedSeq, nGroup, budget, lm, instruction, isLeaf)
        val spark = df.sparkSession
        // The collected round's blocks are consumed — the returned plan is
        // built from the driver-folded rows, not the staged frame.
        Persist.unstage(spark, curIds)
        curIds = Set.empty
        cur = spark.createDataFrame(
          spark.sparkContext.parallelize(folded, math.max(1, folded.length)), rowSchema)
        done = true
      }
    }
    } catch { case t: Throwable =>
      // A failed round (LM error, usage-limit stop) must not pin the last
      // materialized round's blocks for the application's lifetime.
      Persist.unstage(df.sparkSession, curIds)
      throw t
    }

    // Unwrap the [Source]: «…» envelope of the final summary.
    val unwrap = regexp_extract(col("__doc"), "(?s)\\[Source\\]: «(.*)»\\n", 1)
    val outCol =
      if (responseFormat.isEmpty) unwrap
      else from_json(unwrap,
        StructType(responseFormat.map(f => StructField(f, StringType))),
        Map("mode" -> "FAILFAST"))
    cur.select(groupCols :+ outCol.as(suffix): _*)
  }

  /** Survivor count at or below which the fold finishes on the driver
    * (per-round Spark-job overhead dominates the remaining O(log n)
    * rounds there). Tunable via `graft.semAgg.driverFoldThreshold` — 0
    * forces every round through the distributed path (also what the spec
    * uses to exercise the multi-round per-round block free without a
    * 2048-group corpus).
    */
  private def driverFoldThreshold(spark: SparkSession): Long =
    spark.conf.get("graft.semAgg.driverFoldThreshold", "2048").toLong

  /** Finish the fold locally: same greedy packing and prompts as the
    * distributed rounds, batched through the LM until one row per group.
    */
  private def driverFold(rows0: Seq[Row], nGroup: Int, budget: Long,
      lm: graft.llm.LMClient, instruction: String, isLeaf0: Boolean): Seq[Row] = {
    var rows = rows0
    var isLeaf = isLeaf0
    var done = false
    while (!done) {
      // Greedy packs per group (ordered input): (group key, ordMin, docs).
      val packs = scala.collection.mutable.ArrayBuffer.empty[(Seq[Any], Long, Vector[String])]
      var curKey: Seq[Any] = null
      var docs = Vector.empty[String]
      var chars = 0L
      var ordMin = 0L
      def flush(): Unit = if (docs.nonEmpty) { packs += ((curKey, ordMin, docs)); docs = Vector.empty; chars = 0L }
      rows.foreach { r =>
        val key = (0 until nGroup).map(r.get)
        val d = r.getString(nGroup + 1)
        val t = d.length.toLong + 64L
        if (curKey == null || key != curKey) { flush(); curKey = key; ordMin = r.getLong(nGroup) }
        else if (chars + t > budget && docs.length >= 2) { flush(); ordMin = r.getLong(nGroup) }
        docs :+= d
        chars += t
      }
      flush()
      val leaf = isLeaf
      val results = packs.toVector.grouped(lm.maxBatchSize).flatMap { chunk =>
        val reqs = chunk.map(p => graft.llm.LMRequest(
          Prompts.aggFormatter(p._3, instruction, leaf)))
        chunk.lazyZip(lm.complete(reqs)).map { (p, out) =>
          Row.fromSeq(p._1 ++ Seq(p._2, s"[Source]: «${out.output}»\n"))
        }
      }.toVector
      done = results.length == rows.length || // no shrink possible (1 per group)
        results.groupBy(r => (0 until nGroup).map(r.get)).values.forall(_.length <= 1)
      rows = results
      isLeaf = false
    }
    rows
  }
}
