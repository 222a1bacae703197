package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.{NLExpr, Sem}
import graft.llm.{LMClient, LMRequest, MeteredLM, Prompts}

/** LLM-comparator top-k (reference lotus/sem_ops/sem_topk.py).
  *
  * Methods:
  *   - "quick": quickselect + quicksort with batched pairwise LLM
  *     comparisons, coordinated on the driver (the comparator is an LLM call,
  *     so there is no Spark primitive for it). Docs are collected — top-k
  *     inputs are small post-filter, exactly as in the reference, and we
  *     guard with `localExecutionThreshold`.
  *   - "naive": all-pairs voting as a distributed job — crossJoin on the
  *     upper triangle, one batched comparison stage, win-count aggregation.
  *     This is the scale path for larger candidate sets.
  *
  * Output: input rows of the top-k, plus a `rank` column (1-based).
  */
object SemTopK {

  /** Parse "Document NUMBER" answers; default: first doc wins. */
  private def firstWins(answer: String): Boolean =
    "Document\\s*(\\d)".r.findFirstMatchIn(answer) match {
      case Some(m) => m.group(1) == "1"
      case None    => !answer.contains("2")
    }

  /** Batched compare: does docs(i) beat pivot? One LM round-trip per
    * maxBatchSize chunk. With a helper (comparison cascade, reference
    * sem_topk.py:176-273): helper answers whose confidence clears the
    * threshold are accepted; the uncertain rest are re-asked of the oracle.
    */
  private def compareAll(lm: LMClient, docs: Seq[String], pivot: String, instr: String,
      helper: Option[(LMClient, Double)] = None): Seq[Boolean] = helper match {
    case None =>
      docs.grouped(lm.maxBatchSize).flatMap { chunk =>
        val reqs = chunk.map(d => LMRequest(Prompts.compareFormatter(d, pivot, instr)))
        lm.complete(reqs).map(r => firstWins(r.output))
      }.toVector
    case Some((helperLm, threshold)) =>
      val reqs = docs.map(d => LMRequest(Prompts.compareFormatter(d, pivot, instr)))
      val helperRes = reqs.grouped(helperLm.maxBatchSize)
        .flatMap(helperLm.complete).toVector
      val results = new Array[Option[Boolean]](docs.length)
      val uncertain = scala.collection.mutable.ArrayBuffer[Int]()
      helperRes.zipWithIndex.foreach { case (res, i) =>
        val conf = res.positiveProb.getOrElse(0.0)
        if (conf >= threshold || conf <= 1 - threshold) results(i) = Some(firstWins(res.output))
        else uncertain += i
      }
      uncertain.toSeq.grouped(lm.maxBatchSize).foreach { chunk =>
        val oracleRes = lm.complete(chunk.map(reqs))
        chunk.lazyZip(oracleRes).foreach { (i, r) => results(i) = Some(firstWins(r.output)) }
      }
      results.map(_.get).toVector
  }

  /** Quickselect with embedding-informed pivots (reference "quick-sem",
    * sem_topk.py:411-417,782-788): items carry a proxy rank (position in the
    * instruction-similarity presort); the first partition pivots on the
    * K-th best proxy item (a guess at the top-K boundary), deeper levels on
    * the proxy median of the range.
    */
  private def quickTopKSem(lm: LMClient, items: Vector[(Long, String, Int)], k: Int,
      instr: String, first: Boolean,
      helper: Option[(LMClient, Double)] = None): Vector[(Long, String, Int)] = {
    if (k <= 0 || items.isEmpty) return Vector.empty
    if (items.length == 1) return items
    val target = if (first) math.min(k, items.length) else math.max(1, items.length / 2)
    val pivot = items.sortBy(_._3).apply(target - 1)
    val pi = items.indexWhere(_._1 == pivot._1)
    val rest = items.patch(pi, Nil, 1)
    val wins = compareAll(lm, rest.map(_._2), pivot._2, instr, helper)
    val (better, worse) = rest.zip(wins).partition(_._2)
    val b = better.map(_._1)
    val w = worse.map(_._1)
    if (b.length >= k) quickTopKSem(lm, b, k, instr, first = false, helper)
    else if (b.length == k - 1) quickTopKSem(lm, b, b.length, instr, first = false, helper) :+ pivot
    else quickTopKSem(lm, b, b.length, instr, first = false, helper) ++
      (pivot +: quickTopKSem(lm, w, k - b.length - 1, instr, first = false, helper))
  }

  /** Quickselect returning the top `k` in rank order. */
  private def quickTopK(lm: LMClient, items: Vector[(Long, String)], k: Int, instr: String,
      rng: scala.util.Random, helper: Option[(LMClient, Double)] = None): Vector[(Long, String)] = {
    if (k <= 0 || items.isEmpty) return Vector.empty
    if (items.length == 1) return items
    val pi = rng.nextInt(items.length)
    val pivot = items(pi)
    val rest = items.patch(pi, Nil, 1)
    val wins = compareAll(lm, rest.map(_._2), pivot._2, instr, helper)
    val (better, worse) = rest.zip(wins).partition(_._2)
    val b = better.map(_._1)
    val w = worse.map(_._1)
    if (b.length >= k) quickTopK(lm, b, k, instr, rng, helper)
    else if (b.length == k - 1) quickTopK(lm, b, b.length, instr, rng, helper) :+ pivot
    else quickTopK(lm, b, b.length, instr, rng, helper) ++
      (pivot +: quickTopK(lm, w, k - b.length - 1, instr, rng, helper))
  }

  def semTopK(
      df: DataFrame,
      instr: String,
      k: Int,
      method: String = "quick",
      groupBy: Seq[String] = Nil,
      rankCol: String = "rank",
      /** Comparison-cascade confidence threshold: helper-LM answers at or
        * above it are accepted without an oracle call (reference
        * sem_topk.py:176-273); requires `Sem.settings.helperLm`. */
      cascadeThreshold: Option[Double] = None
  ): DataFrame = {
    val s = Sem.settings
    val nle = NLExpr.parse(instr)
    nle.validate(df.columns.toIndexedSeq)
    val instruction = nle.instruction
    val lm = MeteredLM.forStage(df.sparkSession, s.lm)
    val cascadeHelper: Option[(LMClient, Double)] = cascadeThreshold.flatMap(t =>
      s.helperLm.map(h => (MeteredLM.forStage(df.sparkSession, h), t)))

    val withId = df.withColumn("__tk_id", monotonically_increasing_id()).persist()
    val totalRows = withId.count()
    val ser = SemCore.serializeDoc(
      withId.schema, nle.cols, s.serializationFormat)

    method match {
      case "heap" =>
        // Distributed selection: each partition quickselects its local top-k
        // with batched comparisons (executor-side LLM calls), then the
        // driver merges the ≤ partitions×k candidates with one more
        // quickselect. Scales to inputs the quick method cannot collect;
        // requires the comparator to be transitive-enough, the same caveat
        // as the reference's heap method (sem_topk.py:560-621).
        // With groupBy, groups are co-located by a repartition on the keys,
        // so each group's local top-k IS its final top-k — ranks are
        // computed fully distributed, no driver merge.
        val serLocal = ser
        val lmLocal = lm
        val instrLocal = instruction
        val kLocal = k
        val spark = df.sparkSession
        import spark.implicits._
        val rankDf =
          if (groupBy.isEmpty) {
            val candidates = withId.mapPartitions { it =>
              val items = it.map(r => (r.getAs[Long]("__tk_id"), serLocal(r))).toVector
              if (items.isEmpty) Iterator.empty
              else quickTopK(lmLocal, items, kLocal, instrLocal, new scala.util.Random(42),
                cascadeHelper).iterator
            }(org.apache.spark.sql.Encoders.tuple(
              org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.STRING))
              .collect().toVector
            val top = quickTopK(lm, candidates, k, instruction, new scala.util.Random(42),
              cascadeHelper)
            top.zipWithIndex.map { case ((id, _), i) => (id, i + 1) }.toDF("__tk_id", rankCol)
          } else {
            val gIdx = groupBy.map(withId.schema.fieldIndex)
            val rankSchema = StructType(Seq(
              StructField("__tk_id", LongType), StructField(rankCol, IntegerType)))
            // Sort within partitions so each group is a consecutive run, then
            // stream run-by-run: only ONE group's rows are ever buffered, not
            // the whole partition — a skewed partition cannot OOM the
            // executor on other groups' rows.
            withId.repartition(groupBy.map(col): _*)
              .sortWithinPartitions(groupBy.map(col): _*)
              .mapPartitions { it =>
                val in = it.buffered
                val groups = new Iterator[Vector[Row]] {
                  override def hasNext: Boolean = in.hasNext
                  override def next(): Vector[Row] = {
                    val key = gIdx.map(in.head.get)
                    val b = Vector.newBuilder[Row]
                    while (in.hasNext && gIdx.map(in.head.get) == key)
                      b += in.next()
                    b.result()
                  }
                }
                groups.flatMap { rows =>
                  val items = rows.map(r => (r.getAs[Long]("__tk_id"), serLocal(r)))
                  quickTopK(lmLocal, items, kLocal, instrLocal, new scala.util.Random(42),
                    cascadeHelper).zipWithIndex.map { case ((id, _), i) => Row(id, i + 1) }
                }
              }(Encoders.row(rankSchema))
          }
        // Materialize before unpersist: the cached monotonically_increasing_id
        // values must not be recomputed (repartitioned recompute could assign
        // different ids than those captured in the collected rank table).
        val res = withId.join(broadcast(rankDf), "__tk_id")
          .orderBy(groupBy.map(col) :+ col(rankCol): _*)
          .drop("__tk_id")
          .transform(graft.core.Persist.stage(_))
        withId.unpersist()
        res

      case "quick" | "quick-sem" =>
        // Cheap bound first (count already ran above): never materialize an
        // oversized input on the driver just to fail the guard.
        require(totalRows <= s.localExecutionThreshold,
          s"semTopK $method method: $totalRows rows > localExecutionThreshold; use method=naive or heap")
        val idIdx = withId.schema.fieldIndex("__tk_id")
        val collected = withId.collect()
        val spark = df.sparkSession
        import spark.implicits._

        // quick-sem: presort by embedding similarity between each doc (its
        // single referenced column) and the instruction; quickselect then
        // pivots on the proxy order (reference sem_topk.py:782-788).
        val useSem = method == "quick-sem"
        val semRank: Map[Long, Int] =
          if (!useSem) Map.empty
          else {
            require(nle.cols.length == 1,
              "quick-sem: exactly one column can be used for embedding optimization")
            val cIdx = withId.schema.fieldIndex(nle.cols.head)
            val emb = s.embedder
            val qv = emb.embedOne(instruction)
            val vecs = emb.embed(collected.toIndexedSeq.map(r => String.valueOf(r.get(cIdx))))
            def cos(a: Seq[Float], b: Seq[Float]): Double = {
              var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
              while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
              if (na == 0 || nb == 0) 0.0 else d / math.sqrt(na * nb)
            }
            collected.map(_.getLong(idIdx)).zip(vecs.map(v => cos(qv, v)))
              .sortBy(-_._2).zipWithIndex.map { case ((id, _), i) => id -> i }.toMap
          }

        def rankGroup(rows: Seq[Row]): Seq[(Long, Int)] = {
          val top: Seq[Long] =
            if (useSem) {
              val items = rows.map(r => (r.getLong(idIdx), ser(r), semRank(r.getLong(idIdx)))).toVector
              quickTopKSem(lm, items, k, instruction, first = true, cascadeHelper).map(_._1)
            } else {
              val items = rows.map(r => (r.getLong(idIdx), ser(r))).toVector
              quickTopK(lm, items, k, instruction, new scala.util.Random(42), cascadeHelper).map(_._1)
            }
          top.zipWithIndex.map { case (id, i) => (id, i + 1) }
        }

        val ranks: Seq[(Long, Int)] =
          if (groupBy.isEmpty) rankGroup(collected.toIndexedSeq)
          else {
            val gIdx = groupBy.map(withId.schema.fieldIndex)
            collected.groupBy(r => gIdx.map(r.get)).toSeq
              .sortBy(_._1.mkString("|"))
              .flatMap { case (_, rows) => rankGroup(rows.toIndexedSeq) }
          }

        val rankDf = ranks.toDF("__tk_id", rankCol)
        val res = withId.join(broadcast(rankDf), "__tk_id")
          .orderBy(groupBy.map(col) :+ col(rankCol): _*)
          .drop("__tk_id")
          .transform(graft.core.Persist.stage(_))
        withId.unpersist()
        res

      case "naive" =>
        // Distributed all-pairs voting: i<j pairs (within a group when
        // groupBy is set) → batched compare → wins → rank per group.
        val serLocal = ser
        val docDf = {
          val gIdx = groupBy.map(withId.schema.fieldIndex)
          val schema = StructType(Seq(
            StructField("__gk", StringType),
            StructField("__tk_id", LongType), StructField("__doc", StringType)))
          withId.mapPartitions { it =>
            it.map(r => Row(gIdx.map(i => String.valueOf(r.get(i))).mkString("\u0001"),
              r.getAs[Long]("__tk_id"), serLocal(r)))
          }(Encoders.row(schema))
        }
        val a = docDf.toDF("gk1", "id1", "doc1")
        val b = docDf.toDF("gk2", "id2", "doc2")
        val pairs = a.join(b, col("gk1") === col("gk2") && col("id1") < col("id2"))
        val cmpSchema = StructType(Seq(
          StructField("id1", LongType), StructField("id2", LongType),
          StructField("win1", BooleanType)))
        val lmLocal = lm
        val instrLocal = instruction
        val compared = pairs.mapPartitions { it =>
          it.grouped(lmLocal.maxBatchSize).flatMap { rows =>
            val reqs = rows.map(r => LMRequest(
              Prompts.compareFormatter(r.getString(2), r.getString(5), instrLocal)))
            lmLocal.complete(reqs).lazyZip(rows).map { (res1, r) =>
              Row(r.getLong(1), r.getLong(4), firstWins(res1.output))
            }
          }
        }(Encoders.row(cmpSchema))
        val votes = compared.select(
            when(col("win1"), col("id1")).otherwise(col("id2")).as("__tk_id"))
          .groupBy("__tk_id").agg(count(lit(1)).as("__wins"))
        if (groupBy.isEmpty) {
          // Bounded: orderBy+limit k lowers to TakeOrderedAndProject, the
          // final rank window only ever sees ≤k rows.
          val ranked = withId.join(votes, Seq("__tk_id"), "left")
            .na.fill(0L, Seq("__wins"))
            .orderBy(col("__wins").desc, col("__tk_id"))
            .limit(k)
            .withColumn(rankCol, row_number().over(
              org.apache.spark.sql.expressions.Window.orderBy(col("__wins").desc, col("__tk_id"))))
          ranked.drop("__tk_id", "__wins")
        } else {
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(groupBy.map(col): _*).orderBy(col("__wins").desc, col("__tk_id"))
          withId.join(votes, Seq("__tk_id"), "left")
            .na.fill(0L, Seq("__wins"))
            .withColumn(rankCol, row_number().over(w))
            .filter(col(rankCol) <= k)
            .drop("__tk_id", "__wins")
        }

      case other => throw new IllegalArgumentException(s"Unknown semTopK method: $other")
    }
  }
}
