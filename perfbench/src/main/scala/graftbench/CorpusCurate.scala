package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Persist
import graft.functions.{TextFunctions => TF}
import graft.operators.{CorpusPrep, Dedup, NgramLm, QualityClassifier}

/** A batch training-data release over a generated web corpus: domain quota
  * → quality signals → language naive Bayes → order-5 n-gram perplexity →
  * minhash dedup → token-budget shards → parquet. One operation is one
  * full release pass over the input. No LM calls, no per-batch commits.
  */
final class CorpusCurate(ctx: Ctx) extends Workload {
  import CorpusCurate._
  val name = "corpus_curate"
  private val spark = ctx.spark
  private var corpus: Gen.Corpus = _
  private var input: String = _
  private val quota = math.ceil(QuotaShare * Docs / Gen.Domains).toInt

  // Frames of the last operation, kept for its checks.
  private var dedupInput: DataFrame = _
  private var pairs: DataFrame = _
  private var pairsTotal = 0.0

  def inputProps: Map[String, Any] = corpus.props ++ Map(
    "domain_quota" -> quota, "tokens_per_shard" -> TokensPerShard)

  def setup(r: Int): Unit = {
    corpus = Gen.corpus(ctx.seed, Docs)
    input = ctx.dir(s"corpus-input-$r")
    import spark.implicits._
    corpus.docs.toDF().repartition(4).write.mode("overwrite").parquet(input)
  }

  /** One pass over a slice of the corpus: the same code paths as a
    * measured pass, at a fraction of its cost.
    */
  def warmup(): Unit = {
    val slice = ctx.dir("corpus-warmup")
    spark.read.parquet(input).limit(WarmupDocs).write.mode("overwrite").parquet(slice)
    pass(slice, Tracer.off)
    Workload.releaseBlocks(spark)
  }

  private def release = ctx.dir("release")

  def op(i: Int, tr: Tracer): OpOut = {
    val t0 = System.nanoTime()
    pass(input, tr)
    OpOut(Docs.toLong, (System.nanoTime() - t0) / 1e6)
  }

  private def pass(source: String, tr: Tracer): Unit = {
    val docs = spark.read.parquet(source)
    val capped = tr.span("operators.corpusprep.quota") {
      Persist.stage(CorpusPrep.quotaPerGroup(docs, "domain", "id", quota))
    }
    val sig = tr.span("functions.signals") {
      Persist.stage(capped.select(col("id"), col("lang"), col("domain"), col("text"),
        TF.tokenCount(col("text")).cast("long").as("nw"),
        TF.meanWordLen(col("text")).as("mwl"),
        TF.symbolWordRatio(col("text")).as("sym"),
        TF.alphaWordFraction(col("text")).as("alpha")))
    }
    val clean = sig.filter(col("nw").between(50L, 100000L) &&
        col("mwl").between(3.0, 10.0) && col("sym") <= 0.1 && col("alpha") >= 0.8 &&
        !lower(col("text")).contains("lorem ipsum") && !col("text").contains("{"))
      .select("id", "lang", "domain", "text")
    val routed = tr.span("operators.qualityclassifier.lang_nb") {
      val m = QualityClassifier.trainLangNB(clean, "text", "lang")
      Persist.stage(QualityClassifier.scoreLangNB(clean, "text", m)
        .filter(col("lang_pred") === col("lang") && col("lang_margin") >= 1.0)
        .select("id", "lang", "domain", "text"))
    }
    val lm = tr.span("operators.ngramlm.fit") {
      NgramLm.fitNgramLM(routed, "text", order = 5, minCount = 2L)
    }
    val scored = tr.span("operators.ngramlm.score") {
      Persist.stage(NgramLm.perplexity(routed, "text", lm).drop("lm_ll", "lm_tokens"))
    }
    val pairs = tr.span("operators.dedup.minhash_pairs") {
      Persist.stage(Dedup.minhashPairs(scored, "text", "id", threshold = 0.5,
        targetRecall = 1.0))
    }
    val kept = tr.span("operators.dedup.drop_by_pairs") {
      Persist.stage(Dedup.dropDuplicatesByPairs(scored, "id", pairs))
    }
    tr.span("operators.corpusprep.shard_write") {
      val sharded = CorpusPrep.shardByTokenBudget(
        kept.withColumn("n_tok", TF.tokenCount(col("text")).cast("long")),
        "id", col("n_tok"), TokensPerShard)
      CorpusPrep.writeCorpus(sharded.select("id", "lang", "domain", "ppl", "n_tok", "shard", "text"),
        release, partitionCols = Seq("shard"))
    }
    dedupInput = scored
    this.pairs = pairs
  }

  def check(i: Int): Checks = {
    val out = spark.read.parquet(release).select("id", "n_tok", "shard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).longValue)).sortBy(_._1)
    val outIds = out.map(_._1).toSet
    val before = dedupInput.select("id").collect().map(_.getLong(0)).toSet
    pairsTotal += pairs.count()
    val clusters = Checks.of("every planted exact-duplicate cluster keeps one survivor") {
      corpus.exactClusters.forall { c =>
        val survivors = c.count(outIds)
        survivors == (if (c.exists(before)) 1 else 0)
      }
    }
    val junk = Checks.of("no planted junk page survives") {
      !outIds.exists(corpus.junk)
    }
    val words = corpus.docs.map(d => d.id -> d.text.split(" ").length.toLong).toMap
    val shards = Checks.of("shards respect the token budget") {
      var cum = 0L
      val sums = scala.collection.mutable.HashMap.empty[Long, (Long, Long)]
      val exact = out.forall { case (id, nTok, shard) =>
        val ok = nTok == words(id) && shard == cum / TokensPerShard
        cum += nTok
        val (s, mx) = sums.getOrElse(shard, (0L, 0L))
        sums(shard) = (s + nTok, math.max(mx, nTok))
        ok
      }
      exact && sums.values.forall { case (s, mx) => s < TokensPerShard + mx }
    }
    clusters ++ junk ++ shards
  }

  override def layerExtras: Map[String, Double] =
    Map("operators.dedup.pairs" -> pairsTotal)

  override def resetPhase(): Unit = pairsTotal = 0.0
}

object CorpusCurate {
  val Docs = 1000
  val WarmupDocs = 250
  val TokensPerShard = 20000L
  /** Per-domain cap as a multiple of the even share; the skewed head
    * domains exceed it.
    */
  val QuotaShare = 1.5
}
