package graft

import graft.core.Bounded
import graft.operators.{CorpusPrep, EmbedOps, Evals, NgramLm, QualityClassifier, Tokenizer}
import graft.tools.JobCounter

/** The one driver-state bound: what [[Bounded.pull]] lets through, that
  * every bounded fit refuses in the one format, and the jobs the fits that
  * pull through it spend.
  */
class BoundedSpec extends SparkSpec {
  import spark.implicits._

  private val langWords = Map(
    "en" -> Seq("the", "and", "of", "water", "house", "green", "river", "light"),
    "de" -> Seq("der", "und", "das", "wasser", "haus", "grün", "fluss", "licht"),
    "fr" -> Seq("le", "et", "la", "eau", "maison", "vert", "rivière", "lumière"))

  /** 2,000 documents in 4 parquet files: id, text, lang (3 classes), label
    * (boolean) and grp (5 groups). Every 11th word carries a number, so
    * the vocabulary is a few hundred words.
    */
  private lazy val corpusDir: String = {
    val langs = langWords.keys.toSeq.sorted
    val rows = (0 until 2000).map { i =>
      val lang = langs(i % 3)
      val ws = langWords(lang)
      val text = (0 until 8 + i % 5).map { j =>
        ws((i * 7 + j * 3) % ws.size) + (if ((i + j) % 11 == 0) s"${i % 97}" else "")
      }.mkString(" ")
      (i.toLong, text, lang, i % 2 == 0, s"g${i % 5}")
    }
    val dir = java.nio.file.Files.createTempDirectory("boundedspec").toString + "/docs"
    rows.toDF("id", "text", "lang", "label", "grp").repartition(4).write.parquet(dir)
    dir
  }

  private def docs = spark.read.parquet(corpusDir)

  /** `body` refuses with `<op>: more than <max> <what> (<knob> bound) — <hint>`. */
  private def refuses(op: String, max: Long, knob: String)(body: => Any): Unit = {
    val e = intercept[IllegalArgumentException](body)
    val format = ("(?s)requirement failed: \\Q" + s"$op: more than $max " +
      "\\E.+ \\(\\Q" + knob + "\\E bound\\) — .+").r
    assert(format.matches(e.getMessage), e.getMessage)
  }

  test("pull collects at most max + 1 rows of a counting source, then refuses") {
    val produced = spark.sparkContext.longAccumulator("produced")
    val source = spark.sparkContext.parallelize(0 until 4000, 4)
      .map { i => produced.add(1); i }.toDF("i")
    val e = intercept[IllegalArgumentException](
      Bounded.pull(source, 10, "op", "rows", "maxRows", "hint"))
    assert(e.getMessage == "requirement failed: op: more than 10 rows (maxRows bound) — hint")
    // The source yielded no more than max + 1 rows, so no more reached the
    // driver; a plain collect would have pulled all 4,000.
    assert(produced.value <= 11L, s"the source yielded ${produced.value} rows")
    produced.reset()
    val all = Bounded.pull(source, 4000, "op", "rows", "maxRows", "hint")
    assert(all.map(_.getInt(0)).toSeq == (0 until 4000))
    assert(produced.value == 4000L)
  }

  test("pull with per bounds units of per rows each, and refuses a product past one limit") {
    val pairs = Seq(("a", 1), ("a", 2), ("b", 1), ("b", 2), ("c", 1)).toDF("u", "k")
    val units = (rows: Array[org.apache.spark.sql.Row]) => rows.map(_.getString(0)).distinct.length
    assert(Bounded.pull(pairs, 3, "op", "units", "maxUnits", "hint", per = 2,
      units = units).length == 5)
    // 5 rows ≤ 2 × 3, but 3 units > 2.
    refuses("op", 2, "maxUnits")(
      Bounded.pull(pairs, 2, "op", "units", "maxUnits", "hint", per = 3, units = units))
    // 5 rows > 2 × 2.
    refuses("op", 2, "maxUnits")(
      Bounded.pull(pairs, 2, "op", "units", "maxUnits", "hint", per = 2, units = units))
    val (e, jobs) = JobCounter.around(spark.sparkContext)(
      intercept[IllegalArgumentException](
        Bounded.pull(pairs, Int.MaxValue / 2, "op", "units", "maxUnits", "hint", per = 3)))
    assert(e.getMessage.contains("past one pull"), e.getMessage)
    assert(jobs.isEmpty, jobs)
    Bounded.check(3, 3, "op", "units", "maxUnits", "hint")
    refuses("op", 2, "maxUnits")(Bounded.check(3, 2, "op", "units", "maxUnits", "hint"))
  }

  test("every bounded fit refuses in the one format at a tiny bound") {
    val d = docs
    refuses("freqVocab", 3, "maxPieces")(
      Tokenizer.freqVocab(d, "text", topWords = 2, maxPieces = 3))
    refuses("trainBpe", 3, "maxWordEntries")(
      Tokenizer.trainBpe(d, "text", 2, maxWordEntries = 3))
    refuses("trainUnigram", 3, "maxWordEntries")(
      Tokenizer.trainUnigram(d, "text", 5, maxWordEntries = 3))
    refuses("trainNaiveBayes", 3, "maxVocabEntries")(
      QualityClassifier.trainNaiveBayes(d, "text", "label", maxVocabEntries = 3))
    refuses("trainLangNB", 2, "maxClasses")(
      QualityClassifier.trainLangNB(d, "text", "lang", maxClasses = 2))
    refuses("trainLangNB", 3, "maxVocabEntries")(
      QualityClassifier.trainLangNB(d, "text", "lang", maxVocabEntries = 3))
    // 4 grams in 4 (gram, class) rows: the pull of at most 3 × 2 rows
    // passes, and the driver-side gram count refuses.
    refuses("trainLangNB", 3, "maxVocabEntries")(QualityClassifier.trainLangNB(
      Seq(("ab", "x"), ("cd", "y")).toDF("text", "lang"), "text", "lang",
      ngramLens = Seq(1), maxVocabEntries = 3))
    refuses("fitDsir", 3, "maxVocabEntries")(QualityClassifier.fitDsir(
      d, d.filter($"label"), "text", maxVocabEntries = 3))
    refuses("temperatureFractions", 2, "maxGroups")(
      CorpusPrep.temperatureFractions(d, "grp", 100, 0.5, maxGroups = 2))
    refuses("selectByTokenBudget", 2, "maxScoreBuckets")(
      CorpusPrep.selectByTokenBudget(d.withColumn("tok", $"id" % 7),
        "grp", "tok", "id", 100L, maxScoreBuckets = 2))
    refuses("fitUnigram", 3, "maxVocabEntries")(
      NgramLm.fitNgramLM(d, "text", order = 3, maxVocabEntries = 3))
    Seq(2, 3).foreach(order => refuses("fitNgramLM", 3, "maxNgramEntries")(
      NgramLm.fitNgramLM(d, "text", order = order, maxNgramEntries = 3)))
    val scored = d.select($"id", ($"id" % 5).as("s"), ($"id" % 3).as("t"),
      ($"id" % 2 === 0).as("y"), $"grp")
    refuses("rocAuc", 2, "maxDistinctScores")(
      Evals.rocAuc(scored, "s", "y", maxDistinctScores = 2))
    refuses("kendallTauB", 2, "maxDistinctPairs")(
      Evals.kendallTauB(scored, "s", "t", maxDistinctPairs = 2))
    refuses("scorePercentRank", 2, "maxScoreBuckets")(
      CorpusPrep.scorePercentRank(scored, "s", maxScoreBuckets = 2))
    refuses("scorePercentRankByGroup", 2, "maxScoreBuckets")(
      CorpusPrep.scorePercentRankByGroup(scored, "grp", "s", maxScoreBuckets = 2))
    refuses("thresholdForPrecision", 2, "maxDistinctScores")(
      QualityClassifier.thresholdForPrecision(scored, "s", "y", 0.5,
        maxDistinctScores = 2))
  }

  test("prunePrototypes and bradleyTerry refuse in the one format at a tiny bound") {
    val cents = Array(Array(1f, 0f), Array(0f, 1f))
    val vecs = (0 until 8).map(i => (i.toLong, Array(1f, 0.1f * i)))
      .toDF("id", EmbedOps.vecCol("emb"))
    refuses("prunePrototypes", 2, "maxBuckets")(EmbedOps.prunePrototypes(
      vecs, "emb", "id", cents, keepFraction = 0.5, maxBuckets = 2))
    // 4 models in 12 (winner, loser) rows: more than 2 × 2 rows come back.
    val ms = Seq("m1", "m2", "m3", "m4")
    val round = for (a <- ms; b <- ms if a < b) yield (a, b)
    val games = (round.map { case (a, b) => (a, b, "a") } ++
      round.map { case (a, b) => (a, b, "b") }).toDF("ma", "mb", "w")
    refuses("bradleyTerry", 2, "maxModels")(
      Evals.bradleyTerry(games, "ma", "mb", "w", maxModels = 2))
    // 3 models in 3 rows: the pull of at most 2 × 2 rows passes, and the
    // driver-side model count refuses.
    val cycle = Seq(("m1", "m2", "a"), ("m2", "m3", "a"), ("m3", "m1", "a"))
      .toDF("ma", "mb", "w")
    refuses("bradleyTerry", 2, "maxModels")(
      Evals.bradleyTerry(cycle, "ma", "mb", "w", maxModels = 2))
  }

  /** Jobs `fit` runs on the fixed corpus, read before counting starts. */
  private def jobsOf(fit: org.apache.spark.sql.DataFrame => Any): Seq[JobCounter.Job] = {
    val d = docs
    JobCounter.around(spark.sparkContext)(fit(d))._2
  }

  test("job budgets of the fits that pull through Bounded on a fixed corpus") {
    val budgets = Seq[(String, Int, org.apache.spark.sql.DataFrame => Any)](
      ("trainLangNB", 5, QualityClassifier.trainLangNB(_, "text", "lang")),
      ("trainNaiveBayes", 4, QualityClassifier.trainNaiveBayes(_, "text", "label")),
      ("trainBpe", 2, Tokenizer.trainBpe(_, "text", 8)),
      ("temperatureFractions", 2, CorpusPrep.temperatureFractions(_, "grp", 500L, 0.5)))
    val ran = budgets.map { case (name, budget, fit) =>
      val jobs = jobsOf(fit)
      info(s"$name: ${jobs.size} jobs")
      (name, budget, jobs)
    }
    assert(ran.forall(_._3.nonEmpty))
    val over = ran.filter { case (_, budget, jobs) => jobs.size > budget }
    if (over.nonEmpty) fail(over.map { case (name, budget, jobs) =>
      s"$name ran ${jobs.size} jobs, budget $budget:\n${jobs.mkString("\n")}"
    }.mkString("\n"))
  }
}
