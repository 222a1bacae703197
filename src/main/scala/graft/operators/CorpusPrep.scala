package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Bounded

/** Corpus-preparation operators for training-data pipelines: deterministic
  * sampling, per-group quotas (data mixing), and sequence packing. All
  * native Spark expressions/windows — no UDFs, no driver loops — and
  * deliberately SQL-portable so each is DuckDB-oracle-checkable.
  *
  * Scale notes: sampling is a pure filter (pushes to the scan, no shuffle);
  * quota and packing shuffle once on their group key — the same layout a
  * 1000-executor mixing job wants. Nothing here collects to the driver.
  */
object CorpusPrep {

  /** The shared membership hash of [[deterministicSample]] and
    * [[mixByFractions]]: a '0'-prefixed 16-bit lowercase-hex md5 prefix of
    * `salt|key`, compared lexicographically against [[cutHex]] thresholds
    * (fixed-width lowercase hex ⇒ lexicographic == numeric; the extra '0'
    * digit lets fraction 1.0 render as "10000" and clear every hash).
    * Rendered identically by Spark and ANSI oracles.
    */
  private[graft] def hashPrefix(keyCol: Column, salt: String): Column =
    concat(lit("0"), substring(md5(to_binary(
      concat_ws("|", lit(salt), keyCol.cast("string")), lit("utf-8"))), 1, 4))

  private[graft] def cutHex(fraction: Double): String =
    f"${math.round(fraction * 65536.0).toInt}%05x"

  /** Column-typed [[cutHex]] for PER-ROW keep probabilities
    * ([[QualityClassifier.importanceResample]]): same %05x rendering, same
    * half-up rounding, so a constant column matches cutHex exactly. Both
    * variants and [[hashPrefix]] are the single definition of the
    * deterministic-membership convention — oracles replay these byte
    * recipes, so a second hand-rolled copy could silently drift.
    */
  private[graft] def cutHexCol(fraction: Column): Column =
    format_string("%05x", round(fraction * 65536.0).cast("int"))

  /** Deterministic content-hash sampling: keep a row iff the first 4 hex
    * chars of `md5(salt|key)` fall under `fraction` of the 16-bit space.
    * Unlike `df.sample`, membership is a pure function of (salt, key): the
    * same rows survive on any cluster, any partitioning, any engine — the
    * reproducibility property a training-corpus sample needs. Fraction
    * resolution is 1/65536.
    */
  def deterministicSample(df: DataFrame, keyCol: String, fraction: Double,
      salt: String = ""): DataFrame = {
    require(fraction >= 0.0 && fraction <= 1.0, s"fraction $fraction outside [0,1]")
    if (fraction >= 1.0) df
    else df.filter(hashPrefix(col(keyCol), salt) < cutHex(fraction))
  }

  /** Weighted corpus mixing: per-group deterministic sampling rates — the
    * "downsample web to 30%, keep books at 100%" step of assembling a
    * training mixture. Same pure-function-of-(salt, key) membership as
    * [[deterministicSample]] (reproducible on any cluster/engine), with
    * the cut chosen per group; groups absent from `fractions` keep
    * `defaultFraction`. A pure filter — no shuffle, and the hex-prefix
    * compare pushes to the scan.
    */
  def mixByFractions(df: DataFrame, groupCol: String, fractions: Map[String, Double],
      keyCol: String, salt: String = "", defaultFraction: Double = 0.0): DataFrame = {
    (fractions.values ++ Seq(defaultFraction)).foreach(f =>
      require(f >= 0.0 && f <= 1.0, s"fraction $f outside [0,1]"))
    val cut = fractions.foldLeft(lit(cutHex(defaultFraction))) { case (acc, (g, f)) =>
      when(col(groupCol) === g, lit(cutHex(f))).otherwise(acc)
    }
    df.filter(hashPrefix(col(keyCol), salt) < cut)
  }

  /** Per-group sampling fractions for TEMPERATURE-scaled mixing (XLM,
    * arXiv 1901.07291 §3.1: sample groups toward q_g ∝ n_g^alpha, the
    * low-resource upweighting every multilingual corpus recipe uses;
    * UniMax, arXiv 2304.09151, is the `redistribute` closure): aim the
    * total at `targetRows` with per-group expected counts t_g = T·q_g.
    * A group whose share exceeds its size clamps at 1.0; with
    * `redistribute` the excess budget WATER-FILLS into the remaining
    * groups (re-normalizing q over them, at most #groups rounds — the
    * UniMax budget closure), without it the clamped mass is simply lost
    * (the one-shot XLM form, exactly SQL-expressible). Returns
    * (group, n, fraction) rows, group-name-ordered; float-op shape is
    * pinned — weights pow(n, alpha), weight sum as a group-name-ordered
    * LEFT FOLD, fraction = (B · (w / sw)) / n — so an oracle can replay
    * the arithmetic bit-for-bit.
    */
  def temperatureFractions(df: DataFrame, groupCol: String, targetRows: Long,
      alpha: Double, redistribute: Boolean = true,
      maxGroups: Int = 100000): Seq[(String, Long, Double)] = {
    require(targetRows >= 0, s"temperatureFractions: targetRows $targetRows < 0")
    require(alpha >= 0.0 && alpha <= 1.0,
      s"temperatureFractions: alpha $alpha outside [0,1] (1 = proportional, " +
        "0 = equal budget per group)")
    val pulled = Bounded.pull(df.groupBy(col(groupCol).cast("string").as("__g"))
        .agg(count(lit(1)).as("__n")), maxGroups, "temperatureFractions",
      s"groups in $groupCol", "maxGroups",
      "the group histogram must fit the driver; coarsen the group column")
    require(!pulled.exists(_.isNullAt(0)),
      s"temperatureFractions: null group in $groupCol — filter or impute first")
    val counts = pulled.map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
    var open = counts
    var fixed = Map.empty[String, Double]
    var budget = targetRows.toDouble
    var rounds = 0
    while (open.nonEmpty && rounds <= counts.size) {
      // Left fold in group-name order — the oracle's list_reduce shape.
      val sw = open.map { case (_, n) => math.pow(n.toDouble, alpha) }
        .foldLeft(0.0)(_ + _)
      val frac = open.map { case (g, n) =>
        val f = if (sw == 0.0) 0.0
                else (budget * (math.pow(n.toDouble, alpha) / sw)) / n
        (g, n, f)
      }
      val clamped = frac.filter(_._3 >= 1.0)
      if (clamped.isEmpty || !redistribute) {
        fixed ++= frac.map { case (g, _, f) => g -> math.min(1.0, f) }
        open = Nil
      } else {
        fixed ++= clamped.map { case (g, _, _) => g -> 1.0 }
        budget -= clamped.map(_._2).sum.toDouble
        open = open.filterNot { case (g, _) => fixed.contains(g) }
      }
      rounds += 1
    }
    counts.map { case (g, n) => (g, n, fixed.getOrElse(g, 0.0)) }
  }

  /** Apply [[temperatureFractions]] as a deterministic mixture: the same
    * pure-function-of-(salt, key) hex-cut membership as
    * [[mixByFractions]] — a pure filter, no shuffle beyond the bounded
    * group histogram, reproducible on any cluster or engine.
    */
  def mixByTemperature(df: DataFrame, groupCol: String, keyCol: String,
      targetRows: Long, alpha: Double, salt: String = "",
      redistribute: Boolean = true, maxGroups: Int = 100000): DataFrame = {
    val fr = temperatureFractions(df, groupCol, targetRows, alpha,
      redistribute, maxGroups)
    mixByFractions(df.withColumn("__mt_g", col(groupCol).cast("string")),
        "__mt_g", fr.map { case (g, _, f) => g -> f }.toMap, keyCol, salt)
      .drop("__mt_g")
  }

  /** Per-group quota (data mixing): keep at most `quota` rows per value of
    * `groupCol`, picked in `orderCol` order — the "cap each domain/language
    * at N documents" step of corpus mixing. One shuffle on the group key;
    * Spark lowers the rank filter to a two-phase WindowGroupLimit, so only
    * ≤ quota rows per group survive the partial stage.
    *
    * `tieBreak`: appended to the window ordering, same contract as
    * [[quotaPerGroupTokens]]. If `orderCol` can repeat within a group, pass
    * a unique column here — otherwise which tied rows survive the cap is
    * partition-order-dependent, breaking the any-cluster reproducibility
    * the rest of the mixing family guarantees.
    */
  def quotaPerGroup(df: DataFrame, groupCol: String, orderCol: String,
      quota: Int, tieBreak: Seq[Column] = Nil): DataFrame = {
    require(quota >= 1, s"quota $quota must be >= 1")
    val w = Window.partitionBy(col(groupCol)).orderBy(col(orderCol) +: tieBreak: _*)
    df.withColumn("__qr", row_number().over(w))
      .filter(col("__qr") <= quota)
      .drop("__qr")
  }

  /** Per-group TOKEN-budget quota — the mixing cap as a real corpus
    * recipe states it ("at most N tokens of web per epoch"), not a doc
    * count: keep a document iff its exclusive running token total (in
    * `orderCol` order within the group) is still under `maxTokens`, so the
    * group's kept set always includes the document that crosses the budget
    * and nothing after it. One shuffle on the group key; the running sum is
    * the same windowed cumsum as [[packSequences]].
    *
    * `tieBreak`: appended to the window ordering. If `orderCol` can repeat
    * within a group, pass a unique column here — otherwise which tied doc
    * crosses the budget is partition-order-dependent, breaking the
    * any-cluster reproducibility the sibling mixing operators guarantee.
    */
  def quotaPerGroupTokens(df: DataFrame, groupCol: String, orderCol: String,
      tokenCol: String, maxTokens: Long, tieBreak: Seq[Column] = Nil): DataFrame = {
    require(maxTokens >= 1, s"maxTokens $maxTokens must be >= 1")
    val w = Window.partitionBy(col(groupCol)).orderBy(col(orderCol) +: tieBreak: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__run", sum(col(tokenCol)).over(w) - col(tokenCol))
      .filter(col("__run") < maxTokens)
      .drop("__run")
  }

  /** Sequence packing by cumulative token bins: within each `groupCol`
    * partition (documents ordered by `orderCol`), assign `packIdCol` =
    * ⌊(exclusive running token total) / maxTokens⌋. Consecutive docs share
    * a pack until the budget rolls over — the contiguous variant of
    * training-sequence packing (docs longer than `maxTokens` own their
    * packs). Deterministic, one shuffle on the group key, and each pack id
    * is computable without seeing other groups.
    */
  def packSequences(df: DataFrame, groupCol: String, orderCol: String,
      tokenCol: String, maxTokens: Int, packIdCol: String = "pack_id"): DataFrame = {
    require(maxTokens >= 1, s"maxTokens $maxTokens must be >= 1")
    val w = Window.partitionBy(col(groupCol)).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn(packIdCol,
      floor((sum(col(tokenCol)).over(w) - col(tokenCol)) / maxTokens).cast("long"))
  }

  /** Deterministic weighted sampling WITHOUT replacement — Efraimidis &
    * Spirakis 2006 ("Weighted random sampling with a reservoir"): keep
    * the k rows with the largest u^(1/w), u uniform — THE one-pass
    * distributed weighted sampler (each partition forwards its own top-k
    * candidates; no sequential reservoir state). The randomness is
    * derandomized the graft way: u comes from md5(salt|id) — the 52-bit
    * hex prefix over 2^52, offset by +0.5 so u ∈ (0,1) strictly — making
    * the sample a pure function of (salt, id, weight), reproducible on
    * any cluster or engine, and salt-rotatable for fresh draws. Keys
    * compare in LOG space (ln u / w, monotone in u^(1/w) for w > 0 —
    * avoids pow()'s precision cliffs); ties break on the id.
    *
    * Composes with the weight-producing ops: [[graft.operators.Dedup
    * .softDedupWeights]], DSIR importance weights, quality scores. Rows
    * with non-positive weight are never sampled (w ≤ 0 has no defined
    * u^(1/w) draw). Shape: one narrow map + Spark's distributed
    * TakeOrdered — no shuffle of the corpus, driver holds k rows.
    */
  def weightedSampleK(df: DataFrame, idCol: String, weightCol: String,
      k: Int, salt: String = "", keyCol: String = "sample_key"): DataFrame = {
    require(k >= 1, s"weightedSampleK: k $k must be >= 1")
    val h = md5(to_binary(
      concat_ws("|", lit(salt), col(idCol).cast("string")), lit("utf-8")))
    val n = conv(substring(h, 1, 13), 16, 10).cast("long")
    val u = (n.cast("double") + 0.5) / lit(4503599627370496.0) // 2^52
    df.filter(col(weightCol) > 0)
      .withColumn(keyCol, log(u) / col(weightCol).cast("double"))
      .orderBy(col(keyCol).desc, col(idCol))
      .limit(k)
  }

  /** Data-constrained repeat scheduling (Muennighoff et al. 2023, arXiv
    * 2305.16264 — "Scaling Data-Constrained Language Models"): when the
    * training-token budget exceeds the corpus, REPEAT data. The paper
    * measures near-fresh value up to ~4 epochs and rapidly decaying value
    * beyond, so full epochs cap at `maxEpochs`; the sub-epoch remainder
    * becomes ONE partial epoch — a deterministic hash-ordered corpus
    * prefix whose token mass just crosses the remainder (the
    * [[quotaPerGroupTokens]] crossing convention: the crossing doc is
    * kept). Hash order means the partial epoch is an unbiased sample, a
    * pure function of (salt, id) — same docs on any cluster or engine —
    * and a salt rotation redraws it.
    *
    * Returns the NARROW schedule (`idCol`, `tokenCol`, `repeatCol`) for
    * docs with ≥ 1 repeat — join it back by id where the full row is
    * needed. Narrow by design: the prefix sum range-exchanges and
    * materializes its input, and shipping document TEXT through a
    * global-order exchange for a per-doc integer is an avoidable cost
    * (measured at ×100 on 500k docs: 19.8 s full-row → ~11 s narrow;
    * the remainder splits ~evenly between the cold corpus scan and the
    * prefix sum's RDD bridge, both linear and partition-parallel). The
    * narrow frame is STAGED so the total aggregate, the range sampling
    * pass, and the prefix-sum pass read one materialization instead of
    * recomputing the token expression — typically a scan over the text
    * — three times. Shape: one aggregate for
    * the corpus total, and — only when a partial epoch exists —
    * [[runningTotal]]'s range-partitioned prefix sum over the hash
    * order (never a single-partition `ORDER BY` window). Budget
    * beyond `maxEpochs` full epochs is NOT schedulable (the paper's
    * decay), and the refusal is loud: a warning names the unspent tokens.
    */
  def repeatSchedule(df: DataFrame, idCol: String, tokenCol: String,
      budgetTokens: Long, maxEpochs: Int = 4, salt: String = "",
      repeatCol: String = "n_repeats"): DataFrame = {
    require(budgetTokens >= 0, s"repeatSchedule: budget $budgetTokens < 0")
    require(maxEpochs >= 1, s"repeatSchedule: maxEpochs $maxEpochs must be >= 1")
    val (staged, blocks) = graft.core.Persist.stageTracked(
      df.select(col(idCol), col(tokenCol)))
    try {
      val totRow = staged.agg(sum(col(tokenCol).cast("long"))).head()
      require(!totRow.isNullAt(0) && totRow.getLong(0) > 0,
        "repeatSchedule: corpus has no tokens")
      val total = totRow.getLong(0)
      val fullEpochs = math.min(budgetTokens / total, maxEpochs.toLong)
      val remaining =
        if (fullEpochs >= maxEpochs) 0L else budgetTokens - fullEpochs * total
      if (fullEpochs >= maxEpochs && budgetTokens > maxEpochs * total)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"repeatSchedule: budget $budgetTokens exceeds maxEpochs=$maxEpochs " +
            s"× corpus $total tokens — ${budgetTokens - maxEpochs * total} " +
            "tokens left unscheduled (repetition value decays past ~4 epochs; " +
            "raise maxEpochs deliberately or add data)")
      if (remaining == 0L)
        // Independent of the staged frame (a cheap narrow re-read), so
        // the lazy result stays valid after the finally-unstage.
        df.select(col(idCol), col(tokenCol))
          .withColumn(repeatCol, lit(fullEpochs)).filter(col(repeatCol) >= 1)
      else {
        // Unique deterministic order key: full md5 then the id itself (the
        // 4-hex hashPrefix is a membership CUT, too collision-prone to
        // ORDER by).
        val ordered = staged.withColumn("__ord", concat(
          md5(to_binary(concat_ws("|", lit(salt), col(idCol).cast("string")),
            lit("utf-8"))),
          lit("|"), col(idCol).cast("string")))
        // runningTotal localCheckpoints eagerly, so the returned plan
        // reads the checkpoint, not the staged blocks.
        runningTotal(ordered, "__ord", col(tokenCol), "__rt")
          .withColumn(repeatCol, lit(fullEpochs) +
            when(col("__rt") - col(tokenCol).cast("long") < remaining, 1L)
              .otherwise(0L))
          .filter(col(repeatCol) >= 1)
          .drop("__ord", "__rt")
      }
    } finally graft.core.Persist.unstage(df.sparkSession, blocks)
  }

  /** Sentence-boundary passage chunking — the RAG chunker that never cuts
    * mid-sentence: split on `sep`, then pack CONSECUTIVE sentences into
    * chunks of ~`maxTokens` with the same exclusive-cumulative-sum bin id
    * as [[packSequences]] (the budget-crossing sentence stays in the chunk
    * it started, so a chunk overflows by at most one sentence; a single
    * sentence longer than the budget owns its chunk). Reassembly restores
    * `sep` between sentences WITHIN a chunk, so JOINING a document's chunks
    * in order with `sep` reproduces its text byte-for-byte (the separator
    * at each chunk boundary is not stored in either chunk). Shape: per-row
    * split, one per-doc
    * window (narrow after the id shuffle), one (id, chunk) reassembly
    * shuffle. Returns (idCol, chunk_id, chunk_text, n_tokens).
    */
  def chunkBySentences(df: DataFrame, idCol: String, textCol: String,
      maxTokens: Int, sep: String = ". "): DataFrame = {
    require(maxTokens >= 1, s"maxTokens $maxTokens must be >= 1")
    val sent = df.select(col(idCol), posexplode(
        split(col(textCol), java.util.regex.Pattern.quote(sep)))
      .as(Seq("__pos", "__sent")))
      .withColumn("__tok",
        graft.functions.TextFunctions.tokenCount(col("__sent")).cast("long"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sent.withColumn("chunk_id",
        floor((sum(col("__tok")).over(w) - col("__tok")) / maxTokens)
          .cast("long"))
      .groupBy(col(idCol), col("chunk_id"))
      .agg(array_join(transform(array_sort(
          collect_list(struct(col("__pos"), col("__sent")))),
        x => x("__sent")), sep).as("chunk_text"),
        sum(col("__tok")).as("n_tokens"))
  }

  /** Word counts `(word, n)` of the lowercased whitespace token stream —
    * the vocabulary-build pass shared by [[vocabTopK]] and
    * [[unigramSurprisal]]: explode + map-side partial count, one
    * aggregation shuffle on the word.
    */
  def vocabCounts(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(split(lower(trim(col(textCol))), "\\s+")).as("word"))
      // split of an empty doc yields [""] — not a word.
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("n"))

  /** Global top-k vocabulary: (word, count). The top-k lowers to
    * TakeOrderedAndProject (no global sort); ties break on the word so the
    * result is total-order deterministic.
    */
  def vocabTopK(df: DataFrame, textCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k $k must be >= 1")
    vocabCounts(df, textCol)
      .orderBy(col("n").desc, col("word"))
      .limit(k)
  }

  /** Heavy-hitters scale tier of the vocabulary pass: the single-pass,
    * fixed-memory candidate set of words with frequency above
    * `support`·total (Spark `freqItems` — the Karp/Misra-Gries one-pass
    * counter scheme, ~1/support counters per partition, merged once). May
    * contain false positives, never false negatives: every word with
    * frequency strictly above the support threshold is present. At 100 TB
    * this replaces the full vocabulary shuffle when only the head of the
    * distribution matters (stopword discovery, boilerplate tokens); gate
    * `vocab_freq_items` encodes the containment guarantee as verified
    * booleans against the exactly-counted frequent set, the
    * q11/q12-approx-tier convention.
    */
  def frequentWords(df: DataFrame, textCol: String, support: Double): Set[String] = {
    require(support > 0 && support < 1, s"support $support must be in (0, 1)")
    df.select(explode(split(lower(trim(col(textCol))), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .stat.freqItems(Seq("word"), support)
      .head().getSeq[String](0).toSet
  }

  /** Unigram surprisal — the LM-perplexity quality signal of published
    * corpus pipelines (CCNet, arXiv 1911.00359, there with a 5-gram KenLM;
    * here the unigram reference model that needs no model artifact): per
    * doc, the mean -ln p(word) against a reference vocabulary of
    * `(word -> count)` totalling `totalTokens`. In-distribution text scores
    * low, OOV-heavy gibberish scores high, repetitive boilerplate scores
    * anomalously low — filter both tails. OOV words count as `oovCount`
    * occurrences (add-one floor).
    *
    * Scale shape: the vocabulary is a bounded driver-side map riding the
    * plan as a literal (build it with [[vocabTopK]] — a capped vocab IS the
    * model), and scoring is one per-row left-to-right fold — deterministic
    * IEEE order, so a SQL oracle reproduces scores exactly; no shuffle, no
    * UDF. Empty docs yield NULL.
    *
    * The literal is BOUNDED (`maxVocabEntries`): an unbounded vocab would
    * ride every task binary and bloat plan serialization corpus-wide. A
    * caller who genuinely wants a bigger unigram model raises the bound
    * deliberately — the failure is loud, never a silent multi-GB closure.
    */
  def unigramSurprisal(df: DataFrame, textCol: String, vocab: Map[String, Long],
      totalTokens: Long, outCol: String = "surprisal",
      oovCount: Long = 1L, maxVocabEntries: Int = 1 << 18): DataFrame = {
    require(vocab.nonEmpty, "unigramSurprisal: empty vocabulary")
    require(vocab.size <= maxVocabEntries,
      s"unigramSurprisal: vocab has ${vocab.size} entries > bound " +
        s"$maxVocabEntries — the vocab rides every task binary as a plan " +
        "literal; cap it with vocabTopK (a capped vocab IS the unigram " +
        "model) or raise maxVocabEntries deliberately")
    require(totalTokens > 0, s"totalTokens $totalTokens must be positive")
    require(oovCount >= 1, s"oovCount $oovCount must be >= 1")
    val lut = typedLit(vocab.map { case (w, c) => w -> c.toDouble })
    val total = lit(totalTokens.toDouble)
    val words = when(length(trim(col(textCol))) === 0,
        array().cast("array<string>"))
      .otherwise(split(lower(trim(col(textCol))), "\\s+"))
    df.withColumn(outCol,
      when(size(words) === 0, lit(null).cast("double"))
        .otherwise(aggregate(words, lit(0.0), (acc, w) =>
          acc - log(coalesce(element_at(lut, w), lit(oovCount.toDouble)) / total))
          / size(words)))
  }

  /** Split documents into overlapping token-window chunks — the passage
    * layer under retrieval (BM25/dense over passages, not whole docs) and
    * fixed-window training examples. Chunk starts advance by
    * `chunkTokens - overlap`; a start past `len - overlap` adds no new
    * words, so it is skipped (the previous chunk already reached the end).
    * Per-row explode only — no shuffle, and each chunk row carries the
    * parent's columns, so downstream group-bys can re-aggregate per doc.
    */
  def chunkDocuments(df: DataFrame, textCol: String, chunkTokens: Int,
      overlap: Int = 0, chunkIdCol: String = "chunk_id",
      chunkCol: String = "chunk_text"): DataFrame = {
    require(chunkTokens >= 1, s"chunkTokens $chunkTokens must be >= 1")
    require(overlap >= 0 && overlap < chunkTokens,
      s"overlap $overlap must be in [0, chunkTokens)")
    val step = chunkTokens - overlap
    // Empty/whitespace-only docs have zero tokens (split would yield [""]),
    // so they produce zero chunks — consistent with tokenCount's zero.
    val words = when(length(trim(col(textCol))) === 0,
        array().cast("array<string>"))
      .otherwise(split(trim(col(textCol)), "\\s+"))
    val n = size(col("__w"))
    df.withColumn("__w", words)
      .withColumn("__starts",
        when(n === 0, array().cast("array<int>")).otherwise(
          filter(sequence(lit(0), greatest(n - 1, lit(0)), lit(step)),
            s => s === 0 || s < n - overlap)))
      .select(col("*"), posexplode(col("__starts")).as(Seq("__cid", "__start")))
      .withColumn(chunkIdCol, col("__cid").cast("long"))
      .withColumn(chunkCol,
        concat_ws(" ", slice(col("__w"), col("__start") + 1, lit(chunkTokens))))
      .withColumn("n_chunk_tokens",
        least(lit(chunkTokens), n - col("__start")).cast("long"))
      .drop("__w", "__starts", "__cid", "__start")
  }

  /** One-pass corpus profile: per group, the health numbers a mixing or
    * monitoring job reads before touching 100 TB — document and exact-dup
    * counts (whitespace-normalized md5 fingerprints), token totals, mean
    * quality, mean length. One aggregation shuffle on the group key with
    * map-side partials; the fingerprint distinct is the only wide state and
    * it is per-group, not global.
    *
    * Averages are computed determinism-first: every per-row stat is integer
    * (tokens, chars, quality scaled ×10⁴ then rounded), summed exactly as
    * longs, divided once — so the result is identical on any partitioning
    * or engine, which keeps the profile oracle-checkable (a naive
    * `avg(double)` is order-dependent in the last ulp).
    */
  /** Registrable domain of a URL — the grouping key of domain-level
    * corpus curation (FineWeb/RefinedWeb cap or drop whole domains:
    * SEO-spam sites contribute millions of near-identical pages, and a
    * per-PAGE filter never sees that). Pure column composition (regex +
    * hashed `InSet` membership, codegen'd, no UDF), keyed by the full
    * Public Suffix List ALGORITHM over the pinned snapshot resource
    * ([[graft.functions.Psl]] — exact/wildcard/exception rules,
    * longest-match; `site.co.uk` → `site.co.uk`, `x.kyoto.jp` →
    * `x.kyoto.jp`, `city.kobe.jp` exception honored). Falls back to
    * [[registrableDomainHeuristic]] only if the snapshot resource is
    * absent from the classpath.
    */
  def registrableDomain(url: Column): Column =
    if (graft.functions.Psl.snapshot.isEmpty) registrableDomainHeuristic(url)
    else graft.functions.Psl.registrableDomain(url)

  /** The staged DataFrame form of [[registrableDomain]] — host and label
    * array bound in their own projections so the regex extraction and
    * split evaluate once per row instead of once per chain arm. Prefer
    * this inside pipelines; the Column form exists for expression
    * contexts (SQL function registration, single-use selects).
    */
  def withRegistrableDomain(df: DataFrame, urlCol: String,
      outCol: String = "domain"): DataFrame =
    if (graft.functions.Psl.snapshot.isEmpty)
      df.withColumn(outCol, registrableDomainHeuristic(col(urlCol)))
    else graft.functions.Psl.withRegistrableDomain(df, urlCol, outCol)

  /** The pre-PSL approximation, kept as the documented no-resource
    * fallback: last two labels, or the last THREE when the second-to-last
    * label is a known second-level suffix (co/com/net/org/ac/gov/edu)
    * under a 2-letter ccTLD. Real ccTLD registries beyond that family
    * (e.g. `.jp` prefectures, `.us` states) key WRONG here — prefer the
    * PSL route whenever the snapshot ships.
    */
  def registrableDomainHeuristic(url: Column): Column = {
    val host = graft.functions.Psl.hostOf(url)
    val labels = split(host, "\\.")
    val n = size(labels)
    val sld = element_at(labels, -2)
    val tld = element_at(labels, -1)
    when(n <= 1, host)
      .when(n >= 3 &&
          sld.isin("co", "com", "net", "org", "ac", "gov", "edu") &&
          length(tld) === 2,
        concat_ws(".", element_at(labels, -3), sld, tld))
      .otherwise(concat_ws(".", sld, tld))
  }

  /** Per-domain corpus composition — (domain, n_docs, share), the table a
    * domain-curation decision reads (which domains dominate; what a cap
    * at k docs/domain would remove). One grouped aggregate + a single-row
    * broadcast stats join for the share; domain count is bounded by the
    * web, not the corpus, so the result frame stays small at any scale.
    */
  def domainStats(df: DataFrame, urlCol: String): DataFrame =
    domainStatsFromDomains(withRegistrableDomain(df, urlCol, "domain"), "domain")

  /** [[domainStats]] over an ALREADY-KEYED frame — the form a pipeline
    * that also caps/filters per domain should use, so the PSL chain runs
    * once and the keyed frame feeds both the stats and the cap (the
    * domain_cap gate's shape).
    */
  def domainStatsFromDomains(withDom: DataFrame, domainCol: String): DataFrame = {
    val stats = withDom.groupBy(col(domainCol).as("domain"))
      .agg(count(lit(1)).as("n_docs"))
    stats.crossJoin(broadcast(stats.agg(sum("n_docs").as("__total"))))
      .withColumn("share",
        round(col("n_docs").cast("double") / col("__total"), 6))
      .drop("__total")
  }

  def corpusProfile(df: DataFrame, textCol: String, groupCols: Seq[String]): DataFrame = {
    require(groupCols.nonEmpty, "corpusProfile needs at least one group column")
    val t = col(textCol)
    val TF = graft.functions.TextFunctions
    df.groupBy(groupCols.map(col): _*).agg(
      count(lit(1)).as("n_docs"),
      countDistinct(TF.fingerprint(t)).as("n_unique_docs"),
      sum(TF.tokenCount(t).cast("long")).as("total_tokens"),
      sum(round(TF.qualityScore(t) * 10000).cast("long")).as("__q4"),
      sum(length(t).cast("long")).as("__chars")
    )
    .withColumn("avg_quality",
      round(col("__q4").cast("double") / 10000.0 / col("n_docs"), 4))
    .withColumn("avg_chars",
      round(col("__chars").cast("double") / col("n_docs"), 2))
    .drop("__q4", "__chars")
  }

  /** Percent-rank calibration of a score column — "this doc's quality is
    * in the 87th percentile of the corpus" — withOUT the corpus-wide
    * single-partition window `percent_rank() OVER (ORDER BY score)`
    * collapses to. Form: one grouped count per DISTINCT score (the
    * histogram — loud refusal past `maxScoreBuckets`, same contract as
    * [[selectByTokenBudget]]), a cumulative sum over that BOUNDED frame
    * only, then a broadcast join back. Ties share a rank exactly like the
    * window definition: pct = strictly-smaller count / (n − 1).
    */
  def scorePercentRank(df: DataFrame, scoreCol: String,
      outCol: String = "score_pct",
      maxScoreBuckets: Int = 100000): DataFrame = {
    // ONE scan of the corpus: the histogram is cached, and ONE aggregate
    // over it counts its buckets, its null scores and the total.
    val counts = df.groupBy(col(scoreCol)).agg(count(lit(1)).as("__c"))
      .persist()
    try {
      val stats = counts.agg(count(lit(1)), count_if(col(scoreCol).isNull),
        coalesce(sum(col("__c")), lit(0L))).head()
      Bounded.check(stats.getLong(0), maxScoreBuckets, "scorePercentRank",
        "distinct scores", "maxScoreBuckets",
        "quantize the score first (the cumulative pass must stay driver-bounded)")
      // A null score would silently vanish in the equi-join below while
      // still inflating every other row's denominator — refuse loudly
      // (percent_rank over nulls has no portable definition anyway).
      require(stats.getLong(1) == 0L,
        s"scorePercentRank: $scoreCol contains nulls — filter or impute first")
      val total = stats.getLong(2)
      val w = Window.orderBy(col(scoreCol))
        .rowsBetween(Window.unboundedPreceding, -1)
      joinRanks(df, Seq(scoreCol), counts
          .withColumn("__below", coalesce(sum(col("__c")).over(w), lit(0L)))
          .select(col(scoreCol), col("__below")))
        .withColumn(outCol,
          if (total <= 1L) lit(0.0)
          else col("__below").cast("double") / lit((total - 1).toDouble))
        .drop("__below")
    } finally counts.unpersist()
  }

  /** `df` joined on `keys` to the rank table `ranks` (the keys plus long
    * rank columns), collected now: the table is bounded by the histogram
    * cap and destined for a broadcast anyway, so the cached histogram can
    * be freed eagerly and the caller's action never re-scans the corpus.
    */
  private def joinRanks(df: DataFrame, keys: Seq[String],
      ranks: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val schema = org.apache.spark.sql.types.StructType(ranks.schema.map(f =>
      if (keys.contains(f.name)) df.schema(f.name) else f.copy(nullable = false)))
    df.join(broadcast(spark.createDataFrame(
      spark.sparkContext.parallelize(ranks.collect().toSeq, 1), schema)), keys)
  }

  /** Per-GROUP percent-rank calibration — the within-source score
    * normalization of multi-source corpus assembly (a raw quality score is
    * only comparable inside its source/language: mixing on the raw value
    * over-prunes whichever source scores systematically lower, so recipes
    * rank within the group first and mix on the percentile). Same scale
    * shape as [[scorePercentRank]]: a bounded (group, score) histogram
    * with a loud cap, the cumulative pass over that BOUNDED frame only
    * (the window below partitions the histogram, not the corpus), and a
    * broadcast join back — never a per-group corpus window. Ties share a
    * rank: pct = strictly-smaller-within-group / (n_g − 1); a singleton
    * group scores 0.0 (the SQL percent_rank convention).
    */
  def scorePercentRankByGroup(df: DataFrame, groupCol: String,
      scoreCol: String, outCol: String = "score_pct",
      maxScoreBuckets: Int = 1000000): DataFrame = {
    val counts = df.groupBy(col(groupCol), col(scoreCol))
      .agg(count(lit(1)).as("__c"))
      .persist()
    try {
      val stats = counts.agg(count(lit(1)),
        count_if(col(scoreCol).isNull || col(groupCol).isNull)).head()
      Bounded.check(stats.getLong(0), maxScoreBuckets, "scorePercentRankByGroup",
        "(group, score) buckets", "maxScoreBuckets",
        "quantize the score first (the cumulative pass must stay bounded)")
      require(stats.getLong(1) == 0L,
        s"scorePercentRankByGroup: null $groupCol/$scoreCol — filter or " +
          "impute first (a null would vanish in the equi-join while " +
          "inflating its group's denominator)")
      // Window over the BOUNDED histogram (≤ maxScoreBuckets rows), not
      // the corpus.
      val wb = Window.partitionBy(col(groupCol)).orderBy(col(scoreCol))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wn = Window.partitionBy(col(groupCol))
      joinRanks(df, Seq(groupCol, scoreCol), counts
          .withColumn("__below", coalesce(sum(col("__c")).over(wb), lit(0L)))
          .withColumn("__ng", sum(col("__c")).over(wn))
          .select(col(groupCol), col(scoreCol), col("__below"), col("__ng")))
        .withColumn(outCol,
          when(col("__ng") <= 1L, lit(0.0))
            .otherwise(col("__below").cast("double") /
              (col("__ng") - 1L).cast("double")))
        .drop("__below", "__ng")
    } finally counts.unpersist()
  }

  /** MERGEABLE corpus profile — [[corpusProfile]]'s algebra split open so
    * profiles of snapshot generations COMBINE without rescanning the data
    * (the distributed-aggregation property, lifted to the artifact level:
    * profile(A ∪ B) = merge(profile(A), profile(B))). Sums and counts are
    * exact longs; the one non-additive statistic — distinct documents —
    * becomes a DataSketches HLL sketch (`hll_sketch_agg`), whose union is
    * associative, so a year of per-day profiles folds into a corpus-level
    * profile in kilobytes of driver work. Finalize with
    * [[finalizeProfile]].
    */
  def mergeableProfile(df: DataFrame, textCol: String,
      groupCols: Seq[String]): DataFrame = {
    require(groupCols.nonEmpty, "mergeableProfile needs at least one group column")
    val t = col(textCol)
    val TF = graft.functions.TextFunctions
    df.groupBy(groupCols.map(col): _*).agg(
      count(lit(1)).as("n_docs"),
      hll_sketch_agg(TF.fingerprint(t)).as("__uniq_sketch"),
      sum(TF.tokenCount(t).cast("long")).as("total_tokens"),
      sum(round(TF.qualityScore(t) * 10000).cast("long")).as("__q4"),
      sum(length(t).cast("long")).as("__chars"))
  }

  /** Combine two [[mergeableProfile]] frames (same group columns): sums
    * add, sketches union. Exactly-associative — merge order never changes
    * the result.
    */
  def mergeProfiles(a: DataFrame, b: DataFrame,
      groupCols: Seq[String]): DataFrame =
    a.unionByName(b).groupBy(groupCols.map(col): _*).agg(
      sum(col("n_docs")).as("n_docs"),
      hll_union_agg(col("__uniq_sketch")).as("__uniq_sketch"),
      sum(col("total_tokens")).as("total_tokens"),
      sum(col("__q4")).as("__q4"),
      sum(col("__chars")).as("__chars"))

  /** Close a [[mergeableProfile]]: the [[corpusProfile]] columns, with
    * `n_unique_docs` replaced by the sketch estimate
    * (`n_unique_docs_est`).
    */
  def finalizeProfile(p: DataFrame): DataFrame =
    p.withColumn("n_unique_docs_est",
        hll_sketch_estimate(col("__uniq_sketch")))
      .withColumn("avg_quality",
        round(col("__q4").cast("double") / 10000.0 / col("n_docs"), 4))
      .withColumn("avg_chars",
        round(col("__chars").cast("double") / col("n_docs"), 2))
      .drop("__uniq_sketch", "__q4", "__chars")

  /** Global 0-based dense rank of a UNIQUE key — withOUT the
    * single-partition window `row_number() OVER (ORDER BY key)` collapses
    * to (the classic driver-bottleneck anti-pattern at 100 TB). Form:
    * range-repartition on the key, sort within partitions, count each
    * partition (first narrow pass), prefix-sum the counts on the driver
    * (nPartitions longs), then stream each partition adding its offset
    * (second narrow pass). The ranks are a pure function of the key
    * MULTISET — range boundaries only move keys between partitions, never
    * change `offset + local position` — so the result is deterministic on
    * any cluster layout (keys must be unique; ties would order
    * arbitrarily). The two passes share one cached exchange; the returned
    * frame is localCheckpoint-materialized so the cache can be freed
    * eagerly.
    */
  def globalRank(df: DataFrame, keyCol: String, nPartitions: Int = 0): DataFrame = {
    val spark = df.sparkSession
    val n = math.max(1, if (nPartitions > 0) nPartitions
      else spark.sparkContext.defaultParallelism)
    val sorted = df.select(col(keyCol)).repartitionByRange(n, col(keyCol))
      .sortWithinPartitions(keyCol).persist()
    try {
      val counts = sorted.toDF().rdd
        .mapPartitionsWithIndex((i, it) => Iterator((i, it.size.toLong)))
        .collect().sortBy(_._1).map(_._2)
      val offsets = counts.scanLeft(0L)(_ + _)
      val bc = spark.sparkContext.broadcast(offsets)
      val schema = org.apache.spark.sql.types.StructType(
        sorted.schema.fields :+ org.apache.spark.sql.types.StructField(
          "rank", org.apache.spark.sql.types.LongType, nullable = false))
      spark.createDataFrame(
        sorted.toDF().rdd.mapPartitionsWithIndex { (i, it) =>
          var r = bc.value(i) - 1
          it.map { row => r += 1; Row.fromSeq(row.toSeq :+ r) }
        }, schema).localCheckpoint(true)
    } finally sorted.unpersist()
  }

  /** Running total of `valueCol` in `orderCol` order — the cumulative-sum
    * sibling of [[globalRank]], and the scale-safe replacement for
    * `sum(v) OVER (ORDER BY key)` (a single-partition window: the classic
    * driver-bottleneck anti-pattern). Same two narrow passes over one
    * cached range-exchange: per-partition sums (nPartitions longs) prefix-
    * summed on the driver, then each partition streams adding its offset.
    * Deterministic for a UNIQUE `orderCol` (ties would order arbitrarily
    * within a partition); null values count as 0 (the SQL sum-over-window
    * convention). The result is localCheckpoint-materialized.
    */
  def runningTotal(df: DataFrame, orderCol: String, valueCol: Column,
      outCol: String, nPartitions: Int = 0): DataFrame = {
    val spark = df.sparkSession
    val n = math.max(1, if (nPartitions > 0) nPartitions
      else spark.sparkContext.defaultParallelism)
    val sorted = df.withColumn("__rt_v", coalesce(valueCol.cast("long"), lit(0L)))
      .repartitionByRange(n, col(orderCol))
      .sortWithinPartitions(orderCol).persist()
    try {
      // Hoisted OUTSIDE the task closures: capturing the Dataset itself
      // (to read .schema lazily) ships it into the task, where touching
      // it is illegal (SPARK-28702).
      val vi = sorted.schema.fieldIndex("__rt_v")
      val sums = sorted.rdd
        .mapPartitionsWithIndex { (i, it) =>
          var s = 0L
          it.foreach(r => s += r.getLong(vi))
          Iterator((i, s))
        }.collect().sortBy(_._1).map(_._2)
      val offsets = sums.scanLeft(0L)(_ + _)
      val bc = spark.sparkContext.broadcast(offsets)
      val schema = org.apache.spark.sql.types.StructType(
        sorted.schema.fields :+ org.apache.spark.sql.types.StructField(
          outCol, org.apache.spark.sql.types.LongType, nullable = false))
      spark.createDataFrame(
        sorted.rdd.mapPartitionsWithIndex { (i, it) =>
          var s = bc.value(i)
          it.map { row => s += row.getLong(vi); Row.fromSeq(row.toSeq :+ s) }
        }, schema).localCheckpoint(true).drop("__rt_v")
    } finally sorted.unpersist()
  }

  /** Token-balanced shard assignment for training export — "cut the
    * corpus into shards of ~`tokensPerShard` tokens each, in a
    * deterministic order" (equal-compute data-parallel shards; a
    * doc-COUNT split skews badly when lengths are heavy-tailed). Every
    * doc takes the shard its cumulative START offset falls in:
    * `shard = (runningTotal − tokens) / tokensPerShard` — so docs never
    * split across shards and each shard's token sum lands within one
    * max-doc-length of the budget. Cost = [[runningTotal]]'s
    * range-partitioned prefix sum (one pass, no corpus-wide window).
    * The prefix sums are exact longs; the one division casts through
    * double, exact for corpora under 2^53 ≈ 9e15 tokens (9 petatokens —
    * three orders past the 100 TB regime), so the assignment replays
    * exactly in SQL. Output = `df` + `outCol`.
    */
  def shardByTokenBudget(df: DataFrame, orderCol: String, tokenCol: Column,
      tokensPerShard: Long, outCol: String = "shard"): DataFrame = {
    require(tokensPerShard > 0,
      s"shardByTokenBudget: tokensPerShard $tokensPerShard must be positive")
    runningTotal(df, orderCol, tokenCol, "__sb_cum")
      .withColumn(outCol,
        ((col("__sb_cum") - coalesce(tokenCol.cast("long"), lit(0L))) /
          tokensPerShard).cast("long"))
      .drop("__sb_cum")
  }

  /** Deterministic NEGATIVE sampling for contrastive training: `k`
    * pseudo-random non-self partners per anchor, a pure function of
    * (salt, id, j) — the same pairs on any cluster, partitioning, or
    * engine, and a salt rotation gives a fresh epoch of negatives without
    * reshuffling data. Mechanics: [[globalRank]] gives ids dense positions
    * in [0, n); negative j of an anchor is the id at
    * `(rank + 1 + md5-hash(salt|id|j) mod (n-1)) mod n` — the `1 +
    * mod (n-1)` offset can never be ≡ 0 mod n, so an anchor never draws
    * itself. Cost beyond the rank: one explode to (anchor, j) and one
    * narrow join on the rank column.
    */
  def negativeSamples(df: DataFrame, idCol: String, k: Int,
      salt: String): DataFrame = {
    require(k >= 1, s"negativeSamples: k $k must be >= 1")
    val ranked = globalRank(df, idCol)
    val n = ranked.count()
    require(n > 1, "negativeSamples: need at least 2 rows to draw negatives")
    val h = conv(substring(md5(
        concat_ws("|", lit(salt), col(idCol).cast("string"),
          col("j").cast("string"))), 1, 8), 16, 10).cast("long")
    val anchors = ranked
      .withColumn("j", explode(sequence(lit(1), lit(k))))
      .withColumn("__neg_rank",
        pmod(col("rank") + lit(1L) + pmod(h, lit(n - 1)), lit(n)))
    anchors.join(
        ranked.select(col(idCol).as("neg_id"), col("rank").as("__neg_rank")),
        "__neg_rank")
      .select(col(idCol), col("j"), col("neg_id"))
  }

  /** The layout decision [[writeCorpus]] made, for observability/logging. */
  final case class WriteLayout(avgRowBytes: Double, maxRecordsPerFile: Long,
      shardsPerPartition: Int)

  /** Write a corpus with the file layout a large-scale consumer needs,
    * solving the two classic output problems at once:
    *
    *  - SMALL FILES: a plain `partitionBy` write emits up to
    *    tasks × partition-values files. Repartitioning on the partition
    *    columns first gives each hive partition ONE writing task — plus
    *    `shardsPerPartition` content-hash shards when a single partition
    *    value is itself too large for one task.
    *  - GIANT FILES: `maxRecordsPerFile` caps rows per file so downstream
    *    scan parallelism survives even through a single-task partition —
    *    derived from `targetFileMb` and a sampled average serialized row
    *    size unless `maxRecordsOverride` pins it.
    *
    * `sortBy` sorts within each writing task, clustering the sort key so
    * parquet row-group min/max stats prune range predicates on it (the
    * poor man's z-order for one dimension); `zOrderBy` generalizes to
    * SEVERAL numeric dimensions via a Morton key
    * ([[graft.functions.ZOrder]]) — consecutive rows become small
    * hyper-rectangles of the value space, so every listed column keeps
    * tight per-file/row-group stats and multi-dimensional range predicates
    * prune. The key is computed, sorted on, and dropped — it never lands
    * in the written schema. Returns the layout decision.
    *
    * Note: shards are an UPPER spread — AQE's partition coalescing may
    * merge shards whose data is below the advisory partition size, which
    * is exactly right (tiny shards are the small-files problem this
    * writer exists to avoid); at scale each shard exceeds the advisory
    * size and writes its own file.
    */
  def writeCorpus(df: DataFrame, path: String, partitionCols: Seq[String],
      targetFileMb: Int = 256, shardsPerPartition: Int = 1,
      sortBy: Seq[String] = Nil, sampleRows: Int = 1000,
      maxRecordsOverride: Option[Long] = None,
      zOrderBy: Seq[String] = Nil, zBits: Int = 12,
      codec: Option[String] = None,
      bloomFilterCols: Seq[String] = Nil): WriteLayout = {
    require(targetFileMb > 0, s"targetFileMb $targetFileMb must be positive")
    require(shardsPerPartition > 0,
      s"shardsPerPartition $shardsPerPartition must be positive")
    require(sortBy.isEmpty || zOrderBy.isEmpty,
      "writeCorpus: sortBy and zOrderBy are alternative layouts — pass one")
    val allCols = df.columns.map(col).toSeq
    val avg = maxRecordsOverride match {
      case Some(_) => -1.0
      case None =>
        val r = df.limit(sampleRows)
          .agg(sum(length(to_json(struct(allCols: _*)))).cast("double"),
            count(lit(1)))
          .head()
        if (r.isNullAt(0) || r.getLong(1) == 0L) 1024.0
        else r.getDouble(0) / r.getLong(1)
    }
    val maxRecords = maxRecordsOverride.getOrElse(
      math.max(10L, (targetFileMb.toLong * 1024L * 1024L / avg).toLong))
    val shardCol = pmod(xxhash64(struct(allCols: _*)), lit(shardsPerPartition))
    // The z-key rides along from BEFORE the repartition (its min/max
    // aggregate is one narrow pass over the input) and is dropped after the
    // in-task sort — project-after-sort preserves intra-partition order.
    val zCol = "__graft_z"
    val keyed =
      if (zOrderBy.isEmpty) df
      else graft.functions.ZOrder.withZValue(df, zOrderBy, zBits, zCol)
    val parted =
      if (partitionCols.isEmpty && zOrderBy.nonEmpty)
        // Range-partition on the z-key: files cover globally DISJOINT
        // z-ranges, not just locally-sorted overlapping ones.
        keyed.repartitionByRange(
          df.sparkSession.sparkContext.defaultParallelism, col(zCol))
      else if (partitionCols.isEmpty)
        keyed.repartition(df.sparkSession.sparkContext.defaultParallelism)
      else if (shardsPerPartition == 1)
        keyed.repartition(partitionCols.map(col): _*)
      else
        keyed.repartition(partitionCols.map(col) :+ shardCol: _*)
    val sorted =
      if (zOrderBy.nonEmpty) parted.sortWithinPartitions(col(zCol)).drop(zCol)
      else if (sortBy.isEmpty) parted
      else parted.sortWithinPartitions(sortBy.map(col): _*)
    // Codec is a per-write decision, not a session conf: archival corpus
    // tiers want zstd (denser, splittable, ~30% smaller than snappy on
    // text — real money at 100 TB), hot intermediate tiers keep the
    // session default.
    val writer0 = sorted.write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecords)
    val writer1 = codec.fold(writer0)(c => writer0.option("compression", c))
    // Parquet bloom filters on point-lookup columns (ids, fingerprints):
    // a dedup/diff probe against the written corpus skips whole row groups
    // whose bloom says "absent" — min/max stats can't do that for
    // high-cardinality unsorted ids.
    val writer = bloomFilterCols.foldLeft(writer1)((w, c) =>
      w.option(s"parquet.bloom.filter.enabled#$c", "true"))
    (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*) else writer)
      .parquet(path)
    WriteLayout(avg, maxRecords, shardsPerPartition)
  }

  /** Parquet data files under `dir`, recursively (excluding _SUCCESS/.crc
    * bookkeeping) — the small-files metric compaction reports on.
    */
  def dataFileCount(spark: org.apache.spark.sql.SparkSession, dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return 0L
    var n = 0L
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val st = it.next()
      val name = st.getPath.getName
      if (st.isFile && !name.startsWith("_") && !name.startsWith(".")) n += 1
    }
    n
  }

  /** Compact a fragmented parquet directory — the small files that
    * streaming ingest, frequent appends, or an over-parallel writer leave
    * behind — into the layout-aware [[writeCorpus]] form at `dest`.
    * Returns (filesBefore, filesAfter, layout).
    *
    * Deliberately NOT in place: compaction writes a fresh directory and the
    * caller swaps (or repoints readers) — an in-place rewrite would window-
    * delete live data mid-job on any filesystem, and is unrecoverable on an
    * object store. Restartable: a crashed compaction leaves `src` untouched
    * and `dest` overwritable.
    */
  def compact(df: DataFrame, src: String, dest: String,
      partitionCols: Seq[String] = Nil, targetFileMb: Int = 256,
      shardsPerPartition: Int = 1, sortBy: Seq[String] = Nil,
      zOrderBy: Seq[String] = Nil, zBits: Int = 12,
      maxRecordsOverride: Option[Long] = None): (Long, Long, WriteLayout) = {
    require(src != dest, "compact: dest must differ from src (no in-place rewrite)")
    val spark = df.sparkSession
    val before = dataFileCount(spark, src)
    val layout = writeCorpus(df, dest, partitionCols, targetFileMb,
      shardsPerPartition, sortBy, maxRecordsOverride = maxRecordsOverride,
      zOrderBy = zOrderBy, zBits = zBits)
    (before, dataFileCount(spark, dest), layout)
  }

  /** [[compact]] reading `src` itself (the common call). */
  def compact(spark: org.apache.spark.sql.SparkSession, src: String, dest: String,
      partitionCols: Seq[String], targetFileMb: Int,
      shardsPerPartition: Int, sortBy: Seq[String]): (Long, Long, WriteLayout) =
    compact(spark.read.parquet(src), src, dest, partitionCols, targetFileMb,
      shardsPerPartition, sortBy)

  /** Read a corpus whose schema evolved across snapshot directories —
    * columns added over time, old snapshots never rewritten (the normal
    * state of a long-lived 100 TB corpus: rewriting history to add a
    * column would cost a full-corpus write). Each snapshot is read with
    * its OWN schema and the union aligns by column NAME, filling columns a
    * snapshot predates with null — `unionByName(allowMissingColumns)`, the
    * explicit form of parquet's `mergeSchema` that also keeps per-snapshot
    * pushdown/pruning intact (each scan prunes against its own footer
    * schema; a filter on a later-added column still prunes old snapshots
    * to an empty scan via the all-null stats).
    *
    * Union is narrow (no shuffle). Conflicting TYPES for a same-named
    * column are REFUSED up front: Spark's own union coercion would widen
    * int↔string pairs silently and then corrupt or crash row-by-row at
    * read time (ANSI cast). Widening a type is a rewrite decision, not
    * something to coerce under a reader.
    */
  def mergeSnapshots(spark: org.apache.spark.sql.SparkSession,
      paths: Seq[String]): DataFrame = {
    require(paths.nonEmpty, "mergeSnapshots: no snapshot paths")
    val dfs = paths.map(spark.read.parquet(_))
    val seen = scala.collection.mutable.Map[String, (org.apache.spark.sql.types.DataType, String)]()
    dfs.zip(paths).foreach { case (df, p) =>
      df.schema.fields.foreach { f =>
        seen.get(f.name) match {
          case Some((dt, firstPath)) if dt != f.dataType =>
            throw new IllegalArgumentException(
              s"mergeSnapshots: column '${f.name}' is $dt in $firstPath but " +
                s"${f.dataType} in $p — rewrite the snapshot to widen the " +
                "type; refusing to coerce under a reader")
          case None => seen(f.name) = (f.dataType, p)
          case _ => ()
        }
      }
    }
    dfs.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Deterministic per-key "reservoir" sample: keep `k` rows per key,
    * ranked by `md5(salt|id)` — a uniform pseudo-random order that is a
    * pure function of (salt, id), so the same rows survive on any cluster,
    * any partitioning, any engine (the per-key sibling of
    * [[deterministicSample]]'s whole-corpus cut, for "inspect 100 docs per
    * language" / per-domain eval-split carving).
    *
    * One shuffle on the key; the `row_number <= k` filter lowers to
    * WindowGroupLimit, so each map task forwards at most k rows per key —
    * a hot key costs k rows per upstream partition, never its full volume.
    */
  def reservoirByKey(df: DataFrame, keyCol: String, idCol: String, k: Int,
      salt: String = ""): DataFrame = {
    require(k > 0, s"reservoirByKey: k must be positive, got $k")
    val rank = concat(lit(salt), lit("|"), col(idCol).cast("string"))
    df.withColumn("__rk", md5(to_binary(rank, lit("utf-8"))))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col(keyCol)).orderBy(col("__rk"), col(idCol))))
      .filter(col("__rn") <= k)
      .drop("__rk", "__rn")
  }

  /** Assign every row a deterministic train/val/test split label from
    * `md5(salt|key)` — the same membership hash as
    * [[deterministicSample]], carved into cumulative cuts. Splits are a
    * pure function of (salt, key): reproducible on any cluster, any
    * engine, and stable as the corpus grows (new rows land in splits
    * without moving old ones — a re-shuffle split would leak yesterday's
    * training docs into today's test set).
    *
    * LEAKAGE is controlled by the key choice: key by doc id and near-dup
    * documents can straddle train/test; key by the dedup cluster
    * representative (see Dedup.componentIds) or the source domain and the
    * whole correlated group lands in ONE split. A pure per-row expression
    * — no shuffle, pushes to the scan.
    */
  def assignSplits(df: DataFrame, keyCol: String,
      splits: Seq[(String, Double)], salt: String = "",
      outCol: String = "split"): DataFrame = {
    require(splits.nonEmpty, "assignSplits: no splits")
    require(splits.forall(_._2 >= 0.0), s"assignSplits: negative fraction in $splits")
    val total = splits.map(_._2).sum
    require(math.abs(total - 1.0) < 1e-9,
      s"assignSplits: fractions must sum to 1, got $total")
    val h = hashPrefix(col(keyCol), salt)
    val cuts = splits.scanLeft(0.0)(_ + _._2).tail // cumulative upper bounds
    val expr = splits.init.zip(cuts.init).reverse
      .foldLeft(lit(splits.last._1)) { case (acc, ((name, _), cut)) =>
        when(h < lit(cutHex(cut)), lit(name)).otherwise(acc)
      }
    df.withColumn(outCol, expr)
  }

  /** Corpus quantiles from a DETERMINISTIC sample — the one-pass answer
    * to "what are the p50/p90/p99 of doc length over 100 TB" when
    * [[scorePercentRank]]'s exact histogram would blow its
    * distinct-value cap (raw byte lengths, float scores). The sample is
    * the `sampleK` rows with the SMALLEST `md5(salt|id)` — a pure
    * function of (salt, id), so the same rows are drawn on any cluster,
    * any partitioning, any engine (the [[deterministicSample]] /
    * [[reservoirByKey]] membership convention, which is what makes the
    * result hash-checkable where a t-digest/KLL sketch — whose merge
    * order follows partitioning — never is). Each quantile is the
    * nearest-rank pick: the value at 1-based rank ⌈p·k'⌉ of the sample
    * sorted by (value, id), k' = min(sampleK, n).
    *
    * Scale shape: ONE distributed TakeOrdered (per-partition top-k by
    * the hash, merged at the driver — never a global sort), then ranking
    * windows only over the ≤ sampleK staged sample. Sampling error is
    * the classic order-statistic bound: rank error ~ √(p(1−p)/k) w.h.p.
    * (k = 4096 → ±~0.8 rank points at the median); callers needing exact
    * quantiles of LOW-cardinality scores should use [[scorePercentRank]].
    *
    * Output: one row per prob — (prob, value, sample_rank, sample_n).
    */
  def sampleQuantiles(df: DataFrame, valueCol: String, idCol: String,
      probs: Seq[Double], sampleK: Int = 4096, salt: String = ""): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p > 0.0 && p <= 1.0),
      s"sampleQuantiles: probs must lie in (0, 1], got $probs")
    require(sampleK >= 1 && sampleK <= (1 << 20),
      s"sampleQuantiles: sampleK $sampleK must be in [1, 2^20] — the " +
        "sample is ranked on one node")
    val spark = df.sparkSession
    val samp = graft.core.Persist.stage(df
      .filter(col(valueCol).isNotNull)
      .select(col(valueCol).as("__v"), col(idCol).as("__id"))
      .withColumn("__rk", md5(to_binary(
        concat(lit(salt), lit("|"), col("__id").cast("string")), lit("utf-8"))))
      .orderBy(col("__rk"), col("__id")).limit(sampleK))
    val n = samp.count()
    require(n > 0, "sampleQuantiles: empty input")
    val ranked = samp.withColumn("__rn", row_number().over(
      Window.orderBy(col("__v"), col("__id"))))
    import spark.implicits._
    val targets = probs.map(p =>
      (p, math.max(1L, math.ceil(p * n).toLong))).toDF("prob", "__rn")
    targets.join(broadcast(ranked), "__rn")
      .select(col("prob"), col("__v").as("value"),
        col("__rn").as("sample_rank"), lit(n).as("sample_n"))
      .orderBy("prob")
  }

  /** [[sampleQuantiles]] per GROUP — "p50/p90 doc length per language /
    * per source", the per-slice corpus-monitoring read. The per-group
    * sample is [[reservoirByKey]]'s k smallest md5(salt|id) rows (same
    * membership convention — WindowGroupLimit, a hot group costs k rows
    * per map task, never its volume); ranking and the nearest-rank pick
    * run over the ≤k-row groups only. Output: one row per (group, prob)
    * — (groupCol, prob, value, sample_rank, sample_n).
    */
  def sampleQuantilesByGroup(df: DataFrame, groupCol: String,
      valueCol: String, idCol: String, probs: Seq[Double],
      kPerGroup: Int = 1024, salt: String = ""): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p > 0.0 && p <= 1.0),
      s"sampleQuantilesByGroup: probs must lie in (0, 1], got $probs")
    require(kPerGroup >= 1 && kPerGroup <= (1 << 20),
      s"sampleQuantilesByGroup: kPerGroup $kPerGroup out of [1, 2^20]")
    val spark = df.sparkSession
    val samp = graft.core.Persist.stage(reservoirByKey(
      df.filter(col(valueCol).isNotNull)
        .select(col(groupCol), col(valueCol).as("__v"), col(idCol).as("__id")),
      groupCol, "__id", kPerGroup, salt))
    val ranked = samp
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col(groupCol)).orderBy(col("__v"), col("__id"))))
      .withColumn("__n", count(lit(1)).over(
        Window.partitionBy(col(groupCol))))
    import spark.implicits._
    val pr = probs.toDF("prob")
    ranked.join(broadcast(pr),
        greatest(lit(1L), ceil(col("prob") * col("__n"))) === col("__rn"))
      .select(col(groupCol), col("prob"), col("__v").as("value"),
        col("__rn").cast("long").as("sample_rank"),
        col("__n").cast("long").as("sample_n"))
      .orderBy(col(groupCol), col("prob"))
  }

  /** Leakage-safe split assignment from a SHARED duplicate-pair graph:
    * connected components over `pairs` pick a cluster representative
    * (Dedup.componentIds — star contraction at scale), every member
    * inherits the rep's [[assignSplits]] draw, so a near-dup cluster can
    * never straddle train/holdout. Taking the PAIRS as input (rather
    * than recomputing them) is the leakage contract at scale: the dedup
    * stage and the split stage must read the SAME graph — with
    * `Dedup.minhashPairs`' recall-aware auto default, two independent
    * invocations can legitimately pick different band tiers and would
    * cluster (and therefore split) differently. Compute the pair graph
    * once, feed it to both `dropDuplicatesByPairs` and this.
    *
    * Output = `df` + `rep_id` (the cluster unit, for audit) + `outCol`.
    */
  def leakageSafeSplits(df: DataFrame, idCol: String, pairs: DataFrame,
      splits: Seq[(String, Double)], salt: String = "",
      outCol: String = "split"): DataFrame = {
    // componentIds needs long ids; the join below casts to long, and a
    // non-ANSI cast turns a non-numeric string id into null — the row
    // would silently vanish from the output. Fail loudly instead.
    val idType = df.schema(idCol).dataType
    require(Seq("byte", "short", "integer", "long").contains(idType.typeName),
      s"leakageSafeSplits: id column '$idCol' is $idType — componentIds " +
        "keys on long ids, and casting a non-integral id can silently " +
        "null (and drop) rows; map ids to longs upstream")
    val comp = graft.operators.Dedup.componentIds(
        df.select(col(idCol).cast("long").as("id")), pairs)
      .withColumnRenamed("id", "__ls_id")
    df.join(comp, col(idCol).cast("long") === col("__ls_id"))
      .transform(assignSplits(_, "rep_id", splits, salt, outCol))
      .drop("__ls_id")
  }

  /** Select the highest-`scoreCol` documents whose `tokenCol` sum fits a
    * global token budget — "assemble the best 10 B-token corpus" — WITHOUT
    * the global sort + running sum that form would naively need (a
    * single-partition window over the corpus). Two narrow passes:
    *
    *  1. one `groupBy(score)` histogram (scores must be LOW-CARDINALITY —
    *     a rounded quality score; refused loudly past `maxScoreBuckets`)
    *     collected to the driver, which finds the threshold bucket where
    *     the descending cumulative token sum crosses the budget;
    *  2. a pure filter keeps every doc above the threshold, plus the
    *     threshold bucket's docs in `idCol` order until the budget is
    *     exhausted (the budget-crossing doc is KEPT, the
    *     [[quotaPerGroupTokens]] convention). Only the single boundary
    *     bucket pays an ordered pass — and that pass is [[runningTotal]]'s
    *     range-partitioned prefix-sum, bounded in per-task size even when
    *     coarse scores make the boundary bucket a large corpus fraction.
    *
    * Equivalent to the flat `ORDER BY score DESC, id` cumulative-sum
    * selection, deterministic, and reproducible in SQL.
    */
  def selectByTokenBudget(df: DataFrame, scoreCol: String, tokenCol: String,
      idCol: String, budget: Long, maxScoreBuckets: Int = 100000): DataFrame = {
    require(budget > 0, s"selectByTokenBudget: budget $budget must be positive")
    val hist = Bounded.pull(df.groupBy(col(scoreCol).as("__s"))
        .agg(sum(col(tokenCol).cast("long")).as("__t")).orderBy(col("__s").desc),
      maxScoreBuckets, "selectByTokenBudget", "distinct scores", "maxScoreBuckets",
      s"round '$scoreCol' first (the histogram must fit the driver)")
    var cum = 0L
    var i = 0
    while (i < hist.length && cum + hist(i).getLong(1) < budget) {
      cum += hist(i).getLong(1); i += 1
    }
    if (i >= hist.length) df // everything fits
    else {
      val tau = hist(i).get(0)
      val remaining = budget - cum
      val above = df.filter(col(scoreCol) > lit(tau))
      // Boundary bucket only: docs in id order while the PRIOR cumulative
      // token sum stays under the remaining budget (crossing doc kept).
      // The running sum is [[runningTotal]]'s range-repartition prefix-sum,
      // NOT a global-ORDER-BY window: with coarse scores (integer quality
      // 0-10) the boundary bucket can be ~10% of the corpus, and a
      // single-partition window over it would funnel that through one
      // task — the histogram cap guards distinct-score COUNT, not bucket
      // SIZE.
      val boundary = runningTotal(
          df.filter(col(scoreCol) === lit(tau)), idCol,
          col(tokenCol), "__cum")
        .filter(col("__cum") - coalesce(col(tokenCol).cast("long"), lit(0L))
          < remaining)
        .drop("__cum")
      above.unionByName(boundary)
    }
  }

  /** Diff two corpus snapshots by content fingerprint: which ids were
    * added, removed, or changed between `old` and `neu` — the audit step
    * of an incremental pipeline ("this crawl batch replaced 2% and added
    * 5%") and the input to targeted re-embedding (only `changed`+`added`
    * need new vectors, not the full 100 TB).
    *
    * One full-outer join on the id — fingerprints are computed per-row
    * (narrow) and only (id, 16-byte fp) pairs shuffle, never text.
    */
  def diffSnapshots(old: DataFrame, neu: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    def fps(df: DataFrame, fpName: String) = df.select(
      col(idCol),
      graft.functions.TextFunctions.fingerprint(col(textCol)).as(fpName))
    fps(old, "__fp_old").join(fps(neu, "__fp_new"), Seq(idCol), "full_outer")
      .select(col(idCol), when(col("__fp_old").isNull, lit("added"))
        .when(col("__fp_new").isNull, lit("removed"))
        .when(col("__fp_old") === col("__fp_new"), lit("unchanged"))
        .otherwise(lit("changed")).as("status"))
  }

  /** Write a snapshot as a BUCKETED parquet table: rows hash-distributed
    * into `nBuckets` files on `bucketCol`, each bucket ONE file sorted on
    * the bucket column.
    *
    * This is the co-located layout for datasets that are JOINED on the same
    * key again and again (snapshot diffs, dedup-index probes, metadata ⋈
    * embeddings): two tables bucketed the same way sort-merge join with
    * ZERO exchanges and ZERO sorts — at 100 TB that deletes the dominant
    * cost (a full shuffle of both sides) from every repeated join, paid
    * once at write time instead. Spark's bucket-pruning also turns an
    * equality predicate on the bucket column into a one-file scan.
    *
    * Mechanics worth pinning: the explicit `repartition(nBuckets, key)`
    * uses the SAME Murmur3 hash as the bucket spec, so each writing task
    * holds exactly one bucket and emits exactly one file — the
    * one-file-per-bucket invariant Spark needs to trust the sorted-ness
    * and skip the sort on read. The table is EXTERNAL (`path`): the
    * catalog entry holds only the bucket spec, the data lives where all
    * other corpus artifacts live.
    */
  def writeBucketed(df: DataFrame, tableName: String, path: String,
      bucketCol: String, nBuckets: Int): Unit = {
    require(nBuckets > 0, s"nBuckets $nBuckets must be positive")
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$tableName`")
    df.repartition(nBuckets, col(bucketCol))
      .write.mode("overwrite").format("parquet").option("path", path)
      .bucketBy(nBuckets, bucketCol).sortBy(bucketCol)
      .saveAsTable(tableName)
  }

  /** Inner-join two [[writeBucketed]] tables on their shared bucket column —
    * plan-asserted SHUFFLE-FREE: both sides already hash-partitioned on the
    * key at write time, so the sort-merge join runs bucket-against-bucket
    * with no Exchange anywhere in the executed plan (the `merge` hint keeps
    * the small-table broadcast path from masking a layout regression). The
    * assertion is the point — a silent fallback to a full shuffle is
    * exactly the 100 TB failure this layout exists to prevent, so it fails
    * loudly instead.
    */
  def bucketedJoin(spark: org.apache.spark.sql.SparkSession,
      leftTable: String, rightTable: String, keyCol: String,
      rightSuffix: String = "_r"): DataFrame = {
    val l = spark.table(leftTable)
    val r0 = spark.table(rightTable)
    val r = r0.columns.foldLeft(r0) { (d, c) =>
      if (c == keyCol) d else d.withColumnRenamed(c, c + rightSuffix)
    }
    val joined = l.hint("merge").join(r.hint("merge"), Seq(keyCol))
    // String-form check: under AQE the executed plan is an adaptive wrapper
    // whose children aren't walkable via collect(), but its rendering always
    // shows the (initial) physical plan — any Exchange in it is a layout
    // regression.
    val plan = joined.queryExecution.executedPlan.toString
    require(!plan.contains("Exchange"),
      s"bucketedJoin: expected an exchange-free bucket join of $leftTable ⋈ " +
        s"$rightTable on $keyCol, but the plan shuffles — were both tables " +
        "written by writeBucketed with the same nBuckets and bucket column?\n" +
        plan.take(2000))
    joined
  }
}
