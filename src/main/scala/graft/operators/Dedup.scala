package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication primitives for large-scale corpus cleaning:
  *   - exact (hash groupBy)
  *   - MinHash + LSH banding (shingle → minhash → band-bucket join)
  *   - SimHash (hamming-bucketed)
  *   - n-gram Jaccard verification
  *   - connected components (label propagation) for duplicate clusters
  *
  * Everything is native Catalyst expressions (higher-order array functions +
  * xxhash64), so the hot path is whole-stage-codegen'd and shuffles only on
  * band buckets — the layout that survives 100 TB (candidate pairs are
  * bounded by bucket collisions, never the full cross product).
  */
object Dedup {

  /** Word n-gram shingles of a text column, as array<string>. Built on
    * [[graft.functions.TextFunctions.slidingGrams]] — the zip-of-shifts
    * form whose children evaluate once per row (the naive per-index
    * slice lambda re-split the text PER GRAM, O(words²)).
    */
  def shingles(c: Column, n: Int = 3): Column = {
    val words = split(trim(c), "\\s+")
    when(size(words) <= n, array(concat_ws(" ", words)))
      .otherwise(graft.functions.TextFunctions.slidingGrams(words, n))
  }

  /** MinHash signature: for each of `numHashes` seeded hash functions, the
    * minimum xxhash64(shingle, seed) over the shingle set.
    */
  def minhashSignature(shinglesCol: Column, numHashes: Int = 64): Column =
    array((0 until numHashes).map { seed =>
      array_min(transform(shinglesCol, s => xxhash64(s, lit(seed))))
    }: _*)

  /** Candidate probability of the LSH S-curve: a pair with Jaccard
    * similarity `s` shares at least one band key with probability
    * 1 − (1 − s^r)^b (Leskovec/Rajaraman/Ullman, "Mining of Massive
    * Datasets" ch. 3.4 — published LSH analysis). Use with [[lshPlan]] to
    * see what a banding choice actually does to recall/noise.
    */
  def lshCandidateProbability(s: Double, bands: Int, rowsPerBand: Int): Double =
    1.0 - math.pow(1.0 - math.pow(s, rowsPerBand.toDouble), bands.toDouble)

  /** Choose (bands, rowsPerBand) for a target Jaccard threshold: the
    * S-curve's steep region sits at ≈ (1/b)^(1/r), so pick the
    * factorization of `numHashes` whose implied threshold lands closest to
    * the target (ties → more bands, i.e. recall over precision — a missed
    * duplicate survives forever, a false candidate only costs one exact
    * Jaccard check). This turns the banding knobs into a declarative
    * "dedup at ≥ 0.8 similarity" API.
    */
  def lshPlan(numHashes: Int, threshold: Double): (Int, Int) = {
    require(numHashes >= 1, s"lshPlan: numHashes $numHashes must be >= 1")
    require(threshold > 0.0 && threshold < 1.0,
      s"lshPlan: threshold $threshold must be in (0, 1)")
    val options = for (r <- 1 to numHashes if numHashes % r == 0)
      yield (numHashes / r, r)
    options.minBy { case (b, r) =>
      (math.abs(math.pow(1.0 / b, 1.0 / r) - threshold), -b)
    }
  }

  /** LSH band keys: split the signature into `bands` bands of `rowsPerBand`
    * and hash each band — docs sharing any band key are candidates.
    */
  def bandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(concat_ws(",", slice(sig, b * rowsPerBand + 1, rowsPerBand))).as("key"))
    }: _*)

  /** Exact Jaccard similarity of two array columns (as sets). */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = size(array_union(a, b)).cast("double")
    when(uni === 0, lit(1.0)).otherwise(inter / uni)
  }

  /** Candidate near-duplicate pairs via MinHash-LSH, verified with exact
    * n-gram Jaccard ≥ `threshold`. Returns (id1, id2, jaccard) with id1<id2.
    */
  /** MinHash+LSH near-duplicate pairs at exact-shingle Jaccard ≥
    * `threshold`, with EXACT PRE-COLLAPSE (default): byte-identical texts
    * are grouped by content fingerprint first, each group contributes
    * (minId → member) star edges at jaccard 1.0, and the LSH pipeline
    * runs over one representative per distinct text. The returned pair
    * set is therefore a SPANNING subset of the exhaustive one — its
    * connected components (hence any dedup/keep decision built on them)
    * are identical, but a document repeated k times costs O(k) rows
    * instead of O(k²)·bands candidate pairs. At corpus scale that is the
    * difference between linear and quadratic: a boilerplate page repeated
    * a million times would otherwise emit 10¹¹ band pairs. Pass
    * `collapseExact = false` for the exhaustive enumeration (every
    * qualifying (id1, id2), at duplication-quadratic cost).
    *
    * `bands = 0` (the DEFAULT) is RECALL-AWARE AUTO — the
    * [[graft.operators.EmbedOps.neardupPairs]] `cellProbes = 0`
    * convention for the text route: the route spends the cheap one-pass
    * estimator ([[pickBands]] — sampled signatures answer every tier at
    * once, bounded independent of n) and picks the cheapest band tier
    * whose sampled recall meets `targetRecall` (default 0.95); when even
    * the highest tier misses it, the route proceeds at that tier with a
    * LOUD warning naming the knobs — banded LSH recall is an S-curve in
    * (bands, rowsPerBand) and a fixed band count tuned at one threshold
    * silently under-recalls at another. An EXPLICIT `bands > 0` pins the
    * tier with no measurement — oracle gates pin measured-recall-1
    * configurations this way; certify a pinned config with
    * [[minhashRecallReport]].
    *
    * ==BREAKING CHANGE (round 9)==
    * `collapseExact` defaults to `true`: the PAIR LIST is now a spanning
    * subset, not the exhaustive enumeration. Connected components — and
    * every keep/drop decision derived from them — are unchanged, but a
    * caller consuming the raw pair rows (pair counts, per-pair score
    * aggregation, duplicate-edge statistics) sees fewer rows than before.
    * Such callers must pass `collapseExact = false` explicitly. The same
    * applies to [[simhashPairs]].
    *
    * ==BREAKING CHANGE (round 11)==
    * `bands` defaults to 0 = auto (was 16): the default route now spends
    * a bounded sampled-recall estimate and may pick a DIFFERENT band
    * count than 16 — cheaper when 4–8 bands already meet the target,
    * higher-recall when 16 would silently miss it. Callers that depended
    * on the fixed geometry must pass `bands = 16` explicitly.
    */
  def minhashPairs(dfIn: DataFrame, textCol: String, idCol: String,
      threshold: Double = 0.8, numHashes: Int = 64, bands: Int = 0,
      shingleLen: Int = 3, collapseExact: Boolean = true,
      targetRecall: Double = 0.95,
      autoBandTiers: Seq[Int] = Seq(4, 8, 16, 32),
      autoSampleSize: Int = 2048): DataFrame = {
    def resolve(frame: DataFrame, id: String, excludeExact: Boolean): Int =
      if (bands > 0) bands
      else {
        val (b, r) = pickBands(frame, textCol, id, threshold, numHashes,
          autoBandTiers, shingleLen, autoSampleSize, targetRecall,
          excludeExact)
        val log = org.slf4j.LoggerFactory.getLogger(getClass)
        if (r < targetRecall) log.warn(
          f"minhashPairs auto route: even bands = $b (the highest auto " +
            f"tier) measures sampled pair recall $r%.3f < target " +
            f"$targetRecall%.2f at this geometry — proceeding at $b; " +
            "raise numHashes (finer bands), pin a higher bands " +
            "explicitly, or verify with minhashRecallReport")
        else log.info(
          f"minhashPairs auto route: bands = $b (sampled recall " +
            f"$r%.3f ≥ target $targetRecall%.2f)")
        b
      }
    if (!collapseExact)
      return minhashPairsExhaustive(dfIn, textCol, idCol, threshold,
        numHashes, resolve(dfIn, idCol, excludeExact = true), shingleLen)
    withExactCollapse(dfIn, textCol, idCol, lit(1.0).as("jaccard"))(reps =>
      minhashPairsExhaustive(reps, textCol, "__rep_id", threshold,
        numHashes, resolve(reps, "__rep_id", excludeExact = false),
        shingleLen))
  }

  /** Shared exact pre-collapse of the pair enumerators: one shuffle by
    * content fingerprint tags every row with its group's min id; each
    * group contributes (minId → member) star edges scored `exactScore`
    * (jaccard 1.0 / hamming 0 — identical text), and `enumerate` runs
    * over the one-representative-per-distinct-text frame (id column
    * `__rep_id`). Components of the union equal the exhaustive pair
    * set's: exact cliques collapse to stars and any qualifying
    * cross-group pair survives through the groups' representatives.
    */
  /** The CANONICAL content-fingerprint collapse frame for texts —
    * (id, textCol, __fp, __rep), staged; __rep is the group's min id. Both
    * the pair enumerators ([[withExactCollapse]]) and
    * [[minhashRecallReport]] derive their representative frames from THIS
    * projection — a second hand-rolled copy of the window could silently
    * desynchronize the recall report from the route it claims to measure.
    */
  private def textCollapseMarked(dfIn: DataFrame, textCol: String,
      idCol: String): DataFrame =
    graft.core.Parallelism.spread(dfIn)
      .select(col(idCol).cast("long").as("id"), col(textCol))
      .withColumn("__fp", xxhash64(col(textCol)))
      .withColumn("__rep", min(col("id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("__fp")))
      .transform(graft.core.Persist.stage(_))

  private def withExactCollapse(dfIn: DataFrame, textCol: String,
      idCol: String, exactScore: Column)(
      enumerate: DataFrame => DataFrame): DataFrame = {
    val marked = textCollapseMarked(dfIn, textCol, idCol)
    val star = marked.filter(col("id") =!= col("__rep"))
      .select(col("__rep").as("id1"), col("id").as("id2"), exactScore)
    val reps = marked.filter(col("id") === col("__rep"))
      .select(col("id").as("__rep_id"), col(textCol))
    star.unionAll(enumerate(reps))
  }

  private def minhashPairsExhaustive(dfIn: DataFrame, textCol: String,
      idCol: String, threshold: Double, numHashes: Int, bands: Int,
      shingleLen: Int): DataFrame = {
    val df = graft.core.Parallelism.spread(dfIn)
    val rowsPerBand = numHashes / bands
    // ONE scan of the corpus computes both per-row artifacts with tight-loop
    // custom expressions (no shingle-string materialization, no explode, no
    // aggregation shuffle): the minhash signature AND the hashed-shingle
    // verification set (longs — array_intersect over 8-byte values beats
    // strings; Jaccard is unchanged up to 2^-64 hash collisions). The
    // checkpoint materializes once; the band self-join and both sides of the
    // verification join all read from it.
    val base = dedupState(df, textCol, idCol, numHashes, shingleLen, withFp = false)
      .transform(graft.core.Persist.stage(_))
    val bandKeyCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(concat_ws(",",
          (0 until rowsPerBand).map(r => element_at(col("sig"), b * rowsPerBand + r + 1)): _*)).as("key"))
    }
    val bucketed = base.select(col("id"), explode(array(bandKeyCols: _*)).as("bk"))
    val shingleSets = base.select(col("id"), col("sh"))
    val a = bucketed.toDF("id1", "bk1")
    val b = bucketed.toDF("id2", "bk2")
    val candRaw = a.join(b, col("bk1") === col("bk2") && col("id1") < col("id2"))
      .select("id1", "id2")
    def verified(cand: DataFrame, sets1: DataFrame, sets2: DataFrame) = cand
      .join(sets1, "id1")
      .join(sets2, "id2")
      .select(col("id1"), col("id2"),
        graft.functions.VectorExprs.longSetJaccard(col("sh1"), col("sh2"))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
    // The EmbedOps.verifyPairs move, for shingle sets: when the distinct
    // (id, sh) frame fits the broadcast budget (measured exactly — one
    // narrow aggregate over the staged frame), broadcast it into both
    // verify joins so the candidate frame (the big one — band-collision
    // pairs) never shuffles through them. UNLIKE the cells route, pair
    // dedup stays BEFORE the Jaccard filter: a true near-dup pair
    // collides in ~bands·j^r of its bands (≈10 of 16 at j = 0.9), so
    // deferring dedup would multiply the merge-kernel evaluations ~10×
    // — measured a wash at the ×100 stress, while the (id1, id2)
    // distinct is a narrow 16-byte-row exchange. The cells route defers
    // it because its duplicate factor is capped at cellProbes (2).
    val st = base.agg(count(lit(1)),
      coalesce(sum(size(col("sh")).cast("long")), lit(0L))).head()
    val bytes = st.getLong(0) * 24L + st.getLong(1) * 8L
    val cand = candRaw.distinct()
    if (bytes <= graft.operators.EmbedOps.verifyBroadcastMaxBytes)
      verified(cand,
        broadcast(shingleSets.toDF("id1", "sh1")),
        broadcast(shingleSets.toDF("id2", "sh2")))
    else
      verified(cand,
        shingleSets.toDF("id1", "sh1"), shingleSets.toDF("id2", "sh2"))
  }

  /** Empirical pair-recall of banded minhash LSH against sampled exact
    * shingle-Jaccard ground truth — the [[graft.operators.EmbedOps.neardupRecallReport]]
    * sibling for the text route. Banded LSH is probabilistic (a qualifying
    * pair collides in ≥1 band with probability 1−(1−j^r)^b, never 1), and
    * every oracle gate pins a recall-1 configuration, so an over-tuned
    * band config at a real corpus would drop recall with nothing to catch
    * it. Ground truth: exact [[graft.functions.LongSetOps]] Jaccard over
    * the hashed-shingle sets of a bounded content-hash sample of DISTINCT
    * texts; route: the real banded pipeline over the FULL distinct-text
    * frame at each `bandTiers` config, restricted to the sample. Emitted
    * route pairs are exact-Jaccard verified, so matched is one semi join.
    * More bands (fewer rows per band) at fixed `numHashes` can only raise
    * collision probability — recall trends up the tier table.
    */
  def minhashRecallReport(df: DataFrame, textCol: String, idCol: String,
      threshold: Double = 0.8, numHashes: Int = 64,
      bandTiers: Seq[Int] = Seq(4, 8, 16, 32), shingleLen: Int = 3,
      sampleSize: Int = 2048): DataFrame = {
    require(bandTiers.nonEmpty && bandTiers.forall(b => b > 0 && numHashes % b == 0),
      s"minhashRecallReport: every band tier must divide numHashes=$numHashes")
    // The SAME canonical collapse the enumerators run (see
    // textCollapseMarked) — the report must measure the representative
    // frame the routes actually see.
    val reps = graft.core.Persist.stage(
      textCollapseMarked(df, textCol, idCol)
        .filter(col("id") === col("__rep"))
        .select(col("id"), col(textCol)))
    val nReps = reps.count()
    val frac = math.min(1.0, sampleSize.toDouble / math.max(1L, nReps))
    val sampled = graft.core.TierChoice.sample(reps, textCol, frac, 101L)
    // Exact ground truth: hashed-shingle sets for the sampled docs, then
    // all-pairs merge-kernel Jaccard — C(sampleSize, 2) broadcast
    // comparisons, bounded independent of n.
    // Spread before staging — the nested-loop ground truth parallelizes
    // over the streamed side's partitions (see the pickBands note).
    val state = graft.core.Persist.stage(graft.core.Parallelism.spread(
      dedupState(sampled, textCol, "id", numHashes, shingleLen, withFp = false)
        .select(col("id"), col("sh"))))
    val nSample = state.count()
    val exact = graft.core.Persist.stage(
      state.toDF("id1", "sh1")
        .join(broadcast(state.toDF("id2", "sh2")), col("id1") < col("id2"))
        .filter(graft.functions.VectorExprs.longSetJaccard(col("sh1"), col("sh2"))
          >= threshold)
        .select("id1", "id2"))
    val nExact = exact.count()
    val rows = bandTiers.distinct.sorted.map { bands =>
      val route = minhashPairsExhaustive(reps, textCol, "id", threshold,
        numHashes, bands, shingleLen)
      val matched = route.join(exact, Seq("id1", "id2"), "left_semi").count()
      ("minhash_lsh", bands, numHashes / bands, nSample, nExact, matched,
        if (nExact == 0) 1.0 else matched.toDouble / nExact)
    }
    val spark = df.sparkSession
    import spark.implicits._
    rows.toDF("route", "bands", "rows_per_band", "n_sample", "exact_pairs",
      "matched_pairs", "recall")
  }

  /** Pick the CHEAPEST band tier whose MEASURED pair recall (via
    * [[minhashRecallReport]] — sampled exact ground truth vs the banded
    * route at the real geometry) meets `targetRecall` — the minhash twin
    * of [[EmbedOps.recommendCellProbes]]. Fewer bands = fewer bucket keys
    * = a cheaper candidate join, at the S-curve's recall cost; this turns
    * the recorded report into the tuning decision. Falls back to the
    * highest offered tier (with its insufficient measured recall) when
    * none measures up. Returns (bands, measured recall).
    */
  def recommendBands(df: DataFrame, textCol: String, idCol: String,
      threshold: Double = 0.8, targetRecall: Double = 0.95,
      numHashes: Int = 64, bandTiers: Seq[Int] = Seq(4, 8, 16, 32),
      shingleLen: Int = 3, sampleSize: Int = 2048): (Int, Double) = {
    require(bandTiers.nonEmpty, "recommendBands: need ≥1 tier")
    val rep = minhashRecallReport(df, textCol, idCol, threshold, numHashes,
        bandTiers, shingleLen, sampleSize)
      .select("bands", "recall")
      .collect().map(r => (r.getInt(0), r.getDouble(1))).sortBy(_._1)
    rep.find(_._2 >= targetRecall).getOrElse(rep.last)
  }

  /** Wall-millis of each [[pickBands]] run. Bench drains it into its JSON
    * record so a cross-round read can split "estimator" from "banded
    * route" cost inside the auto gates — the r12 `dedup_minhash_auto`
    * 3.5–11 s variance question was unanswerable without the split.
    */
  private[graft] val pickBandsMs = new graft.core.TimingRing(1024)

  /** The auto route's band-tier picker — the minhash sibling of
    * `EmbedOps.pickCellProbes`: ONE bounded pass answers every tier.
    * Whether a qualifying pair collides in ≥1 band depends only on the
    * pair's OWN signatures (band keys hash fixed signature slices), so a
    * content-hash sample's signatures, computed once, determine per pair
    * and per tier `b` whether any of the `b` slice-bands matches —
    * recall at every tier then falls out of one aggregate over
    * ≤ C(sampleSize, 2) broadcast comparisons, independent of n. Cheap
    * enough to spend by default, unlike [[minhashRecallReport]] which
    * re-runs the full banded route per tier (use that to CERTIFY a
    * config; this to pick one). `excludeExact` drops byte-identical
    * pairs from the ground truth (the exhaustive path measures the raw
    * frame, where exact duplicates — caught at ANY tier, identical
    * signatures — would bias recall up). Returns the cheapest tier
    * (fewest bands = fewest bucket keys) whose sampled recall meets
    * `targetRecall`, else the highest offered tier with its
    * (insufficient) recall.
    */
  private[graft] def pickBands(df: DataFrame, textCol: String, idCol: String,
      threshold: Double, numHashes: Int, tiers: Seq[Int], shingleLen: Int,
      sampleSize: Int, targetRecall: Double,
      excludeExact: Boolean): (Int, Double) =
    pickBandsMs.time(pickBandsImpl(df, textCol, idCol, threshold, numHashes,
      tiers, shingleLen, sampleSize, targetRecall, excludeExact))

  private def pickBandsImpl(df: DataFrame, textCol: String, idCol: String,
      threshold: Double, numHashes: Int, tiers: Seq[Int], shingleLen: Int,
      sampleSize: Int, targetRecall: Double,
      excludeExact: Boolean): (Int, Double) = {
    val ts = tiers.distinct.sorted
    require(ts.nonEmpty && ts.forall(b => b > 0 && numHashes % b == 0),
      s"pickBands: every band tier must divide numHashes=$numHashes")
    val n = df.count()
    val frac = math.min(1.0, sampleSize.toDouble / math.max(1L, n))
    // Content-hash sample membership (seed matches minhashRecallReport —
    // the certify tool sees the same sample the decision spent).
    val sampled = graft.core.TierChoice.sample(df, textCol, frac, 101L)
    // Spread BEFORE staging: the sample inherits the source's layout (one
    // parquet file → ONE partition), and the O(sample²) nested-loop below
    // parallelizes over the STREAMED side's partitions — unspread, the
    // whole estimator ran on a single task (measured 28 s at the
    // full-corpus sf0.1 sample; ~2 s spread across 32).
    // The set size is pre-projected per ROW (one size() per sampled doc)
    // so the O(sample²) nested-loop prune below compares two staged ints
    // instead of re-reading both array headers per PAIR.
    val state = graft.core.Persist.stage(graft.core.Parallelism.spread(
      dedupState(sampled, textCol, idCol, numHashes, shingleLen,
        withFp = excludeExact).withColumn("__nsh", size(col("sh")))))
    val aCols = Seq(col("id").as("id1"), col("sig").as("sig1"),
      col("sh").as("sh1"), col("__nsh").as("nsh1")) ++
      (if (excludeExact) Seq(col("fp").as("fp1")) else Nil)
    val bCols = Seq(col("id").as("id2"), col("sig").as("sig2"),
      col("sh").as("sh2"), col("__nsh").as("nsh2")) ++
      (if (excludeExact) Seq(col("fp").as("fp2")) else Nil)
    val a = state.select(aCols: _*)
    val b = state.select(bCols: _*)
    // Size-ratio prune INSIDE the nested-loop condition: J ≥ t forces
    // min(|A|,|B|) ≥ t·max(|A|,|B|), so a two-int comparison retires most
    // of the O(sample²) pairs before the O(|sh|) merge kernel ever runs.
    // Removes only pairs the exact-Jaccard filter below would drop anyway
    // — every count this estimator reports is unchanged (28 → ~6 s on the
    // full-corpus sf0.1 estimator gate).
    val joined0 = a.join(broadcast(b),
      col("id1") < col("id2") &&
        col("nsh1").cast("double") >= lit(threshold) * col("nsh2") &&
        col("nsh2").cast("double") >= lit(threshold) * col("nsh1"))
    val joined = if (excludeExact) joined0.filter(col("fp1") =!= col("fp2"))
                 else joined0
    def bandMatch(bands: Int): Column = {
      val r = numHashes / bands
      (0 until bands).map(i =>
        slice(col("sig1"), i * r + 1, r) === slice(col("sig2"), i * r + 1, r))
        .reduce(_ || _)
    }
    val tierCols = ts.map(t =>
      sum(when(bandMatch(t), 1L).otherwise(0L)).as(s"t$t"))
    val row = joined
      .filter(graft.functions.VectorExprs.longSetJaccard(col("sh1"), col("sh2"))
        >= threshold)
      .agg(count(lit(1)).as("n"), tierCols: _*).head()
    val nExact = row.getLong(0)
    val recalls = ts.zipWithIndex.map { case (t, i) =>
      (t, if (nExact == 0) 1.0 else row.getLong(i + 1).toDouble / nExact)
    }
    recalls.find(_._2 >= targetRecall).getOrElse(recalls.last)
  }

  /** The auto band-tier decision [[minhashPairs]] makes when `bands` is
    * left at 0, exposed standalone: (chosen bands, sampled recall at it).
    * Same canonical exact collapse, same sample, same one-pass estimator
    * — callers that want to inspect or record the decision without
    * running the route.
    */
  def autoBands(df: DataFrame, textCol: String, idCol: String,
      threshold: Double = 0.8, targetRecall: Double = 0.95,
      numHashes: Int = 64, bandTiers: Seq[Int] = Seq(4, 8, 16, 32),
      shingleLen: Int = 3, sampleSize: Int = 2048): (Int, Double) = {
    val reps = textCollapseMarked(df, textCol, idCol)
      .filter(col("id") === col("__rep"))
      .select(col("id"), col(textCol))
    pickBands(reps, textCol, "id", threshold, numHashes, bandTiers,
      shingleLen, sampleSize, targetRecall, excludeExact = false)
  }

  /** 64-bit SimHash of word tokens, natively: for each bit, sum the ±1
    * contributions of each token hash and take the sign.
    */
  def simhash64(c: Column): Column = {
    val toks = split(lower(trim(c)), "\\s+")
    val hashes = transform(toks, t => xxhash64(t))
    (0 until 64).map { bit =>
      val ones = size(filter(hashes, h => shiftright(h, bit).bitwiseAND(1) === 1))
      val vote = (ones * 2) > size(hashes)
      when(vote, shiftleft(lit(1L), bit)).otherwise(lit(0L))
    }.reduce((x, y) => x.bitwiseOR(y))
  }

  /** Hamming distance between two 64-bit simhashes. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup candidate pairs: bucket by 4 16-bit chunks (any doc
    * pair within hamming distance 3 shares ≥1 chunk), verify hamming ≤
    * maxDist. Same exact pre-collapse and SPANNING pair contract as
    * [[minhashPairs]] (byte-identical texts → star edges at dist 0, the
    * chunk bucketing runs over distinct texts only); `collapseExact =
    * false` restores the exhaustive, duplication-quadratic enumeration.
    */
  def simhashPairs(dfIn: DataFrame, textCol: String, idCol: String,
      maxDist: Int = 3, collapseExact: Boolean = true): DataFrame = {
    if (collapseExact)
      return withExactCollapse(dfIn, textCol, idCol, lit(0).as("dist"))(
        reps => simhashPairs(reps, textCol, "__rep_id", maxDist,
          collapseExact = false))
    val df = graft.core.Parallelism.spread(dfIn)
    // Signature as ONE tight per-row loop (custom expression, same pattern
    // as the minhash signature): per token a single FNV-1a hash and 64 ±1
    // votes, all row-local — no token explode, no full-corpus shuffle into
    // a 65-way aggregate. The only shuffle left is the chunk-bucket join.
    val h = df.select(col(idCol).cast("long").as("id"),
        graft.functions.MinHashExpr.simhash64(
          split(lower(trim(col(textCol))), "\\s+")).as("h"))
      .withColumn("chunk", explode(array((0 until 4).map(i =>
        struct(lit(i).as("i"), shiftright(col("h"), i * 16).bitwiseAND(0xFFFFL).as("v"))): _*)))
      .transform(graft.core.Persist.stage(_))
    val a = h.toDF("id1", "h1", "c1")
    val b = h.toDF("id2", "h2", "c2")
    // The hamming verify rides IN the join condition: a hot chunk bucket
    // (formulaic corpora correlate simhash bits, so 16-bit buckets can
    // collect thousands of docs) then costs one xor+popcount per candidate
    // INSIDE the join loop — only true pairs materialize, shuffle into the
    // dedup, or allocate rows. With the verify applied after the join, a
    // ×30 blow-up of the gate corpus pushed 446M candidate rows through
    // dropDuplicates (~50 s); in-join it is seconds. The candidate
    // EVALUATIONS stay quadratic in the bucket size — that is the simhash
    // trade; minhash's 64-bit band keys are the escape when buckets run
    // hot.
    a.join(b, col("c1") === col("c2") && col("id1") < col("id2") &&
        hamming64(col("h1"), col("h2")) <= maxDist)
      .select(col("id1"), col("id2"), hamming64(col("h1"), col("h2")).as("dist"))
      .dropDuplicates("id1", "id2")
  }

  /** Connected components by iterative min-label propagation (bounded by the
    * duplicate-graph diameter — near-dup clusters are shallow). Returns the
    * ids to KEEP (the min id of each component plus all isolated nodes).
    */
  /** Small edge lists (the overwhelmingly common case — near-dup graphs are
    * sparse) are solved with a driver-side union-find: one collect, zero
    * iterative jobs. Edge lists beyond the threshold use distributed
    * large-star/small-star contraction ([[starEdges]]) — O(log n) rounds
    * regardless of graph shape, so adversarial chain-shaped dup graphs
    * cannot force diameter-many jobs.
    */
  def keepAfterConnectedComponents(nodes: DataFrame, edges: DataFrame,
      maxIter: Int = 25, driverEdgeThreshold: Long = 1000000L): DataFrame =
    keepAfterConnectedComponentsTracked(nodes, edges, maxIter, driverEdgeThreshold)._1

  /** [[keepAfterConnectedComponents]] + the release handle for its residual
    * pin: on the distributed path the RETURNED PLAN reads the final
    * star-contraction round's localCheckpoint blocks (every earlier round
    * and the staged edges are freed internally), so that one edge-set copy
    * stays pinned until the caller materializes the result and passes the
    * handle to [[graft.core.Persist.unstage]]. A long-lived application
    * running dedup per crawl round uses this variant; one-shot jobs can
    * ignore the pin (driver-path handles are empty — nothing survives).
    */
  def keepAfterConnectedComponentsTracked(nodes: DataFrame, edges: DataFrame,
      maxIter: Int = 25, driverEdgeThreshold: Long = 1000000L): (DataFrame, Set[Int]) = {
    // localCheckpoint truncates lineage each round — iterative joins over a
    // huge upstream plan (e.g. the 64-hash minhash tree) would otherwise
    // re-inline it every iteration and blow up planning. Edges are
    // checkpointed FIRST so the expensive candidate-pair computation runs
    // once, not once per direction of the bidirectional union.
    val spark = nodes.sparkSession
    val (e, eIds) = graft.core.Persist.stageTracked(edges)
    try {
      val (result, pinned) =
        if (e.count() <= driverEdgeThreshold) {
          val reps = unionFind(e.select(col("id1").cast("long"), col("id2").cast("long"))
            .collect().map(r => (r.getLong(0), r.getLong(1))))
          val removed = reps.collect { case (id, r) if id != r => id }.toSeq
          import spark.implicits._
          val removedDf = removed.toDF("id")
          (nodes.select(col("id")).join(broadcast(removedDf), Seq("id"), "left_anti"),
            Set.empty[Int])
        } else {
          // At convergence the edge set is a union of per-component stars
          // pointing at the component min, so the keep set is "never a star
          // leaf".
          val (stars, starIds) = starEdges(e, maxIter)
          (nodes.select(col("id"))
            .join(stars.select(col("u").as("id")), Seq("id"), "left_anti"), starIds)
        }
      // The staged edges are fully consumed here — collected to the driver
      // or contracted into starEdges' own checkpointed rounds (eager) — so
      // the returned plan never reads them; free the blocks now rather than
      // pinning one edge-set copy per call for the application's lifetime.
      graft.core.Persist.unstage(spark, eIds)
      (result, pinned)
    } catch { case t: Throwable =>
      graft.core.Persist.unstage(spark, eIds); throw t
    }
  }

  /** Per-document n-gram NOVELTY — the fraction of a doc's distinct word
    * n-grams that appear in no other document (the "novel n-gram
    * fraction" of memorization/redundancy studies; the doc-level
    * complement of corpus-level dedup: a doc can survive dedup yet be
    * assembled almost entirely from text that exists elsewhere).
    * Returns (id, n_grams, n_shared, novelty = 1 − shared/total), with
    * the [[shingles]] whole-doc fallback for texts of ≤ n words.
    *
    * Shape: per-row `array_distinct` BEFORE the explode (a corpus-wide
    * `.distinct()` would pay a full (doc, gram) exchange for a dedup the
    * row can do itself — measured 65.7 s at ×100 with it) → gram
    * document-frequency via groupBy (map-side combine; the gram table is
    * the one big shuffle, the same linear-in-corpus exchange the n-gram
    * decontaminator pays) → join back → per-doc aggregate. No windows,
    * no driver state.
    */
  def ngramNovelty(df: DataFrame, textCol: String, idCol: String,
      n: Int = 3): DataFrame = {
    require(n >= 1, s"ngramNovelty: n $n must be >= 1")
    // Spread the scan: a small-file corpus arrives in one partition and
    // the shingle explode + df aggregate would run single-task.
    val grams = graft.core.Parallelism.spread(df).select(col(idCol).as("id"),
        explode(array_distinct(shingles(col(textCol), n))).as("g"))
    val dfreq = grams.groupBy("g").agg(count(lit(1)).as("df"))
    grams.join(dfreq, "g")
      .groupBy("id").agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("df") > 1, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("novelty", round(
        lit(1.0) - col("n_shared").cast("double") / col("n_grams"), 6))
  }

  /** SOFT deduplication — reweight duplicates instead of dropping them
    * (the SoftDeDup idea, arXiv 2407.06654: hard removal loses the signal
    * that popular content IS popular; down-weighting keeps every doc but
    * caps redundant gradient mass). This is the cluster-size variant:
    * every doc gets `weight = 1/|its duplicate cluster|` over the same
    * minhash pair graph the hard route uses, so each CLUSTER contributes
    * exactly one doc-equivalent of expected training mass (Σ weights =
    * #clusters) and the weights slot directly into a sampling or
    * loss-scaling column. Returns (id, rep_id, cluster_size, weight).
    *
    * Shape: the [[minhashPairs]] + [[componentIds]] path, then cluster
    * sizes via groupBy (map-side partial aggregation — a window
    * `count() OVER (PARTITION BY rep)` would funnel a mega-cluster, the
    * exact pathology dedup exists to handle, through one task) and one
    * shuffle join back on the representative.
    */
  def softDedupWeights(df: DataFrame, textCol: String, idCol: String,
      threshold: Double = 0.5, bands: Int = 16): DataFrame = {
    val pairs = minhashPairs(df, textCol, idCol, threshold = threshold,
      bands = bands)
    val comp = componentIds(
      df.select(col(idCol).cast("long").as("id")), pairs)
    val sizes = comp.groupBy("rep_id")
      .agg(count(lit(1)).as("cluster_size"))
    comp.join(sizes, "rep_id")
      .withColumn("weight",
        round(lit(1.0) / col("cluster_size").cast("double"), 6))
      .select("id", "rep_id", "cluster_size", "weight")
  }

  /** Map every node to its duplicate-cluster REPRESENTATIVE (the component
    * min id; singletons map to themselves) — the audit/enrich form of
    * dedup: join it back to tag docs with their cluster, count cluster
    * sizes, or pick canonical members. Same routing as
    * [[keepAfterConnectedComponents]]: driver union-find under the edge
    * threshold, distributed [[starEdges]] above it.
    */
  def componentIds(nodes: DataFrame, edges: DataFrame, maxIter: Int = 25,
      driverEdgeThreshold: Long = 1000000L, repCol: String = "rep_id"): DataFrame =
    componentIdsTracked(nodes, edges, maxIter, driverEdgeThreshold, repCol)._1

  /** [[componentIds]] + the release handle for the final star round's
    * checkpoint blocks — see [[keepAfterConnectedComponentsTracked]] for
    * the residual-pin contract.
    */
  def componentIdsTracked(nodes: DataFrame, edges: DataFrame, maxIter: Int = 25,
      driverEdgeThreshold: Long = 1000000L,
      repCol: String = "rep_id"): (DataFrame, Set[Int]) = {
    val spark = nodes.sparkSession
    val (e, eIds) = graft.core.Persist.stageTracked(edges)
    try {
      val (mapped, pinned) =
        if (e.count() <= driverEdgeThreshold) {
          val reps = unionFind(e.select(col("id1").cast("long"), col("id2").cast("long"))
            .collect().map(r => (r.getLong(0), r.getLong(1))))
          import spark.implicits._
          (broadcast(reps.toSeq.toDF("id", repCol)), Set.empty[Int])
        } else {
          val (stars, starIds) = starEdges(e, maxIter)
          (stars.select(col("u").as("id"), col("v").as(repCol)), starIds)
        }
      // Consumed (collected or contracted into starEdges' eager rounds):
      // free the staged edges, keepAfterConnectedComponents-style.
      graft.core.Persist.unstage(spark, eIds)
      (nodes.select(col("id"))
        .join(mapped, Seq("id"), "left")
        .select(col("id"), coalesce(col(repCol), col("id")).as(repCol)), pinned)
    } catch { case t: Throwable =>
      graft.core.Persist.unstage(spark, eIds); throw t
    }
  }

  /** Driver union-find: (node → component-min representative) for every
    * node appearing in an edge. Path-compressed; min id always wins a union.
    */
  private def unionFind(pairs: Array[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { val (lo, hi) = (math.min(ra, rb), math.max(ra, rb)); parent(hi) = lo }
    }
    pairs.iterator.flatMap(p => Iterator(p._1, p._2)).toSeq.distinct
      .map(id => id -> find(id)).toMap
  }

  /** Distributed connected components by alternating large-star/small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", ACM SoCC 2014): each round is two narrow (long, long)-only
    * shuffles (a groupBy-min and a join back — no neighbor lists are ever
    * collected), and the edge set contracts to per-component stars in
    * O(log n) rounds regardless of shape. Label propagation, by contrast,
    * needs DIAMETER-many rounds — linear on a chain-shaped dup graph.
    * Returns the converged star edges `(u, v)` with `v` = component min of
    * every non-min member `u`, plus the final round's checkpoint-block ids
    * (the returned plan reads those blocks — the caller owns their release).
    */
  private[graft] def starEdges(edges: DataFrame,
      maxIter: Int = 25): (DataFrame, Set[Int]) = {
    val spark = edges.sparkSession
    // Track each round's checkpoint blocks so the PREVIOUS round can be
    // freed once the next materializes — otherwise k contraction rounds pin
    // k full edge-set copies in executor storage for the application's
    // lifetime. Only the final round stays persisted (the returned plan
    // reads its blocks; lineage is truncated, so they must survive until
    // the caller materializes).
    import graft.core.Persist.{stageTracked, unstage}
    def canon(e: DataFrame): DataFrame = e.filter(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .distinct()
    var (cur, curIds) = stageTracked(canon(
      edges.select(col("id1").cast("long").as("u"), col("id2").cast("long").as("v"))))
    var curCount = cur.count()
    var iter = 0
    var done = curCount == 0
    try {
    while (!done && iter < maxIter) {
      // Large-star: every neighbor LARGER than u re-links to u's local min
      // (min over u's neighbors and u itself).
      val bidir = cur.union(cur.select(col("v").as("u"), col("u").as("v")))
      val lmins = bidir.groupBy("u").agg(min(col("v")).as("m"))
      val large = bidir.join(lmins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), least(col("m"), col("u")).as("v"))
      // Small-star: on larger→smaller edges, u and all its smaller
      // neighbors re-link to the smallest of them.
      val lc = canon(large)
      val smins = lc.groupBy("u").agg(min(col("v")).as("m"))
      val (next, nextIds) = stageTracked(canon(
        lc.join(smins, "u").select(col("v").as("u"), col("m").as("v"))
          .union(smins.select(col("u"), col("m").as("v")))))
      // Fixed point ⇔ disjoint stars (SoCC'14, Thm 1) ⇔ converged. Count
      // equality is a NECESSARY condition and one cheap job over the
      // checkpointed round — only when the count stops shrinking does the
      // exact symmetric-difference probe run (mid-contraction rounds skip
      // the two exceptAll shuffles entirely).
      val nextCount = next.count()
      done = nextCount == curCount &&
        next.exceptAll(cur).union(cur.exceptAll(next)).limit(1).isEmpty
      unstage(spark, curIds)
      cur = next
      curIds = nextIds
      curCount = nextCount
      iter += 1
    }
    // An unconverged edge set is NOT a union of stars: componentIds would
    // emit non-min representatives and the keep set would retain
    // duplicates — silently wrong results, so refuse instead.
    require(done, s"star-contraction did not converge in $maxIter rounds " +
      "(O(log n) expected — raise maxIter)")
    } catch { case t: Throwable =>
      // Non-convergence or a failed round must not pin the current round's
      // blocks for the application's lifetime (best effort: a failure
      // INSIDE a stage call can still leak its partially-pinned round).
      unstage(spark, curIds)
      throw t
    }
    (cur, curIds)
  }

  /** Drop near-duplicates: keep the min-id representative per duplicate
    * cluster discovered by `pairs` (any of the *Pairs methods above).
    */
  /** Repeated-span (boilerplate) statistics — the "remove spans repeated
    * across documents" signal of published corpus pipelines (C4's
    * three-sentence spans, CCNet/RefinedWeb paragraph dedup), at w-word
    * window granularity: for each doc, how many of its distinct w-word
    * windows also appear in ≥ `minDocs`−1 other docs, and what fraction of
    * the doc that is. High fraction ⇒ templated/boilerplate text (or a
    * near-dup the minhash path will also catch).
    *
    * Shape at scale: windows are hashed per-row (tight-loop FNV kernel, no
    * strings), then one groupBy on the 8-byte hash finds cross-doc windows
    * and one groupBy on the doc id counts them back — the same two-shuffle
    * budget as the minhash band join, with only (hash, id) pairs ever
    * shuffled.
    */
  def sharedWindowStats(df: DataFrame, textCol: String, idCol: String,
      window: Int = 8, minDocs: Int = 2): DataFrame = {
    val hashes = array_distinct(graft.functions.MinHashExpr.shingleHashes(
      split(lower(trim(col(textCol))), "\\s+"), window))
    val grams = df.select(col(idCol), explode(hashes).as("__g"))
    // Grams are distinct within a doc, so count(*) per gram == #docs.
    val shared = grams.groupBy(col("__g"))
      .agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select(col("__g"))
    val perDoc = grams.join(shared, Seq("__g"))
      .groupBy(col(idCol)).agg(count(lit(1)).as("__shared"))
    df.select(col(idCol), size(hashes).cast("long").as("total_windows"))
      .join(perDoc, Seq(idCol), "left")
      .withColumn("shared_windows", coalesce(col("__shared"), lit(0L)))
      .withColumn("boiler_frac",
        round(col("shared_windows").cast("double") / col("total_windows"), 4))
      .drop("__shared")
  }

  /** The narrow per-doc dedup state — `(id, [fp,] sig, sh)` — that every
    * index writer and reader must compute IDENTICALLY: computing any part
    * with different expressions or parameters silently desynchronizes
    * writers from readers (stale signature slots, incomparable shingle
    * sets) and poisons recall, so the projection lives here once and the
    * four call sites share it.
    */
  private def dedupState(df: DataFrame, textCol: String, idCol: String,
      numHashes: Int, shingleLen: Int, withFp: Boolean = true,
      winnow: Option[(Int, Int)] = None): DataFrame = {
    val words = split(trim(col(textCol)), "\\s+")
    val fp =
      if (withFp) Seq(graft.functions.TextFunctions.fingerprint(col(textCol)).as("fp"))
      else Nil
    val base = df.select((col(idCol).cast("long").as("id") +: fp) ++ Seq(
      graft.functions.MinHashExpr.minhashSignature(words, shingleLen, numHashes).as("sig"),
      // Sorted: the merge-based LongSetJaccard verify kernel then never
      // pays its defensive per-pair sort (legacy unsorted indexes still
      // verify correctly — the kernel detects and sorts).
      sort_array(array_distinct(
        graft.functions.MinHashExpr.shingleHashes(words, shingleLen))).as("sh")) ++
      // Winnow gram hashes ride the SAME scan but in their own alias so
      // the window-minima lambda below reads a bound array — inlined,
      // every window would re-md5 every gram (the winnowFromHashes
      // hazard, measured ~6×).
      winnow.map { case (k, _) =>
        transform(shingles(col(textCol), k), g => md5(g)).as("__whs")
      }.toSeq: _*)
    winnow match {
      case None => base
      case Some((_, w)) =>
        base.withColumn("wfp", winnowFromHashes(col("__whs"), w))
          .drop("__whs")
    }
  }

  /** Persist a dedup index for INCREMENTAL corpus growth: per doc, the
    * exact-dup fingerprint, the minhash signature, and the hashed-shingle
    * verification set. A later crawl deduplicates against the existing
    * corpus via [[dropAgainstIndex]] without re-reading its text — the only
    * state a 100 TB corpus needs to keep is this narrow
    * (16 B + numHashes×8 B + shingles×8 B)-per-doc table.
    */
  def saveDedupIndex(df: DataFrame, textCol: String, idCol: String, path: String,
      numHashes: Int = 64, shingleLen: Int = 3,
      winnowK: Int = 0, winnowW: Int = 4): Unit = {
    require(winnowK >= 0 && winnowW >= 1,
      s"saveDedupIndex: winnowK $winnowK must be >= 0 (0 = off) and " +
        s"winnowW $winnowW >= 1")
    val winnow = if (winnowK > 0) Some((winnowK, winnowW)) else None
    // Spread BEFORE the state pass: a compactly-written corpus arrives in
    // one scan partition and the signature/winnow kernels (the save's
    // whole cost) would run on ONE task — profiled 1.5–3.4 s single-task
    // jobs in every index-building gate at sf0.1.
    dedupState(graft.core.Parallelism.spread(df), textCol, idCol, numHashes,
        shingleLen, winnow = winnow)
      .write.mode("overwrite").parquet(s"$path/docs")
    // The signature/shingle parameters are part of the index format: a
    // reader recomputing them with different values would silently kill
    // recall (stale signature slots, incomparable shingle sets), so they
    // ride a sidecar and the reader derives them from it. winnowK > 0
    // additionally stores each doc's winnowing fingerprint set, so a new
    // crawl batch can be screened for shared PASSAGES (quotes,
    // plagiarized runs — the locality class global minhash structurally
    // misses) against the corpus without re-reading its text
    // ([[flagPassagesAgainstIndex]]).
    graft.core.MetaIo.write(df.sparkSession, s"$path/meta.json",
      s"""{"numHashes":$numHashes,"shingleLen":$shingleLen""" +
        (if (winnowK > 0) s""","winnowK":$winnowK,"winnowW":$winnowW}"""
         else "}"))
    // A rebuild supersedes any interrupted append — clear its dangling mark.
    graft.core.BatchCommit.clearMark(df.sparkSession, path)
  }

  /** Append a cleaned batch's dedup state to a saved index — the write half
    * of the incremental-crawl loop: [[dropAgainstIndex]] cleans the new
    * batch against the corpus, then its SURVIVORS extend the index here so
    * the next crawl deduplicates against corpus ∪ batch. Signature
    * parameters come from the sidecar (computing with any others would
    * poison recall); cost is one signature scan of the batch plus a
    * column-pruned scan of the index's id column for the newness guard —
    * the existing text/signature state is never read.
    *
    * Id-newness is ENFORCED, not a docstring contract: a batch overlapping
    * the index's ids either fails loudly (`onExistingIds = "error"`, the
    * default — overlap means the caller skipped [[dropAgainstIndex]] or is
    * re-feeding old docs) or is anti-joined down to the genuinely new rows
    * (`"drop"`, for messy sources). Replays of the SAME batch after a crash
    * need no mode at all: the [[graft.core.BatchCommit]] two-phase mark
    * recovers them exactly-once (partial adoption cleaned up, committed
    * batch skipped), so retried crawl batches never double-insert state.
    */
  def appendToDedupIndex(df: DataFrame, textCol: String, idCol: String,
      path: String, onExistingIds: String = "error"): Unit = {
    require(Set("error", "drop").contains(onExistingIds),
      s"appendToDedupIndex: onExistingIds must be error|drop, got $onExistingIds")
    val spark = df.sparkSession
    val (numHashes, shingleLen, _) = indexParams(spark, path, bands = 1)
    // Winnow params from the sidecar: an append to a winnow-carrying
    // index MUST carry the same fingerprint column or passage screening
    // silently loses the appended docs.
    val winnow = indexWinnowParams(spark, path)
    val pre = graft.core.BatchCommit.preflight(df, idCol,
      if (onExistingIds == "error")
        Some(graft.core.BatchCommit.readData(spark, path, "docs").select("id"))
      else None)
    graft.core.BatchCommit.appendExactlyOnce(spark, path, "docs", pre,
      s"appendToDedupIndex: batch contains ids already in the index at " +
        s"$path — append only dropAgainstIndex survivors with new ids, or " +
        "pass onExistingIds=\"drop\" to anti-join them away",
      sidecarState = Map.empty,
      writeStaged = staging => {
        // Plan built inside the closure: the anti-join must list the index
        // AFTER recovery cleanup removed any partial adoption of this batch.
        val batch =
          if (onExistingIds == "drop")
            df.join(graft.core.BatchCommit.readData(spark, path, "docs")
              .select(col("id").as("__eid")),
              col(idCol).cast("long") === col("__eid"), "left_anti")
          else df
        dedupState(graft.core.Parallelism.spread(batch), textCol, idCol,
            numHashes, shingleLen, winnow = winnow)
          .write.mode("overwrite").parquet(staging)
      },
      updateSidecar = _ => ())
  }

  /** Winnow fingerprint parameters of a saved index, if it carries the
    * passage-screening column (absent on pre-winnow indexes).
    */
  private[graft] def indexWinnowParams(
      spark: org.apache.spark.sql.SparkSession,
      path: String): Option[(Int, Int)] = {
    val meta = graft.core.MetaIo.parse(
      graft.core.MetaIo.read(spark, s"$path/meta.json"))
    val k = meta.path("winnowK").intValue()
    if (k > 0) Some((k, meta.path("winnowW").intValue())) else None
  }

  /** Screen a new batch for shared PASSAGES against an indexed corpus —
    * the locality class global minhash structurally misses (a 40-word
    * quoted run inside two otherwise-different documents moves Jaccard
    * by ~nothing): per batch doc, the best-matching corpus doc by shared
    * winnowing fingerprints. The index must have been saved with
    * `winnowK > 0`; the corpus text is never re-read — only the stored
    * print sets. Scale shape follows [[winnowPairs]]: explode ONLY
    * fingerprints, aggregate per-print document frequencies on BOTH
    * sides first, and refuse loudly when the exact batch×index candidate
    * count Σ_fp dfB·dfI exceeds `maxCandidatePairs` (corpus-wide
    * boilerplate fans out quadratically and must be surfaced).
    *
    * Returns `df` + `passage_src` (the matching corpus id with the most
    * shared prints; ties → smallest id; null when no doc shares ≥
    * `minShared`) + `passage_shared` (that count, 0 when none).
    */
  def flagPassagesAgainstIndex(df: DataFrame, textCol: String, idCol: String,
      path: String, minShared: Int = 2,
      maxCandidatePairs: Long = 2_000_000_000L): DataFrame = {
    require(minShared >= 1,
      s"flagPassagesAgainstIndex: minShared $minShared must be >= 1")
    val spark = df.sparkSession
    graft.core.BatchCommit.requireClean(spark, path, "dedup index")
    val (_, _, _) = indexParams(spark, path, bands = 1)
    val winnow = indexWinnowParams(spark, path)
    require(winnow.isDefined,
      s"flagPassagesAgainstIndex: the index at $path carries no winnow " +
        "fingerprints — rebuild it with saveDedupIndex(..., winnowK > 0)")
    val (k, w) = winnow.get
    val (batchFps, blocksB) = graft.core.Persist.stageTracked(
      graft.core.Parallelism.spread(df)
        .filter(col(idCol).isNotNull && col(textCol).isNotNull)
        .select(col(idCol).cast("long").as("__bid"),
          transform(shingles(col(textCol), k), g => md5(g)).as("__hs"))
        .select(col("__bid"), explode(winnowFromHashes(col("__hs"), w)).as("__fp")))
    val idxFps = graft.core.BatchCommit.readData(spark, path, "docs")
      .select(col("id").as("__iid"), explode(col("wfp")).as("__fp"))
    // Exact candidate budget BEFORE the join (the fuzzy-join convention):
    // per-print batch-df × index-df, summed. One narrow aggregate join
    // over the two bounded df tables. Unstage on the THROW path only —
    // the budget guard throws by design, and a long-lived service hitting
    // it repeatedly must not accumulate pinned blocks; on success the
    // returned plan still reads batchFps, so its blocks stay staged.
    try {
      val budget = batchFps.groupBy("__fp").agg(count(lit(1)).as("__db"))
        .join(idxFps.groupBy("__fp").agg(count(lit(1)).as("__di")), Seq("__fp"))
        .agg(coalesce(sum(col("__db") * col("__di")), lit(0L)))
        .head().getLong(0)
      if (budget > maxCandidatePairs) throw new IllegalStateException(
        s"flagPassagesAgainstIndex: fingerprints fan out to $budget " +
          s"batch×index candidate pairs (> maxCandidatePairs = " +
          s"$maxCandidatePairs) — corpus-wide boilerplate dominates; strip " +
          "it first (stripSharedWindows), raise winnowK/winnowW, or raise " +
          "maxCandidatePairs deliberately")
    } catch {
      case t: Throwable =>
        graft.core.Persist.unstage(spark, blocksB)
        throw t
    }
    val best = batchFps.join(idxFps, Seq("__fp"))
      .groupBy("__bid", "__iid").agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= minShared)
      .groupBy("__bid").agg(
        min_by(col("__iid"),
          struct((lit(0L) - col("__n")).as("negn"), col("__iid")))
          .as("passage_src"),
        max(col("__n")).as("passage_shared"))
    df.join(best, col(idCol).cast("long") === col("__bid"), "left")
      .drop("__bid")
      .withColumn("passage_shared", coalesce(col("passage_shared"), lit(0L)))
  }

  /** Drop rows of `df` that duplicate the indexed corpus, exactly
    * (fingerprint anti-join) or nearly (LSH band join against the index
    * signatures, then exact hashed-shingle Jaccard ≥ `threshold`). Rows
    * that only duplicate each other WITHIN `df` are kept — the operator's
    * contract is "new minus existing", composable with [[minhashPairs]] +
    * [[dropDuplicatesByPairs]] for the intra-batch pass.
    *
    * Scale shape: the exact stage shuffles one 16-byte key; the near stage
    * is the [[minhashPairs]] layout across two tables — band buckets carry
    * only (id, bandKey), the candidate dedup only narrow id pairs, and the
    * shingle payloads join once for the verify. Nothing rescans the
    * existing corpus's text.
    */
  /** LSH band keys of a minhash signature as array<long>: one xxhash64 per
    * band with the band index mixed into the hash, so all bands share one
    * key space (cross-band collisions are 2⁻⁶⁴, the repo-wide convention).
    * The SINGLE source of band-key truth for the saved dedup index — the
    * batch reader ([[dropAgainstIndex]]) and the streaming Bloom prefilter
    * ([[graft.streaming.StreamingOps.streamDropAgainstIndex]]) must hash
    * identically or a filter built by one is unprobeable by the other.
    */
  private[graft] def indexBandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      xxhash64(concat_ws(",", lit(b) +:
        (0 until rowsPerBand).map(r => element_at(sig, b * rowsPerBand + r + 1)): _*))
    }: _*)

  /** Read the dedup-index signature parameters persisted by
    * [[saveDedupIndex]]; fails with a layout explanation rather than a raw
    * missing-file error.
    */
  private[graft] def indexParams(spark: org.apache.spark.sql.SparkSession,
      path: String, bands: Int): (Int, Int, Int) = {
    require(graft.core.MetaIo.exists(spark, s"$path/meta.json"),
      s"no dedup index at $path — expected the saveDedupIndex layout " +
        s"($path/docs parquet + $path/meta.json with the signature parameters)")
    val meta = graft.core.MetaIo.parse(graft.core.MetaIo.read(spark, s"$path/meta.json"))
    val numHashes = meta.path("numHashes").intValue()
    val shingleLen = meta.path("shingleLen").intValue()
    require(numHashes > 0 && shingleLen > 0, s"corrupt dedup index meta at $path")
    require(numHashes % bands == 0, s"bands $bands must divide numHashes $numHashes")
    (numHashes, shingleLen, numHashes / bands)
  }

  def dropAgainstIndex(df: DataFrame, textCol: String, idCol: String, path: String,
      threshold: Double = 0.5, bands: Int = 16): DataFrame = {
    val spark = df.sparkSession
    // A dangling append mark means docs/ may hold a partial batch — dedup
    // against it would be nondeterministically incomplete.
    graft.core.BatchCommit.requireClean(spark, path, "dedup index")
    // Signature/shingle parameters come from the index sidecar — recomputing
    // with different values than the writer's would silently zero recall.
    val (numHashes, shingleLen, rowsPerBand) = indexParams(spark, path, bands)
    val idx = graft.core.BatchCommit.readData(spark, path, "docs")
    // ONE scan of the new batch computes all three narrow artifacts; every
    // downstream stage (exact match, banding, verify) reads the staged
    // frame, and only the final anti-join touches the payload again.
    val newBase = dedupState(graft.core.Parallelism.spread(df), textCol, idCol,
        numHashes, shingleLen)
      .transform(graft.core.Persist.stage(_))
    val exactIds = newBase.select(col("id"), col("fp"))
      .join(idx.select(col("fp")).distinct(), Seq("fp"), "left_semi")
      .select(col("id").as("nid"))
    def bucket(base: DataFrame): DataFrame =
      base.select(col("id"),
        explode(indexBandKeys(col("sig"), bands, rowsPerBand)).as("bk"))
    val candidates = bucket(newBase).toDF("nid", "bk1")
      .join(bucket(idx.select(col("id"), col("sig"))).toDF("oid", "bk2"),
        col("bk1") === col("bk2"))
      .select("nid", "oid").distinct()
    val nearIds = candidates
      .join(newBase.select(col("id").as("nid"), col("sh").as("sh1")), "nid")
      .join(idx.select(col("id").as("oid"), col("sh").as("sh2")), "oid")
      .filter(graft.functions.VectorExprs.longSetJaccard(
        col("sh1"), col("sh2")) >= threshold)
      .select(col("nid"))
    val dropIds = exactIds.union(nearIds).distinct()
    df.join(dropIds, col(idCol).cast("long") === col("nid"), "left_anti")
  }

  /** Remove cross-document repeated spans from the text — the cleaning
    * counterpart of [[sharedWindowStats]] (C4 drops three-sentence spans
    * seen before; RefinedWeb/CCNet drop repeated paragraphs; this drops any
    * word covered by a w-word window that appears in ≥ `minDocs` docs).
    * Matching is case-insensitive by default (lowercased window keys) —
    * boilerplate repeats with arbitrary casing; `caseSensitive = true`
    * hashes words verbatim for the byte-exact published ExactSubstr rule.
    * The surviving words keep their original form and single-space
    * joining either way.
    *
    * Output = input + `n_removed` (count of removed word positions) +
    * `cleanCol` (the stripped text). Docs of ≤ w words form one whole-doc
    * window, so a short doc duplicated elsewhere strips to empty — exact
    * short-dup removal for free.
    *
    * Shape at scale, same budget as [[sharedWindowStats]] plus the one
    * payload re-join any enrich needs: windows hash per-row (tight-loop FNV
    * kernel), the shared-window groupBy and the per-doc start-collect
    * shuffle only `(hash)`/`(id, position)` — never text — and the covered
    * mask + rebuild are one O(words + starts) tight-loop expression
    * ([[graft.functions.StripCoveredWords]]). Start sets are bounded by doc
    * length, not corpus size.
    */
  def stripSharedWindows(df: DataFrame, textCol: String, idCol: String,
      window: Int = 8, minDocs: Int = 2, cleanCol: String = "clean_text",
      caseSensitive: Boolean = false): DataFrame = {
    val words = split(trim(col(textCol)), "\\s+")
    val keys = if (caseSensitive) words else transform(words, w => lower(w))
    val hashes = graft.functions.MinHashExpr.shingleHashes(keys, window)
    val withH = df.withColumn("__w", words).withColumn("__h", hashes)
    // Narrow (id, start, windowHash) stream; hashes are positional, so a
    // window repeated WITHIN one doc contributes every start.
    val grams = withH.select(col(idCol), posexplode(col("__h")).as(Seq("__pos", "__g")))
    val shared = grams.select(col("__g"), col(idCol)).distinct()
      .groupBy(col("__g")).agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select(col("__g"))
    val starts = grams.join(shared, Seq("__g"))
      .groupBy(col(idCol)).agg(collect_set(col("__pos")).as("__starts"))
    // Mask + rebuild in one O(words + starts) pass (difference-array coverage)
    // — never O(words × covered); a fully-boilerplate 100k-word doc is linear.
    withH.join(starts, Seq(idCol), "left")
      .withColumn("__sc", graft.functions.MinHashExpr.stripCoveredWords(
        col("__w"), col("__starts"), window))
      .withColumn("n_removed", col("__sc").getField("n_removed"))
      .withColumn(cleanCol, col("__sc").getField("clean"))
      .drop("__w", "__h", "__starts", "__sc")
  }

  /** ExactSubstr deduplication (Lee et al. 2022, arXiv 2107.06499 §4.1):
    * remove every cross-document repeated span of ≥ `minMatchWords`
    * tokens. The published cleaner finds maximal repeated substrings with
    * a suffix array; this is the same cleaned output via window coverage —
    * a repeated span of length L ≥ w is exactly the union of its L−w+1
    * repeated w-windows, and conversely every word covered by a shared
    * w-window sits inside a cross-doc repeated span of ≥ w words — so
    * [[stripSharedWindows]] at `window = minMatchWords` IS the ExactSubstr
    * cleaning rule, with the suffix array replaced by a distributed
    * (hash, doc) aggregate (narrow shuffles of positional hashes, never
    * text; the suffix array is a single-machine construction that has no
    * 100 TB form). Granularity is whitespace words where the paper used
    * BPE tokens (50-token default ≈ this `minMatchWords` default);
    * adjacent/overlapping repeated spans chain into maximal spans through
    * the shared difference-array coverage rebuild. Docs of ≤ w words form
    * one whole-doc window, so short exact duplicates strip to empty.
    *
    * DOCUMENTED DEVIATION from the paper's byte-exact matching: the
    * default folds case (`caseSensitive = false`), which only ever
    * removes MORE than the byte-exact rule — a superset of the published
    * matches, the conservative direction for dedup. Pass
    * `caseSensitive = true` for the paper-exact rule where spans
    * differing only in casing must SURVIVE.
    */
  def exactSubstrClean(df: DataFrame, textCol: String, idCol: String,
      minMatchWords: Int = 50, minDocs: Int = 2,
      cleanCol: String = "clean_text",
      caseSensitive: Boolean = false): DataFrame = {
    require(minMatchWords >= 2,
      s"exactSubstrClean: minMatchWords $minMatchWords must be >= 2")
    stripSharedWindows(df, textCol, idCol, window = minMatchWords,
      minDocs = minDocs, cleanCol = cleanCol, caseSensitive = caseSensitive)
  }

  /** Remove WITHIN-document repeated spans: every word covered by a w-word
    * window whose (lowercased) text already occurred earlier in the SAME
    * document is dropped, keeping the first occurrence — the intra-doc
    * counterpart of [[stripSharedWindows]] (Gopher's duplicated-content
    * cleaning, arXiv 2112.11446 §A1.1, at window granularity; the
    * repetition SIGNALS live in `TextFunctions.ngramRepetition`).
    *
    * Pure per-row map, zero shuffles: positional window hashes (tight-loop
    * FNV kernel) → first-seen duplicate starts (one hash-set pass) → the
    * same O(words + starts) difference-array rebuild as the cross-doc
    * strip. Output = input + `n_removed` + `cleanCol`.
    */
  def stripRepeatedWindows(df: DataFrame, textCol: String,
      window: Int = 8, cleanCol: String = "clean_text"): DataFrame = {
    // Tokenize ONCE into a column: StripCoveredWords is interpreted
    // (CodegenFallback), so a repeated split(trim(..)) subtree would really
    // run twice per row (the stripSharedWindows convention).
    val dupStarts = graft.functions.MinHashExpr.firstSeenDupStarts(
      graft.functions.MinHashExpr.shingleHashes(
        transform(col("__w"), w => lower(w)), window))
    df.withColumn("__w", split(trim(col(textCol)), "\\s+"))
      .withColumn("__sc", graft.functions.MinHashExpr.stripCoveredWords(
        col("__w"), dupStarts, window))
      .withColumn("n_removed", col("__sc").getField("n_removed"))
      .withColumn(cleanCol, col("__sc").getField("clean"))
      .drop("__w", "__sc")
  }

  def dropDuplicatesByPairs(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val keep = keepAfterConnectedComponents(
      df.select(col(idCol).cast("long").as("id")), pairs)
    df.join(keep.withColumnRenamed("id", "__keep_id"),
      col(idCol).cast("long") === col("__keep_id"), "left_semi")
  }

  /** [[dropDuplicatesByPairs]] with a QUALITY keep policy: per duplicate
    * cluster, keep the row maximizing `scoreCol` (ties → min id) instead of
    * the min-id row. Published pipelines keep the longest / highest-quality
    * member of a near-dup cluster, not an arbitrary one — min-id is only
    * right when ids carry no meaning.
    *
    * Shape: the same connected-components mapping (star contraction at
    * scale, union-find below the driver threshold), then ONE extra shuffle
    * on the component id where `row_number() = 1` lowers to
    * WindowGroupLimit — each map task forwards one candidate per cluster,
    * so the pick costs (clusters × map tasks) rows, never the corpus.
    */
  def dropDuplicatesByPairsKeepBest(df: DataFrame, idCol: String,
      pairs: DataFrame, scoreCol: Column): DataFrame = {
    val comp = componentIds(df.select(col(idCol).cast("long").as("id")), pairs)
      .withColumnRenamed("id", "__cc_id")
    df.join(comp, col(idCol).cast("long") === col("__cc_id"))
      .withColumn("__rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("rep_id"))
          .orderBy(scoreCol.desc, col(idCol))))
      .filter(col("__rn") === 1)
      .drop("__rn", "__cc_id", "rep_id")
  }

  /** CROSS-document paragraph dedup — the C4 "remove duplicated lines
    * across the corpus" step (Raffel et al. 2020 §2.2 keep-one policy,
    * applied at paragraph granularity): split every document on `sep`,
    * keep only the GLOBALLY FIRST occurrence of each paragraph (first =
    * lowest (id, position), paragraph identity = the whitespace-normalized
    * lowercased fingerprint), and reassemble the survivors in original
    * order. Documents whose every paragraph lost disappear (their content
    * exists verbatim earlier in the corpus).
    *
    * Shape at 100 TB: posexplode is per-row; the keep-first pick is ONE
    * shuffle on the 16-byte fingerprint where `row_number() = 1` lowers to
    * WindowGroupLimit (map tasks forward one candidate per fingerprint
    * they hold — a boilerplate paragraph repeated a billion times costs
    * each task one row, not a hot reducer); reassembly is one shuffle back
    * on the id. Returns (idCol, textCol) with textCol rebuilt.
    */
  def dedupParagraphs(df: DataFrame, idCol: String, textCol: String,
      sep: String = ". "): DataFrame = {
    val paras = df.select(col(idCol), posexplode(
        split(col(textCol), java.util.regex.Pattern.quote(sep)))
      .as(Seq("__pos", "__para")))
      .withColumn("__fp", graft.functions.TextFunctions.fingerprint(col("__para")))
    val kept = paras.withColumn("__rn", row_number().over(
        Window.partitionBy(col("__fp")).orderBy(col(idCol), col("__pos"))))
      .filter(col("__rn") === 1)
    kept.groupBy(col(idCol))
      .agg(array_join(transform(array_sort(
          collect_list(struct(col("__pos"), col("__para")))),
        x => x("__para")), sep).as(textCol))
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    * SIGMOD 2003 — the MOSS algorithm): hash every `k`-word gram, slide a
    * window of `w` hashes, keep each window's MINIMUM — the locality
    * guarantee minhash structurally lacks: any shared run of at least
    * `w + k − 1` words yields at least one shared fingerprint, while
    * per-doc fingerprint density stays ~2/(w+1) of the grams. (Global
    * minhash samples the whole shingle SET — a 40-word plagiarized
    * passage inside two otherwise-different documents moves Jaccard by
    * ~nothing and is invisible to it; winnowing catches it by
    * construction.) Hashes are md5 hex strings and minima are string
    * minima, so the fingerprint set replays exactly in any engine — the
    * same reason [[FuzzyJoin.containmentPairs]] orders its probe prefix
    * by md5. Pure column composition, codegen'd; O(words × w) per doc
    * with w a small constant. Docs shorter than `k` words fingerprint
    * their whole text (the [[shingles]] convention).
    *
    * Returns `array<string>` of DISTINCT fingerprints (winnowing dedupes
    * repeated window minima; position info is not retained — pair
    * DETECTION wants the set, and [[exactSubstrClean]] is the positional
    * cleaner).
    */
  def winnowFingerprints(text: Column, k: Int = 5, w: Int = 4): Column = {
    require(k >= 1, s"winnowFingerprints: k $k must be >= 1")
    require(w >= 1, s"winnowFingerprints: w $w must be >= 1")
    winnowFromHashes(transform(shingles(text, k), g => md5(g)), w)
  }

  /** The window-minima stage of [[winnowFingerprints]] over an ALREADY
    * MATERIALIZED hash array column. Callers on the hot path must bind
    * the hash array in its own projection first ([[winnowPairs]] does):
    * an inline hash expression sits INSIDE the per-window lambda, and
    * Catalyst does not hoist loop-invariant subtrees out of
    * higher-order-function bodies — every window would recompute every
    * gram's md5, turning the O(words·w) algorithm O(words²) (measured
    * ~6× on the gate corpus; the scoreLangNB double-evaluation hazard's
    * higher-order sibling).
    */
  def winnowFromHashes(hashes: Column, w: Int): Column =
    array_distinct(transform(
      sequence(lit(1), greatest(size(hashes) - (w - 1), lit(1))),
      i => array_min(slice(hashes, i, lit(w)))))

  /** Pairs of documents sharing at least `minShared` winnowing
    * fingerprints — local-similarity detection (quotes, plagiarized
    * passages, shared boilerplate runs of ≥ w+k−1 words) as one
    * inverted-index join. Scale shape follows the fuzzy-join convention:
    * explode ONLY fingerprints (never text), aggregate fingerprint
    * document frequencies first, and refuse LOUDLY when the exact
    * candidate count Σ_fp df·(df−1)/2 exceeds `maxCandidatePairs` —
    * corpus-wide boilerplate fingerprints fan out quadratically and must
    * be surfaced, not silently ground through. Returns (id1, id2,
    * n_shared) with id1 < id2.
    */
  def winnowPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 5, w: Int = 4, minShared: Int = 2,
      maxCandidatePairs: Long = 2_000_000_000L): DataFrame = {
    require(minShared >= 1, s"winnowPairs: minShared $minShared must be >= 1")
    // Hash array bound in its OWN projection: referenced non-cheaply
    // more than once downstream, so CollapseProject's cost check keeps
    // it materialized and each gram's md5 computes exactly once (see
    // [[winnowFromHashes]] — inlined, every window re-hashed every gram).
    val fps = graft.core.Persist.stage(df
      .filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol).as("__id"),
        transform(shingles(col(textCol), k), g => md5(g)).as("__hs"))
      .select(col("__id"),
        explode(winnowFromHashes(col("__hs"), w)).as("__fp")))
    val budget = fps.groupBy("__fp").agg(count(lit(1)).as("__df"))
      .agg(coalesce(sum(col("__df") * (col("__df") - 1)), lit(0L)))
      .head().getLong(0) / 2 // df·(df−1) is even; long math stays exact
    if (budget > maxCandidatePairs) throw new IllegalStateException(
      s"winnowPairs: fingerprints fan out to $budget candidate pairs " +
        s"(> maxCandidatePairs = $maxCandidatePairs) — corpus-wide " +
        "boilerplate dominates; strip it first (stripSharedWindows), " +
        "raise k/w, or raise maxCandidatePairs deliberately")
    fps.toDF("id1", "fp1")
      .join(fps.toDF("id2", "fp2"),
        col("fp1") === col("fp2") && col("id1") < col("id2"))
      .groupBy("id1", "id2").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }
}
