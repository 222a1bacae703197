package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Load test for the flagship scale operators on a synthetic ×N blow-up of
  * the gate corpus — the empirical leg of the 100 TB claims (the per-round
  * bench runs at sf0.1 where every query is seconds; plan shapes are
  * asserted but never load-tested).
  *
  * The blow-up is DETERMINISTIC replication with id offsets: copy k of a
  * document keeps its text when k = 0 or the original doc_id is even
  * (planted exact duplicates at scale — dedup must collapse them) and gains
  * a per-copy suffix otherwise (near-miss variants — dedup must NOT merge
  * them across copies); embeddings replicate verbatim (duplicate vectors
  * stress IVF cell density); events offset both ids so the per-copy hot-key
  * skew pattern survives at N× the rows. Built entirely as one Spark job
  * per table — no driver-side loops.
  *
  * Emits the standard bench JSON line and appends it to
  * `BENCH_HISTORY.jsonl` with `"sf"` marking the blow-up (`<base>xN`), so
  * scale runs sit beside the per-round records without being confused for
  * them.
  *
  * `runMain graft.tools.ScaleStress [gates|fuzzy|io|dsir]`: `gates` (the
  * default) times the scale gates; `fuzzy`, `io` and `dsir` each write
  * their own record over the same blow-up.
  */
object ScaleStress {

  val defaultQueries =
    "dedup_minhash,dedup_simhash,dedup_paragraphs,dedup_clusters," +
      "neardup_pairs_cells,ann_batch_search,bm25_batch_search," +
      "agg_skew_distinct,corpus_global_rank,tfidf_topterms"

  def buildBlowup(spark: SparkSession, base: String, out: String,
      factor: Int, perturb: Double = 0.0): Unit = {
    val k = spark.range(factor.toLong).toDF("__k")

    val docs = spark.read.parquet(s"$base/documents.parquet")
    val maxDoc = docs.agg(max("doc_id")).head().getLong(0) + 1
    docs.crossJoin(k)
      .withColumn("text",
        when(col("__k") === 0 || pmod(col("doc_id"), lit(2)) === 0, col("text"))
          .otherwise(concat(col("text"), lit(" variant "), col("__k"))))
      .withColumn("doc_id", col("doc_id") + col("__k") * maxDoc)
      .drop("__k")
      // Many files, like a real corpus — a compact 1-2-file write would
      // hand every downstream scan a single input split and measure
      // single-core starvation instead of the operator.
      .repartition(64)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    val emb = spark.read.parquet(s"$base/embeddings.parquet")
    val maxVec = emb.agg(max("vec_id")).head().getLong(0) + 1
    // perturb > 0 jitters every copy k > 0 with deterministic
    // per-(vector, copy, slot) noise of that amplitude: verbatim
    // replication keeps the DISTINCT vector count at the base corpus size
    // (the exact pre-collapse absorbs the whole blow-up and the cells
    // route never sees a big distinct set), while perturbed copies form
    // genuine near-dup clusters around each base vector — the real
    // SemDeDup workload, with the distinct count growing ×N.
    val replicated = emb.crossJoin(k)
    val jittered =
      if (perturb <= 0) replicated
      else replicated.withColumn("embedding",
        when(col("__k") === 0, col("embedding")).otherwise(
          transform(col("embedding"), (x, i) =>
            (x + lit(perturb) *
              (pmod(xxhash64(col("vec_id"), col("__k"), i), lit(1000L))
                .cast("double") / 500.0 - 1.0)).cast("float"))))
    jittered
      .withColumn("vec_id", col("vec_id") + col("__k") * maxVec)
      .drop("__k")
      .repartition(64)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    val ev = spark.read.parquet(s"$base/events.parquet")
    val Array(maxEv, maxUser) = ev.agg(max("event_id"), max("user_id"))
      .head().toSeq.map(_.asInstanceOf[Long] + 1).toArray
    ev.crossJoin(k)
      .withColumn("event_id", col("event_id") + col("__k") * maxEv)
      .withColumn("user_id", col("user_id") + col("__k") * maxUser)
      .drop("__k")
      .repartition(64)
      .write.mode("overwrite").parquet(s"$out/events.parquet")

    // The geometry marker: a PREBUILT reuse labels its records from what
    // the dataset actually IS, not from whatever env vars happen to be set
    // at bench time (a perturbed blow-up re-benched without the perturb
    // env would otherwise publish recall numbers under the wrong label).
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(out, "blowup.json"),
      s"""{"base":"$base","factor":$factor,"perturb":$perturb}""")
  }

  /** sf label of a blow-up dir: from its `blowup.json` marker when present
    * (authoritative — the dataset's real geometry), else from the given
    * fallback values (pre-marker dirs).
    */
  def sfLabel(out: String, base: String, factor: Int, perturb: Double): String = {
    val marker = java.nio.file.Paths.get(out, "blowup.json")
    val (b, f, p) =
      if (java.nio.file.Files.exists(marker)) {
        val txt = java.nio.file.Files.readString(marker)
        // The closing quote must be OPTIONAL: "factor":1000 is an
        // unquoted JSON number — a mandatory quote made the field
        // silently fall back to the caller's value (masked when the caller
        // passes the real factor as the fallback; exposed by a caller
        // passing 0).
        def field(k: String) = (s""""$k":"?([^",}]+?)"?[,}]""".r)
          .findFirstMatchIn(txt).map(_.group(1))
        (field("base").getOrElse(base),
          field("factor").map(_.toInt).getOrElse(factor),
          field("perturb").map(_.toDouble).getOrElse(perturb))
      } else (base, factor, perturb)
    val tag = if (p > 0) s"~p$p" else ""
    s"${b}x$f$tag"
  }

  private val scenarios = Seq("gates", "fuzzy", "io", "dsir")

  /** The scenario `args` name (`gates` when none), or the usage message. */
  private[graft] def scenario(args: Array[String]): Either[String, String] =
    args match {
      case Array() => Right("gates")
      case Array(s) if scenarios.contains(s) => Right(s)
      case _ => Left(s"usage: graft.tools.ScaleStress [${scenarios.mkString("|")}]")
    }

  def main(args: Array[String]): Unit = {
    val which = scenario(args).fold(Dev.usage, identity)
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR", "30").toInt
    // SPARK_GRAFT_SCALE_PREBUILT reuses an existing blow-up dir: the
    // measurement session then starts clean (no residue from the build
    // job), and iterating on one query doesn't pay the build each run.
    // Parsed ONCE, loudly, before any expensive work — a malformed value
    // must not kill the run after the build/bench already paid.
    val perturb = sys.env.get("SPARK_GRAFT_SCALE_PERTURB") match {
      case None | Some("") => 0.0
      case Some(v) => v.toDoubleOption.getOrElse(sys.error(
        s"SPARK_GRAFT_SCALE_PERTURB=[$v] is not a number"))
    }
    val passes = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "1").toInt)
    val only = sys.env.getOrElse("SPARK_GRAFT_SCALE_QUERIES", defaultQueries)
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
    val names = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.contains(n) }
    require(which != "gates" || names.map(_._1).toSet == only,
      s"unknown scale queries: ${only -- names.map(_._1)}")
    val spark = Dev.local(Dev.cpus)
    val out = sys.env.get("SPARK_GRAFT_SCALE_PREBUILT").getOrElse {
      val d = java.nio.file.Files.createTempDirectory("graft_scale").toString
      val (_, sec) = Dev.time(buildBlowup(spark, base, d, factor, perturb))
      System.err.println(f"[scale-stress] blow-up ×$factor built in " +
        f"$sec%.1f s at $d")
      d
    }
    val sf = sfLabel(out, base, factor, perturb)
    which match {
      case "gates" => gates(spark, out, sf, names, passes)
      case "fuzzy" => fuzzy(spark, out, sf)
      case "io" => io(spark, out, sf)
      case "dsir" => dsir(spark, out, sf)
    }
    spark.stop()
  }

  private def emit(rec: String): Unit = { println(rec); Dev.appendHistory(rec) }

  /** The standard bench record over the named gates, then (unless
    * SPARK_GRAFT_SCALE_RECALL=0) the approximate-route recall record.
    */
  private def gates(spark: SparkSession, out: String, sf: String,
      names: Seq[(String, (SparkSession, String) => DataFrame)],
      passes: Int): Unit = {
    val loadBefore = graft.Bench.loadAvg()
    val outcome = graft.Bench.timeAll(spark, out, names, passes)
    val json = graft.Bench.renderJson(outcome, sf,
      passes, loadBefore, graft.Bench.loadAvg())
    emit(json)
    // Approximate-route RECALL at the blow-up's REAL geometry — the oracle
    // gates pin provably-exhaustive configs, so this record is the only
    // artifact measuring what the approximation actually costs at scale:
    // sampled exact ground truth vs the cells route (per probe tier) and
    // vs banded minhash LSH (per band tier). SPARK_GRAFT_SCALE_RECALL=0
    // skips it when iterating on a single timing query.
    if (sys.env.getOrElse("SPARK_GRAFT_SCALE_RECALL", "1") == "1") {
      val t0 = System.nanoTime()
      val emb = spark.read.parquet(s"$out/embeddings.parquet")
        .withColumnRenamed("embedding", graft.operators.EmbedOps.vecCol("emb"))
      val cells = graft.operators.EmbedOps.neardupRecallReport(
          emb, "emb", "vec_id", threshold = 0.45,
          cellProbesTiers = Seq(1, 2, 4))
        .orderBy("cell_probes")
        .select("cell_probes", "n_sample", "exact_pairs", "matched_pairs",
          "recall").collect()
      val docs = spark.read.parquet(s"$out/documents.parquet")
      val mh = graft.operators.Dedup.minhashRecallReport(
          docs, "text", "doc_id", threshold = 0.8,
          bandTiers = Seq(8, 16, 32))
        .orderBy("bands")
        .select("bands", "n_sample", "exact_pairs", "matched_pairs",
          "recall").collect()
      def tiers(rows: Array[org.apache.spark.sql.Row], key: String): String =
        rows.map(r => s"""{"$key":${r.getInt(0)},"n_sample":${r.getLong(1)},""" +
          s""""exact_pairs":${r.getLong(2)},"matched_pairs":${r.getLong(3)},""" +
          f""""recall":${r.getDouble(4)}%.4f}""").mkString("[", ",", "]")
      // The recall-aware AUTO decision at this geometry: what probe tier
      // the default neardupPairs/semDedup route would actually pick, and
      // the sampled recall it measured — the record that shows the auto
      // route hitting (or honestly missing) its 0.95 default target.
      val (autoProbes, autoRecall) = graft.operators.EmbedOps.autoCellProbes(
        emb, "emb", "vec_id", threshold = 0.45, targetRecall = 0.95)
      // The minhash twin: what band tier the bands = 0 default would pick
      // at this geometry, from the same bounded one-pass estimator the
      // route spends.
      val (autoBands, autoBandRecall) = graft.operators.Dedup.autoBands(
        docs, "text", "doc_id", threshold = 0.8, targetRecall = 0.95)
      val rec = s"""{"metric":"approx_route_recall","sf":"$sf",""" +
        s""""cells_threshold":0.45,"cells":${tiers(cells, "cell_probes")},""" +
        s""""auto":{"target":0.95,"cell_probes":$autoProbes,""" +
        f""""recall":$autoRecall%.4f},""" +
        s""""minhash_threshold":0.8,"minhash":${tiers(mh, "bands")},""" +
        s""""minhash_auto":{"target":0.95,"bands":$autoBands,""" +
        f""""recall":$autoBandRecall%.4f},""" +
        f""""sec":${(System.nanoTime() - t0) / 1e9}%.1f}"""
      emit(rec)
    }
  }

  /** Scale record for the fuzzy-join family: ED-Join over the corpus's
    * distinct 3-word phrases and containment over full documents. The
    * blow-up corpus is adversarial for containment — a ~30-word vocabulary
    * makes every shingle ultra-common — so this is exactly the geometry
    * where the md5-ordered probe goes quadratic and `orderByFrequency` has
    * to earn its two extra shuffles; both variants are timed so the doc
    * claim is a measured number.
    */
  private def fuzzy(spark: SparkSession, dir: String, sf: String): Unit = {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    // ED-Join: the corpus's distinct 3-word phrases within levenshtein 2
    // (the edit_distance_join gate's workload, unsliced).
    val phrases = d.select(
        explode(graft.operators.Dedup.shingles(col("text"), 3)).as("p"))
      .distinct()
    // SPARK_GRAFT_FUZZY_ED=0 skips the ED leg: the perturbed ×100 corpus
    // makes the phrase multiset quasi-unique (tens of millions of
    // near-random short strings at pairwise distance ≈ 2), a geometry
    // edit-distance joins are NOT for — its scale record is the ×30 run.
    val edOn = sys.env.getOrElse("SPARK_GRAFT_FUZZY_ED", "1") == "1"
    val nPhrases = if (edOn) phrases.count() else -1L
    val edQ = sys.env.getOrElse("SPARK_GRAFT_FUZZY_Q", "2").toInt
    val (edPairsFreq, edFreqSec) =
      if (edOn) Dev.time(graft.operators.FuzzyJoin.editDistanceSelfJoin(
        phrases.withColumn("id", col("p")), "id", "p", maxDist = 2, q = edQ,
        orderByFrequency = true).count())
      else ((-1L, -1.0))
    // Containment at c = 0.8 over FULL documents, both probe orders. A
    // budget refusal is an HONEST outcome at gram-dense geometries — the
    // record carries the exact candidate count the guard measured.
    val (contPairsFreq, contFreqSec) =
      try Dev.time(graft.operators.FuzzyJoin.containmentPairs(
        d, "doc_id", "text", 3, 0.8, orderByFrequency = true).count())
      catch {
        case e: IllegalStateException if e.getMessage.contains("maxCandidatePairs") =>
          val n = "fan out to (\\d+)".r.findFirstMatchIn(e.getMessage)
            .map(_.group(1).toLong).getOrElse(-1L)
          System.err.println(s"[fuzzy-scale] containment REFUSED: $n candidates")
          ((-n, -1.0))
      }
    // The md5-order baselines are the expensive leg on this gram-dense
    // geometry; skip with SPARK_GRAFT_FUZZY_HASH_ORDER=0 when iterating.
    val hashBudget = sys.env.getOrElse("SPARK_GRAFT_FUZZY_HASH_ORDER", "1") == "1"
    val (edPairsHash, edHashSec) =
      if (hashBudget && edOn) Dev.time(graft.operators.FuzzyJoin.editDistanceSelfJoin(
        phrases.withColumn("id", col("p")), "id", "p", maxDist = 2,
        q = edQ).count())
      else ((-1L, -1.0))
    require(!hashBudget || !edOn || edPairsHash == edPairsFreq,
      s"ED gram orders must agree: $edPairsHash vs $edPairsFreq")
    val (contPairsHash, contHashSec) =
      if (hashBudget && contPairsFreq >= 0)
        Dev.time(graft.operators.FuzzyJoin.containmentPairs(
          d, "doc_id", "text", 3, 0.8).count())
      else ((-1L, -1.0))
    require(!hashBudget || contPairsFreq < 0 || contPairsHash == contPairsFreq,
      s"probe orders must agree: $contPairsHash vs $contPairsFreq")
    emit(s"""{"metric":"fuzzy_join_scale","sf":"$sf","ed_q":$edQ,""" +
      s""""ed_phrases":$nPhrases,"ed_pairs":$edPairsFreq,""" +
      s""""ed_freq_sec":$edFreqSec,"ed_hash_sec":$edHashSec,""" +
      s""""cont_pairs":$contPairsFreq,"cont_freq_sec":$contFreqSec,""" +
      s""""cont_hash_sec":$contHashSec}""")
  }

  /** Container-format throughput at scale: WebDataset tar shards and WET
    * gzip segments, write + full read-back. The shard/segment count is
    * sized to the executor count (one streamed file per task — the
    * designed granularity), so the record answers the 100 TB question
    * directly: what does exporting and re-reading a corpus slice cost per
    * docs/second when every task streams one container?
    */
  private def io(spark: SparkSession, dir: String, sf: String): Unit = {
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .withColumn("key", format_string("%012d", col("doc_id")))
      .withColumn("uri", concat(lit("http://docs/"), col("doc_id")))
    val nDocs = d.count()
    val shards = Dev.cpus
    val tarDir = java.nio.file.Files.createTempDirectory("graft_io_tar").toString
    val (_, tarWriteSec) = Dev.time(graft.connectors.TarShards.writeShards(
      d, "key", Map("txt" -> col("text")), tarDir, shards))
    val (tarRows, tarReadSec) = Dev.time(
      graft.connectors.TarShards.readShards(spark, tarDir + "/*.tar").count())
    require(tarRows == nDocs, s"tar roundtrip lost rows: $tarRows vs $nDocs")
    val wetDir = java.nio.file.Files.createTempDirectory("graft_io_wet").toString
    val (_, wetWriteSec) = Dev.time(graft.connectors.WarcLite.writeWetSegments(
      d, "key", "uri", "text", wetDir, shards, date = "2026-01-01T00:00:00Z"))
    val (wetRows, wetReadSec) = Dev.time(
      graft.connectors.WarcLite.toDf(spark, wetDir + "/*.warc.gz").count())
    require(wetRows == nDocs, s"wet roundtrip lost rows: $wetRows vs $nDocs")
    val wholeDir = java.nio.file.Files.createTempDirectory("graft_io_wetw").toString
    val (_, wetWholeSec) = Dev.time(graft.connectors.WarcLite.writeWetSegments(
      d, "key", "uri", "text", wholeDir, shards,
      date = "2026-01-01T00:00:00Z", memberPerRecord = false))
    val (wetWholeRows, wetWholeReadSec) = Dev.time(
      graft.connectors.WarcLite.toDf(spark, wholeDir + "/*.warc.gz").count())
    require(wetWholeRows == nDocs,
      s"whole-member wet roundtrip lost rows: $wetWholeRows vs $nDocs")
    emit(s"""{"metric":"io_container_scale","sf":"$sf","docs":$nDocs,""" +
      s""""shards":$shards,"tar_write_sec":$tarWriteSec,""" +
      s""""tar_read_sec":$tarReadSec,"wet_write_sec":$wetWriteSec,""" +
      s""""wet_read_sec":$wetReadSec,"wet_whole_write_sec":$wetWholeSec,""" +
      s""""wet_whole_read_sec":$wetWholeReadSec}""")
  }

  /** What a caller-supplied normalizer saves
    * [[graft.operators.QualityClassifier.importanceResample]] at scale —
    * the ×1000 record behind the `normalizer` parameter's doc claim. The
    * auto path runs the dsirLogWeights fold TWICE (a max() projection,
    * then the acceptance filter); the normalized path runs it once. A
    * caller amortizes the max across epochs/batches over the same fit (or
    * supplies an analytic bound), so the fair comparison is fold+fold vs
    * fold, with the one-off max scan reported separately.
    */
  private def dsir(spark: SparkSession, dir: String, sf: String): Unit = {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    // The dsir_resample gate's fit, on the blow-up corpus.
    val m = graft.operators.QualityClassifier.fitDsir(
      d, d.filter(col("source").isin("src0", "src1", "src2", "src3", "src4")),
      "text")
    val w = graft.operators.QualityClassifier.dsirLogWeights(d, "text", m)
    // Warm the scan cache once so neither path pays first-touch IO.
    w.select(count(lit(1))).head()
    val (mx, maxSec) = Dev.time(
      w.agg(max(col("dsir_logw"))).head().getDouble(0))
    val (nAuto, autoSec) = Dev.time(
      graft.operators.QualityClassifier.importanceResample(
        w, "doc_id", "dsir_logw", salt = "s7").count())
    val (nNorm, normSec) = Dev.time(
      graft.operators.QualityClassifier.importanceResample(
        w, "doc_id", "dsir_logw", salt = "s7",
        normalizer = Some(mx)).count())
    require(nAuto == nNorm,
      s"normalized path must keep the same rows: $nAuto vs $nNorm")
    emit(s"""{"metric":"dsir_resample_norm","sf":"$sf",""" +
      s""""rows_kept":$nNorm,"auto_sec":$autoSec,"norm_sec":$normSec,""" +
      s""""max_scan_sec":$maxSec}""")
  }
}
