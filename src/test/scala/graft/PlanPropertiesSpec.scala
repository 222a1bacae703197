package graft

/** Regression tests for the scale-critical *physical plan* properties — a
  * query that silently loses its pushdown or broadcast still returns correct
  * rows at sf0.01 but dies at 100 TB, so the plans themselves are asserted.
  */
class PlanPropertiesSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def planOf(name: String): String =
    Queries.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("q6 pushes range predicates into the parquet scan") {
    val p = planOf("q6_filter")
    assert(p.contains("PushedFilters: [IsNotNull(l_discount)"), p.take(2000))
    assert(p.contains("GreaterThanOrEqual(l_discount,0.05)"))
  }

  test("q3 top-n lowers to TakeOrderedAndProject (no global sort)") {
    assert(planOf("q3_topn").contains("TakeOrderedAndProject"))
  }

  test("q2 joins dims via broadcast hash join") {
    val p = planOf("q2_join_agg")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q1 prunes the scan to the referenced columns") {
    val p = planOf("q1_agg")
    // unreferenced lineitem columns must not appear anywhere in the plan
    assert(!p.contains("l_shipdate") && !p.contains("l_partkey") && !p.contains("l_tax"))
    assert(p.contains("l_quantity"))
  }

  test("dedup_minhash shuffles on band buckets, not a cross product") {
    assert(!planOf("dedup_minhash").contains("CartesianProduct"))
  }

  test("semSimJoin top-k limits map-side before the shuffle (WindowGroupLimit)") {
    // The per-left top-k must be applied BEFORE the Exchange: Spark lowers
    // the rank-filter window to a partial WindowGroupLimit below the shuffle,
    // so only ≤ k rows per left key move — not the |L|×|R| pair stream. If a
    // plan change (extra window function, different filter shape) drops the
    // partial limit, the full candidate stream shuffles and dies at scale.
    val p = planOf("sem_sim_join_cos")
    assert(p.contains("WindowGroupLimit"), p.take(3000))
    val firstLimit = p.indexOf("WindowGroupLimit")
    val lastLimit = p.lastIndexOf("WindowGroupLimit")
    val exchange = p.indexOf("Exchange", firstLimit)
    // Two-phase: a partial limit below the exchange (later in the plan
    // string = upstream) and a final one above it.
    assert(firstLimit >= 0 && lastLimit > firstLimit, p.take(3000))
    assert(exchange > firstLimit && exchange < lastLimit,
      s"expected partial WindowGroupLimit upstream of the Exchange\n${p.take(3000)}")
  }

  test("LSH candidate shuffles are narrow: no vector crosses banding or pair dedup") {
    // The band-bucket exchange and the candidate pair-dedup exchange must
    // carry only (surrogate id, band key) / (id, id) — the float vectors
    // re-join once for the verify, never ×bands through the bucket join.
    // A regression here is a bands× shuffle-byte multiplier on the flagship
    // dedup/sim-join path at corpus scale.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.ArrayType
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // Test data is tiny — without this every join broadcasts and there is
    // no exchange to assert on. At corpus scale these joins shuffle.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      def shufflesOf(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.executedPlan.collect { case s: ShuffleExchangeExec => s }
      def assertNarrow(shuffles: Seq[ShuffleExchangeExec], bandNames: Set[String],
          pairNames: Set[String]): Unit = {
        val band = shuffles.filter(_.output.exists(a => bandNames.contains(a.name)))
        assert(band.nonEmpty, "expected a band-bucket exchange in the plan")
        band.foreach { s =>
          assert(!s.output.exists(_.dataType.isInstanceOf[ArrayType]),
            s"vector crossed the band exchange: ${s.output.map(_.name)}")
        }
        val pairDedup = shuffles.filter(_.output.map(_.name).toSet == pairNames)
        pairDedup.foreach { s =>
          assert(!s.output.exists(_.dataType.isInstanceOf[ArrayType]),
            s"vector crossed the pair-dedup exchange: ${s.output.map(_.name)}")
        }
      }
      assertNarrow(shufflesOf(Queries.queries("sem_sim_join_lsh")(spark, dir)),
        Set("__bk"), Set("__simjoin_lid", "__simjoin_rid"))
      // neardupPairs on its forced-LSH branch, through the operator API.
      val e = spark.read.parquet(s"$dir/embeddings.parquet")
        .withColumnRenamed("embedding", graft.operators.EmbedOps.vecCol("emb"))
      assertNarrow(shufflesOf(graft.operators.EmbedOps.neardupPairs(
        e, "emb", "vec_id", threshold = 0.45, useLsh = Some(true))),
        Set("bk1", "bk2"), Set("id1", "id2"))
      // …and on the cell-partitioned route (lshRowThreshold = 0 forces it):
      // the cell-bucket exchanges and the pair-dedup exchange stay narrow —
      // vectors move exactly once through the fp-collapse window and once
      // into the verify join, never ×probes through the cell join.
      assertNarrow(shufflesOf(graft.operators.EmbedOps.neardupPairs(
        e, "emb", "vec_id", threshold = 0.45, lshRowThreshold = 0L)),
        Set("c1", "c2"), Set("id1", "id2"))
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prev)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("bm25 ad-hoc search: no explode, broadcast stats, TakeOrderedAndProject top-k") {
    val p = planOf("bm25_search")
    assert(!p.contains("Generate"), "bm25Search must not explode the corpus:\n" + p.take(2000))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "the one-row stats frame must broadcast")
    assert(p.contains("TakeOrderedAndProject"), "top-k must not be a global sort")
    assert(!p.contains("CartesianProduct"))
  }

  test("LexIndex.search reads only pruned postings buckets — no corpus-sized side table") {
    // Doc lengths are denormalized into the posting rows at build time, so a
    // query's entire IO is the partition-pruned postings scan. A regression
    // (e.g. re-introducing a doclen join) makes every query pay a
    // corpus-sized read regardless of bucket pruning.
    import org.apache.spark.sql.execution.FileSourceScanExec
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val path = java.nio.file.Files.createTempDirectory("lexplan").toString + "/lex"
      graft.operators.LexIndex.save(docs, "text", "doc_id", path, nBuckets = 8)
      val plan = graft.operators.LexIndex.search(spark, path, "spark join", k = 10)
        .queryExecution.executedPlan
      val scans = plan.collect { case s: FileSourceScanExec => s }
      assert(scans.nonEmpty)
      scans.foreach { s =>
        val loc = s.relation.location.rootPaths.mkString(",")
        assert(loc.contains("postings"), s"unexpected scan of $loc")
        assert(s.partitionFilters.nonEmpty,
          s"postings scan must prune on ${graft.operators.LexIndex.bucketCol}: $s")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("tfidf rank limits map-side; unigram surprisal scoring is a pure scan") {
    // tfidf: the per-doc top-k must lower to two-phase WindowGroupLimit so
    // only ≤ k rows per doc cross the final exchange (the semSimJoin pin).
    val p = planOf("tfidf_topterms")
    assert(p.contains("WindowGroupLimit"), p.take(2000))
    // surprisal: the vocabulary rides the plan as a literal map — scoring
    // must add NO exchange beyond the parquet scan (vocab build is a
    // separate, earlier pass).
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val plan = graft.operators.CorpusPrep
      .unigramSurprisal(docs, "text", Map("a" -> 3L, "b" -> 1L), 4L)
      .queryExecution.executedPlan
    assert(plan.collect { case s: ShuffleExchangeExec => s }.isEmpty,
      s"surprisal scoring must not shuffle: ${plan.toString.take(1200)}")
  }

  test("the round-11 per-row kernels score as pure scans: bigram-LM ppl, " +
      "blocklist matching, and url_normalize add zero exchanges") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    def assertPure(df: org.apache.spark.sql.DataFrame, what: String): Unit = {
      val plan = df.queryExecution.executedPlan
      assert(plan.collect { case s: ShuffleExchangeExec => s }.isEmpty,
        s"$what must not shuffle: ${plan.toString.take(1200)}")
    }
    // the model rides a broadcast — scoring is one narrow map
    val lm = graft.operators.NgramLm.NgramLM(
      vocab = Map("a" -> 0, "b" -> 1),
      uniProb = Array(0.5, 0.375, 0.125),
      order = 2,
      tables = IndexedSeq(Map(graft.functions.LookupExprs.gramHash(
        Array(2L, 0L), 0, 2) -> 1.0)),
      lambdas = IndexedSeq(0.7), alpha = 1.0, minCount = 1L,
      minNgramCount = 1L, nTokens = 5L)
    assertPure(graft.operators.NgramLm.perplexity(docs, "text", lm),
      "bigram-LM scoring")
    assertPure(docs.select(graft.functions.TextFunctions.blocklistMatches(
      org.apache.spark.sql.functions.col("text"), Seq("spark", "slow query"))),
      "blocklist matching")
    assertPure(docs.select(graft.functions.UrlExpr.urlNormalize(
      org.apache.spark.sql.functions.col("text"))), "url_normalize")
  }

  test("decontamination exact tier broadcasts the eval grams to the corpus scan") {
    // The gram-membership join must be the explicit broadcast (eval sets are
    // small by definition); the later corpus⋈hits re-join may legitimately
    // shuffle — hit counts are unbounded — so only the gram join is pinned.
    val p = planOf("decontaminate_ngram")
    assert(p.contains("BroadcastHashJoin"), "eval grams must broadcast:\n" + p.take(2000))
  }

  test("chunkDocuments is a pure per-row explode: zero exchanges, zero windows") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val plan = graft.operators.CorpusPrep
      .chunkDocuments(docs, "text", chunkTokens = 64, overlap = 16)
      .queryExecution.executedPlan
    val shuffles = plan.collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.isEmpty, s"chunking must not shuffle: ${plan.toString.take(1500)}")
    assert(!plan.toString.contains("Window"), plan.toString.take(1500))
  }

  test("stripSharedWindows gram shuffles carry hashes and ids only — never text") {
    // The shared-window groupBy and the per-doc start-collect move
    // (hash, id, position) tuples; the text/word arrays re-join exactly once
    // for the rebuild. A regression here shuffles the corpus text ×windows.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.{ArrayType, StringType}
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val plan = graft.operators.Dedup
        .stripSharedWindows(docs, "text", "doc_id", window = 8)
        .queryExecution.executedPlan
      val gramShuffles = plan.collect { case s: ShuffleExchangeExec
        if s.output.exists(_.name == "__g") => s }
      assert(gramShuffles.nonEmpty, "expected gram-keyed exchanges")
      gramShuffles.foreach { s =>
        assert(!s.output.exists(a => a.dataType.isInstanceOf[ArrayType] ||
            a.dataType == StringType),
          s"text crossed a gram exchange: ${s.output.map(a => s"${a.name}:${a.dataType}")}")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("dropAgainstIndex band and candidate shuffles are narrow") {
    // Cross-table LSH: the band-bucket join and the (nid, oid) candidate
    // dedup must not carry signatures or shingle sets — those re-join once
    // for the Jaccard verify.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.ArrayType
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val path = java.nio.file.Files.createTempDirectory("plan_incr").toString + "/idx"
      graft.operators.Dedup.saveDedupIndex(
        docs.filter(org.apache.spark.sql.functions.col("doc_id") % 2 === 0),
        "text", "doc_id", path)
      val plan = graft.operators.Dedup.dropAgainstIndex(
          docs.filter(org.apache.spark.sql.functions.col("doc_id") % 2 === 1),
          "text", "doc_id", path, threshold = 0.5)
        .queryExecution.executedPlan
      val shuffles = plan.collect { case s: ShuffleExchangeExec => s }
      val bandOrPair = shuffles.filter(s => s.output.exists(a =>
        a.name == "bk1" || a.name == "bk2") ||
        s.output.map(_.name).toSet == Set("nid", "oid"))
      assert(bandOrPair.nonEmpty, "expected band/candidate exchanges")
      bandOrPair.foreach { s =>
        assert(!s.output.exists(_.dataType.isInstanceOf[ArrayType]),
          s"wide column crossed a narrow exchange: ${s.output.map(_.name)}")
      }
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prev)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("weighted mixing is a pure scan filter; vocab top-k avoids a global sort") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val mixPlan = graft.operators.CorpusPrep.mixByFractions(
        docs, "lang", Map("en" -> 1.0, "de" -> 0.5), "doc_id", salt = "s")
      .queryExecution.executedPlan
    assert(mixPlan.collect { case s: ShuffleExchangeExec => s }.isEmpty,
      s"mixing must not shuffle: ${mixPlan.toString.take(1200)}")
    val vocabPlan = planOf("vocab_topk")
    assert(vocabPlan.contains("TakeOrderedAndProject"), vocabPlan.take(1500))
    assert(vocabPlan.contains("partial_count"),
      "word counts must combine map-side before the shuffle:\n" + vocabPlan.take(1500))
  }

  test("semAgg pack stage has no global window or single-partition exchange") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val cur = (0 until 500).map(i => (i.toLong, s"[Text]: «doc $i»\n"))
      .toDF("__ord", "__doc").repartition(8)
    val packed = graft.operators.SemAgg.packStage(cur, Nil, budget = 400L, parts = 8)
    val plan = packed.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"), plan)
    assert(!plan.contains("Window"), plan)
    // Packing still respects the fan-in ≥ 2 contract (only a trailing pack
    // per partition may hold a single doc), so every round strictly shrinks.
    val sizes = packed.select(size(col("__docs")).as("n")).as[Int].collect()
    assert(sizes.sum == 500)
    assert(sizes.count(_ == 1) <= 8)
    assert(sizes.length <= 500 / 2 + 8)
  }

  test("reservoirByKey limits map-side: partial WindowGroupLimit below the exchange") {
    // k rows per key must be enforced BEFORE the shuffle on the key — the
    // whole point of the hash-ranked reservoir is that a hot key costs k
    // rows per map task, never its full volume.
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = graft.operators.CorpusPrep.reservoirByKey(docs, "lang", "doc_id",
      k = 5, salt = "s").queryExecution.executedPlan.toString
    val first = p.indexOf("WindowGroupLimit")
    val last = p.lastIndexOf("WindowGroupLimit")
    val exchange = p.indexOf("Exchange", first)
    assert(first >= 0 && last > first, p.take(3000))
    assert(exchange > first && exchange < last,
      s"expected partial WindowGroupLimit upstream of the Exchange\n${p.take(3000)}")
  }

  test("diffSnapshots shuffles ids and fingerprints only — never text") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.{ArrayType, StringType}
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val plan = graft.operators.CorpusPrep
        .diffSnapshots(docs, docs, "doc_id", "text")
        .queryExecution.executedPlan
      val shuffles = plan.collect { case s: ShuffleExchangeExec => s }
      assert(shuffles.nonEmpty, "expected join exchanges")
      shuffles.foreach { s =>
        // The 32-hex fingerprint string is fine; the doc text itself must
        // be fingerprinted BELOW the exchange. Assert no column except the
        // __fp_* hashes is a string/array.
        val wide = s.output.filter(a => (a.dataType == StringType &&
          !a.name.startsWith("__fp")) || a.dataType.isInstanceOf[ArrayType])
        assert(wide.isEmpty,
          s"text crossed a diff exchange: ${s.output.map(a => s"${a.name}:${a.dataType}")}")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("assignSplits and deterministicSample are pure scan expressions (no exchange)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val splitPlan = graft.operators.CorpusPrep.assignSplits(docs, "doc_id",
        Seq("train" -> 0.9, "test" -> 0.1), salt = "s")
      .queryExecution.executedPlan
    assert(splitPlan.collect { case s: ShuffleExchangeExec => s }.isEmpty,
      s"split assignment must not shuffle: ${splitPlan.toString.take(1200)}")
    val samplePlan = graft.operators.CorpusPrep.deterministicSample(
        docs, "doc_id", 0.25, salt = "s")
      .queryExecution.executedPlan
    assert(samplePlan.collect { case s: ShuffleExchangeExec => s }.isEmpty,
      s"sampling must not shuffle: ${samplePlan.toString.take(1200)}")
  }

  test("skewSafeDistinctCount partial-aggregates the final count map-side") {
    // Second exchange must carry partial counts (one row per key per map
    // task), not the distinct (key, value) rows.
    val events = spark.read.parquet(s"$dir/events.parquet")
    val p = graft.operators.Skew.skewSafeDistinctCount(
        events, Seq("event_type"), "user_id", "n")
      .queryExecution.executedPlan.toString
    assert(p.contains("partial_count") || p.contains("Partial"),
      s"expected a map-side partial count:\n${p.take(2000)}")
  }

  test("LexIndex.searchBatch: postings scan prunes to the UNION of the " +
      "queries' term buckets; per-query top-k is WindowGroupLimit") {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      import org.apache.spark.sql.execution.FileSourceScanExec
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val path = java.nio.file.Files.createTempDirectory("lexbplan").toString + "/lex"
      graft.operators.LexIndex.save(docs, "text", "doc_id", path, nBuckets = 8)
      val plan = graft.operators.LexIndex.searchBatch(spark, path,
          Seq(1L -> "spark join", 2L -> "window"), k = 5)
        .queryExecution.executedPlan
      val scans = plan.collect { case s: FileSourceScanExec => s }
      assert(scans.nonEmpty)
      scans.foreach { s =>
        assert(s.relation.location.rootPaths.mkString(",").contains("postings"))
        assert(s.partitionFilters.nonEmpty,
          s"batch postings scan must prune buckets: $s")
      }
      assert(plan.toString.contains("WindowGroupLimit"),
        s"per-query top-k must lower to WindowGroupLimit:\n${plan.toString.take(2000)}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("dedupParagraphs keep-first limits map-side BEFORE the fingerprint " +
      "shuffle (Partial WindowGroupLimit)") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val plan = graft.operators.Dedup.dedupParagraphs(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    // The Partial variant below the exchange is the scale property: a
    // boilerplate paragraph repeated a billion times forwards ONE row per
    // map task instead of flooding a hot reducer.
    assert(plan.contains("WindowGroupLimit") && plan.contains("Partial"),
      s"keep-first must lower to a partial WindowGroupLimit:\n${plan.take(2000)}")
  }

  test("IvfIndex.searchBatch joins candidates on the cell key — no " +
      "nested-loop product of queries x corpus") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val withVec = e.withColumnRenamed("embedding",
      graft.operators.EmbedOps.vecCol("emb"))
    val cents = Array.tabulate(4)(c => Array.tabulate(64)(d =>
      if (d == c) 1.0f else 0.0f))
    val (indexed, model) =
      graft.embed.IvfIndex.buildWithCentroids(withVec, "emb", cents)
    val queries = e.limit(3).select(org.apache.spark.sql.functions.col("vec_id").as("qid"),
      org.apache.spark.sql.functions.col("embedding").as("qvec"))
    val plan = graft.embed.IvfIndex.searchBatch(
        indexed.select(org.apache.spark.sql.functions.col("vec_id"),
          org.apache.spark.sql.functions.col(graft.operators.EmbedOps.vecCol("emb")),
          org.apache.spark.sql.functions.col(graft.embed.IvfIndex.cellCol)),
        model, "emb", queries, "qid", "qvec", k = 5, nProbe = 2,
        tieBreak = Seq(org.apache.spark.sql.functions.col("vec_id")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"batch ANN must equi-join on the probe cell:\n${plan.take(2000)}")
    assert(plan.contains("WindowGroupLimit"),
      s"per-query top-k must lower to WindowGroupLimit:\n${plan.take(2000)}")
  }
}
