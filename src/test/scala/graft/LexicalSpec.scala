package graft

import org.apache.spark.sql.functions._
import graft.operators.{Decontaminate, Lexical, LexIndex}
import graft.functions.{TextFunctions => TF}

class LexicalSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (0L, "spark join window spark spark table"),
    (1L, "join window group order sort"),
    (2L, "table scan filter value batch"),
    (3L, "spark spark spark spark spark spark spark spark"),
    (4L, "window"),
    (5L, "")
  ).toDF("doc_id", "text")

  test("bm25 ranks docs containing more query terms higher; zero-hit docs drop") {
    val res = Lexical.bm25Search(docs, "text", "spark join", k = 10,
      tieBreak = Seq(col("doc_id")))
    val ids = res.select("doc_id").as[Long].collect().toSeq
    assert(!ids.contains(2L) && !ids.contains(4L) && !ids.contains(5L),
      s"docs without query terms must score 0 and drop: $ids")
    assert(ids.contains(0L) && ids.contains(1L) && ids.contains(3L))
    // doc 0 has both terms with good tf and moderate length — must beat the
    // one-term docs.
    assert(ids.head == 0L, s"expected doc 0 first, got $ids")
  }

  test("saturation: tf repetition gains are bounded (doc 3 does not dominate doc 0)") {
    val scores = Lexical.bm25Search(docs, "text", "spark join", k = 10)
      .select(col("doc_id"), col("bm25")).as[(Long, Double)].collect().toMap
    assert(scores(0L) > scores(3L),
      s"two distinct terms must beat one spammed term: $scores")
  }

  test("saved inverted index reproduces ad-hoc BM25 scores and prunes term buckets") {
    val path = java.nio.file.Files.createTempDirectory("lexidx").toString + "/idx"
    LexIndex.save(docs, "text", "doc_id", path, nBuckets = 8)
    val saved = LexIndex.search(spark, path, "spark join", k = 10)
      .select(col("id"), col("bm25")).as[(Long, Double)].collect().toMap
    val adhoc = Lexical.bm25Search(docs, "text", "spark join", k = 10)
      .select(col("doc_id"), col("bm25")).as[(Long, Double)].collect().toMap
    assert(saved.keySet == adhoc.keySet)
    saved.foreach { case (id, s) =>
      assert(math.abs(s - adhoc(id)) < 1e-9, s"doc $id: saved $s vs adhoc ${adhoc(id)}")
    }
    // The postings scan must prune to the query terms' hash buckets.
    val post = spark.read.parquet(path + "/postings")
      .filter(col(LexIndex.bucketCol).isin(0, 1) && col("term").isin("spark"))
    val plan = post.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains(LexIndex.bucketCol),
      s"bucket filter must reach PartitionFilters:\n$plan")
  }

  test("searchBatch equals per-query search; empty inputs refused") {
    val path = java.nio.file.Files.createTempDirectory("lexbatch").toString + "/idx"
    LexIndex.save(docs, "text", "doc_id", path, nBuckets = 8)
    val qs = Seq(10L -> "spark join", 20L -> "window", 30L -> "table scan")
    val batch = LexIndex.searchBatch(spark, path, qs, k = 4)
      .select("qid", "id", "bm25").as[(Long, Long, Double)].collect()
      .groupBy(_._1).view
      .mapValues(_.map(r => r._2 -> r._3).toMap).toMap
    for ((qid, q) <- qs) {
      val single = LexIndex.search(spark, path, q, k = 4)
        .select("id", "bm25").as[(Long, Double)].collect().toMap
      assert(batch(qid).keySet == single.keySet,
        s"batch != single for '$q': ${batch(qid).keySet} vs ${single.keySet}")
      batch(qid).foreach { case (id, s) =>
        assert(math.abs(s - single(id)) < 1e-9, s"query $qid doc $id: $s vs ${single(id)}")
      }
    }
    intercept[IllegalArgumentException] {
      LexIndex.searchBatch(spark, path, Nil, k = 4)
    }
    intercept[IllegalArgumentException] {
      LexIndex.searchBatch(spark, path, Seq(1L -> "  "), k = 4)
    }
  }

  test("describe reports live docs/postings/terms and stats staleness " +
      "across the delete/compact lifecycle") {
    val path = java.nio.file.Files.createTempDirectory("lexdesc").toString + "/idx"
    LexIndex.save(docs, "text", "doc_id", path, nBuckets = 8)
    val before = LexIndex.describe(spark, path)
    // doc 5 is empty (no postings) — 5 docs carry postings; sidecar n = 6,
    // nEmpty = 1. A FRESH index reports zero staleness: a posting-less doc
    // is a property of the corpus, not deletion-induced drift.
    assert(before.docs == 5 && before.terms > 0 && before.nBuckets == 8 &&
      before.tombstoned == 0 && before.statsDocsStale == 0.0)
    LexIndex.delete(docs.filter($"doc_id" < 2), "doc_id", path)
    val del = LexIndex.describe(spark, path)
    // Exactly the 2 tombstoned docs are stale: n(6) - nEmpty(1) - live(3).
    assert(del.docs == 3 && del.tombstoned == 2 && del.statsDocsStale == 2.0)
    LexIndex.compactDeletes(spark, path,
      path.stripSuffix("/idx") + "/compacted")
    val comp = LexIndex.describe(spark, path.stripSuffix("/idx") + "/compacted")
    assert(comp.docs == 3 && comp.tombstoned == 0 && comp.statsDocsStale == 0.0)
  }

  test("driver-side bucket hash matches the xxhash64 bucketing expression") {
    val terms = Seq("spark", "join", "window", "zebra", "a")
    val fromExpr = terms.toDF("term")
      .select(pmod(xxhash64(col("term")), lit(8L)).cast("int").as("b"))
      .as[Int].collect().toSeq
    val fromDriver = terms.map { t =>
      val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
        org.apache.spark.unsafe.types.UTF8String.fromString(t),
        org.apache.spark.sql.types.StringType, 42L)
      math.floorMod(h, 8L).toInt
    }
    assert(fromExpr == fromDriver,
      s"LexIndex.search pruning depends on this parity: $fromExpr vs $fromDriver")
  }

  test("bm25 matches a naive in-memory reference on seeded random docs") {
    val vocab = Vector("spark", "join", "window", "table", "scan", "row", "agg", "sort")
    val rnd = new scala.util.Random(42)
    val corpus = (0L until 40L).map { i =>
      (i, Seq.fill(3 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val qTerms = Seq("spark", "join")
    // Naive reference: same formula, straight Scala doubles.
    val toks = corpus.map { case (id, t) => id -> t.split("\\s+").toSeq }.toMap
    val n = corpus.size.toDouble
    val avgdl = toks.values.map(_.size).sum / n
    def tf(id: Long, t: String) = toks(id).count(_ == t).toDouble
    val dfm = qTerms.map(t => t -> toks.values.count(_.contains(t)).toDouble).toMap
    def score(id: Long) = qTerms.map { t =>
      val f = tf(id, t); val df = dfm(t)
      math.log(1.0 + (n - df + 0.5) / (df + 0.5)) * f * 2.2 /
        (f + 1.2 * (1.0 - 0.75 + 0.75 * toks(id).size / avgdl))
    }.sum
    val expected = corpus.map(_._1).map(id => id -> score(id)).filter(_._2 > 0).toMap
    val got = Lexical.bm25Search(corpus.toDF("doc_id", "text"), "text",
        qTerms.mkString(" "), k = 40, tieBreak = Seq(col("doc_id")))
      .select(col("doc_id"), col("bm25")).as[(Long, Double)].collect().toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (id, s) =>
      assert(math.abs(s - expected(id)) < 1e-9, s"doc $id: $s vs ${expected(id)}")
    }
  }

  test("decontamination: exact flags eval members and their near-dups only") {
    val corpus = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta"),
      (1L, "alpha beta gamma delta epsilon zeta eta iota"), // shares 5-grams with 0
      (2L, "one two three four five six seven eight"),
      (3L, "unrelated words entirely different from anything else here")
    ).toDF("doc_id", "text")
    val eval = corpus.filter(col("doc_id") === 0)
    val flags = Decontaminate.flagContaminated(corpus, "doc_id", "text", eval, "text", n = 5)
      .select(col("doc_id"), col("contam_grams"), col("contaminated"))
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    assert(flags(0) == ((0L, 4L, true)), s"eval doc fully self-contaminated: ${flags(0)}")
    assert(flags(1)._3 && flags(1)._2 >= 1L, s"near-dup must flag: ${flags(1)}")
    assert(!flags(2)._3 && flags(2)._2 == 0L)
    assert(!flags(3)._3)
  }

  test("decontamination: bloom counts are a superset bound of exact counts") {
    val corpus = (0L until 60L).map(i =>
      (i, if (i % 3 == 0) "shared shingle text common run payload marker extra"
          else s"unique words $i row ${i * 7} filler ${i * 13} tail ${i * 31}"))
      .toDF("doc_id", "text")
    val eval = corpus.filter(col("doc_id") === 0)
    val exact = Decontaminate.flagContaminated(corpus, "doc_id", "text", eval, "text", n = 5)
      .select(col("doc_id"), col("contam_grams")).as[(Long, Long)].collect().toMap
    val bloom = Decontaminate.flagContaminatedBloom(corpus, "doc_id", "text", eval, "text",
        n = 5, fpp = 1e-6)
      .select(col("doc_id"), col("contam_grams")).as[(Long, Long)].collect().toMap
    exact.foreach { case (id, e) =>
      assert(bloom(id) >= e, s"doc $id: bloom ${bloom(id)} < exact $e — false negative")
    }
    // False positives are allowed (that is the Bloom contract) but must be
    // rare: every truly-contaminated doc matches exactly, and the spurious
    // extra grams across the whole corpus stay in the single digits.
    exact.filter(_._2 > 0).foreach { case (id, e) =>
      assert(bloom(id) == e, s"contaminated doc $id must count exactly: ${bloom(id)} vs $e")
    }
    val spurious = exact.keys.map(id => bloom(id) - exact(id)).sum
    assert(spurious <= 5, s"too many bloom false positives: $spurious")
  }

  test("semantic decontamination drops cosine-near rows, keeps the rest, " +
      "and refuses an oversized eval broadcast") {
    val corpus = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f)),   // equals eval vec
      (1L, Seq(0.9f, 0.1f, 0.0f)),   // near eval vec (cos > 0.9)
      (2L, Seq(0.0f, 0.0f, 1.0f)),   // orthogonal
      (3L, Seq(0.0f, 0.0f, 0.0f))    // zero norm: cosine undefined → KEPT
    ).toDF("vec_id", "emb")
    // The zero EVAL vector must contaminate nothing (undefined cosine),
    // not everything (the NaN >= τ trap both engines would otherwise hit).
    val eval = Seq((10L, Seq(1.0f, 0.0f, 0.0f)),
      (11L, Seq(0.0f, 0.0f, 0.0f))).toDF("vec_id", "emb")
    val kept = Decontaminate.dropContaminatedSemantic(
        corpus, "emb", eval, "emb", threshold = 0.9)
      .select("vec_id").as[Long].collect().sorted
    assert(kept.sameElements(Array(2L, 3L)), kept.mkString(","))
    val e = intercept[IllegalArgumentException] {
      Decontaminate.dropContaminatedSemantic(corpus, "emb", eval, "emb",
        threshold = 0.9, maxBroadcastEvalRows = 0L)
    }
    assert(e.getMessage.contains("neardupPairs"))
  }

  test("bloom contamination scan plan has no shuffle") {
    val corpus = Seq((0L, "a b c d e f g h")).toDF("doc_id", "text")
    val eval = corpus
    val flagged = Decontaminate.flagContaminatedBloom(corpus, "doc_id", "text",
      eval, "text", n = 5, expectedEvalGrams = 16)
    val plan = flagged.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"bloom decontamination must be a pure per-row scan:\n$plan")
  }

  test("LexIndex.append grows the index to exactly the fresh full build") {
    val docs = Seq(
      (1L, "spark join window functions"),
      (2L, "spark streaming watermark state"),
      (3L, "window aggregation over events"),
      (4L, "join strategies broadcast shuffle")
    ).toDF("doc_id", "text")
    val freshPath = java.nio.file.Files.createTempDirectory("lex_fresh").toString + "/idx"
    val grownPath = java.nio.file.Files.createTempDirectory("lex_grown").toString + "/idx"
    LexIndex.save(docs, "text", "doc_id", freshPath, nBuckets = 8)
    LexIndex.save(docs.filter($"doc_id" <= 2), "text", "doc_id", grownPath, nBuckets = 8)
    LexIndex.append(docs.filter($"doc_id" > 2), "text", "doc_id", grownPath)
    val fresh = LexIndex.search(spark, freshPath, "spark window", k = 10)
      .as[(Long, Double)].collect().sortBy(_._1).toSeq
    val grown = LexIndex.search(spark, grownPath, "spark window", k = 10)
      .as[(Long, Double)].collect().sortBy(_._1).toSeq
    assert(grown == fresh, s"$grown vs $fresh")
    intercept[RuntimeException] {
      LexIndex.append(docs, "text", "doc_id", grownPath + "_nowhere")
    }
  }

  test("LexIndex.delete hides docs; compaction equals a rebuild on survivors") {
    val docs = Seq(
      (1L, "spark join window functions"),
      (2L, "spark streaming watermark state"),
      (3L, "window aggregation over events"),
      (4L, "join strategies broadcast shuffle")
    ).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("lex_del").toString
    LexIndex.save(docs, "text", "doc_id", s"$tmp/idx", nBuckets = 8)
    assert(LexIndex.delete(docs.filter($"doc_id" === 2), "doc_id", s"$tmp/idx") == 1L)
    // Deleted doc never returned; survivors still score.
    val hits = LexIndex.search(spark, s"$tmp/idx", "spark window", k = 10)
      .select("id").as[Long].collect().toSet
    assert(hits == Set(1L, 3L), hits.toString)
    // Idempotent replay.
    assert(LexIndex.delete(docs.filter($"doc_id" === 2), "doc_id", s"$tmp/idx") == 1L)
    // Re-append of a tombstoned id refused; fresh ids fine.
    val e = intercept[IllegalArgumentException] {
      LexIndex.append(docs.filter($"doc_id" === 2), "text", "doc_id", s"$tmp/idx")
    }
    assert(e.getMessage.contains("tombstoned"), e.getMessage)
    LexIndex.append(Seq((9L, "spark everywhere")).toDF("doc_id", "text"),
      "text", "doc_id", s"$tmp/idx")
    // Compaction ≡ rebuild on survivors, scores included (exact stats).
    LexIndex.compactDeletes(spark, s"$tmp/idx", s"$tmp/compacted")
    LexIndex.save(docs.filter($"doc_id" =!= 2)
        .unionByName(Seq((9L, "spark everywhere")).toDF("doc_id", "text")),
      "text", "doc_id", s"$tmp/rebuild", nBuckets = 8)
    val comp = LexIndex.search(spark, s"$tmp/compacted", "spark window", k = 10)
      .as[(Long, Double)].collect().sortBy(_._1).toSeq
    val reb = LexIndex.search(spark, s"$tmp/rebuild", "spark window", k = 10)
      .as[(Long, Double)].collect().sortBy(_._1).toSeq
    assert(comp == reb, s"$comp vs $reb")
  }

  test("an index with no postings searches empty: all deleted then compacted, or all-blank") {
    val docs = Seq((1L, "spark join"), (2L, "window spark")).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("lex_empty").toString
    LexIndex.save(docs, "text", "doc_id", s"$tmp/idx")
    assert(LexIndex.delete(docs, "doc_id", s"$tmp/idx") == 2L)
    LexIndex.compactDeletes(spark, s"$tmp/idx", s"$tmp/compacted")
    val blank = Seq((1L, ""), (2L, "  ")).toDF("doc_id", "text")
    LexIndex.save(blank, "text", "doc_id", s"$tmp/blank")
    for (idx <- Seq(s"$tmp/compacted", s"$tmp/blank")) {
      assert(LexIndex.search(spark, idx, "spark window", k = 10).collect().isEmpty, idx)
      assert(LexIndex.searchBatch(spark, idx, Seq((0L, "spark"), (1L, "join")), k = 5)
        .collect().isEmpty, idx)
      val info = LexIndex.describe(spark, idx)
      assert(info.docs == 0L && info.postings == 0L && info.terms == 0L &&
        info.statsDocsStale == 0.0, s"$idx: $info")
    }
    // The emptied index takes appends again, and they score as a fresh one.
    val more = Seq((3L, "spark streaming")).toDF("doc_id", "text")
    LexIndex.append(more, "text", "doc_id", s"$tmp/compacted")
    LexIndex.save(more, "text", "doc_id", s"$tmp/fresh")
    val grown = LexIndex.search(spark, s"$tmp/compacted", "spark", k = 10)
      .as[(Long, Double)].collect().toSeq
    val fresh = LexIndex.search(spark, s"$tmp/fresh", "spark", k = 10)
      .as[(Long, Double)].collect().toSeq
    assert(grown == fresh && grown.map(_._1) == Seq(3L), s"$grown vs $fresh")
  }

  test("tfidf top terms: discriminative terms win, ubiquitous terms score zero") {
    val docs = Seq(
      (1L, "spark spark unique common"),
      (2L, "flink common other"),
      (3L, "common words here")
    ).toDF("doc_id", "text")
    val out = Lexical.tfidfTopTerms(docs, "text", "doc_id", k = 2)
      .as[(Long, String, Double)].collect().sortBy(r => (r._1, -r._3, r._2))
    val d1 = out.filter(_._1 == 1L)
    // tf=2 × ln(3/1) beats tf=1 terms; 'common' (df=3) has idf 0 and never ranks.
    assert(d1.head._2 == "spark" && math.abs(d1.head._3 - 2 * math.log(3.0)) < 1e-12, d1.toSeq.toString)
    assert(!out.exists(_._2 == "common"), out.toSeq.toString)
    assert(out.count(_._1 == 1L) == 2)
  }

  test("rrf fusion rewards docs present in both lists") {
    val lex = Seq((1L, 9.0), (2L, 8.0), (3L, 7.0)).toDF("id", "score")
    val den = Seq((2L, 0.9), (4L, 0.8), (1L, 0.7)).toDF("id", "score")
    val fused = Lexical.rrfFuse(Seq(lex, den), "id", "score", k = 60, topK = 4)
      .select(col("id"), col("rrf")).as[(Long, Double)].collect()
    val order = fused.map(_._1).toSeq
    // doc 1: rank 1 + rank 3 → 1/61 + 1/63; doc 2: rank 2 + rank 1 → 1/62 + 1/61.
    assert(order.take(2) == Seq(2L, 1L), s"both-list docs first: $order")
    val m = fused.toMap
    assert(math.abs(m(2L) - (1.0 / 62 + 1.0 / 61)) < 1e-12)
    assert(math.abs(m(4L) - 1.0 / 62) < 1e-12, "single-list doc keeps single term")
  }

  test("pii redaction replaces all four classes in contract order") {
    val d = Seq((1L,
      "mail a.user+tag@sub.example.org call +1-555-867-5309 ssn 123-45-6789 ip 192.168.0.1 end"
    )).toDF("id", "text")
    val out = d.select(
      TF.piiCount(col("text"), TF.EmailPattern).as("ne"),
      TF.piiCount(col("text"), TF.PhonePattern).as("np"),
      TF.piiCount(col("text"), TF.SsnPattern).as("ns"),
      TF.piiCount(col("text"), TF.Ipv4Pattern).as("ni"),
      TF.redactPii(col("text")).as("red")
    ).head()
    assert(out.getInt(0) == 1 && out.getInt(1) == 1 && out.getInt(2) == 1 && out.getInt(3) == 1)
    assert(out.getString(4) ==
      "mail <EMAIL> call <PHONE> ssn <SSN> ip <IP> end")
  }

  test("pii redaction leaves clean text untouched") {
    val d = Seq((1L, "no personal data here just words and numbers 42")).toDF("id", "text")
    val out = d.select(TF.redactPii(col("text"))).as[String].head()
    assert(out == "no personal data here just words and numbers 42")
  }
}
