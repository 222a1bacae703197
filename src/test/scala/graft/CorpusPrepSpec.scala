package graft

import org.apache.spark.sql.functions._
import graft.operators.CorpusPrep

class CorpusPrepSpec extends SparkSpec {
  import spark.implicits._

  private def docs = (0 until 400).map { i =>
    (i.toLong, if (i % 3 == 0) "en" else if (i % 3 == 1) "de" else "fr",
      10L + (i * 7) % 90)
  }.toDF("id", "lang", "toks")

  test("deterministicSample: pure function of (salt, key), monotone in fraction") {
    val a = CorpusPrep.deterministicSample(docs, "id", 0.25, "s1")
      .select("id").as[Long].collect().toSet
    val b = CorpusPrep.deterministicSample(docs.repartition(7), "id", 0.25, "s1")
      .select("id").as[Long].collect().toSet
    assert(a == b) // partitioning-independent membership
    val half = CorpusPrep.deterministicSample(docs, "id", 0.5, "s1")
      .select("id").as[Long].collect().toSet
    assert(a.subsetOf(half)) // growing the fraction only adds rows
    val otherSalt = CorpusPrep.deterministicSample(docs, "id", 0.25, "s2")
      .select("id").as[Long].collect().toSet
    assert(a != otherSalt) // salt rotates the sample
    // ~25% of a 16-bit-uniform hash; loose bounds for n=400
    assert(a.size > 60 && a.size < 140, s"got ${a.size}")
    // boundary fractions
    assert(CorpusPrep.deterministicSample(docs, "id", 1.0).count() == 400)
    assert(CorpusPrep.deterministicSample(docs, "id", 0.0).count() == 0)
  }

  test("quotaPerGroup caps each group at quota, keeping lowest order keys") {
    val out = CorpusPrep.quotaPerGroup(docs, "lang", "id", 10)
    val per = out.groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(per.values.forall(_ == 10))
    // lowest ids win: the English quota is exactly the first 10 multiples of 3
    val en = out.filter($"lang" === "en").select("id").as[Long].collect().sorted
    assert(en.toSeq == (0 until 10).map(_ * 3L))
  }

  test("packSequences: bins are order-contiguous and budget-tight") {
    val out = CorpusPrep.packSequences(docs, "lang", "id", "toks", maxTokens = 100)
      .select("lang", "id", "toks", "pack_id")
      .as[(String, Long, Long, Long)].collect()
    for ((_, rows) <- out.groupBy(_._1)) {
      val sorted = rows.sortBy(_._2)
      // pack ids start at 0 and never decrease along the group order
      assert(sorted.head._4 == 0L)
      assert(sorted.sliding(2).forall { case Array(a, b) => a._4 <= b._4; case _ => true })
      for ((_, pack) <- sorted.groupBy(_._4)) {
        val toks = pack.sortBy(_._2).map(_._3)
        // defining property of exclusive-cumsum binning: the pack only
        // exceeds the budget by (part of) its final document
        assert(toks.dropRight(1).sum < 100, s"pack ${pack.head._4}: $toks")
      }
    }
  }

  test("packSequences: a document longer than the budget owns its pack boundary") {
    val d = Seq((1L, "en", 40L), (2L, "en", 500L), (3L, "en", 40L))
      .toDF("id", "lang", "toks")
    val out = CorpusPrep.packSequences(d, "lang", "id", "toks", maxTokens = 100)
      .select("id", "pack_id").as[(Long, Long)].collect().toMap
    assert(out(1L) == 0L)
    assert(out(2L) == 0L) // starts inside pack 0 (40 < 100)...
    assert(out(3L) == 5L) // ...and pushes the next doc past its span
  }

  test("quotaPerGroup with tieBreak is partitioning-independent under duplicate order keys") {
    import org.apache.spark.sql.functions.col
    // Every row shares one order key, so WITHOUT a tie-break which rows
    // survive the cap is partition-order luck; with a unique tieBreak the
    // kept set is a pure function of the data on any layout.
    val rows = (0 until 200).map(i => (i.toLong, if (i % 2 == 0) "en" else "de", 7L))
    def kept(parts: Int): Seq[Long] =
      CorpusPrep.quotaPerGroup(
          rows.toDF("id", "lang", "ord").repartition(parts), "lang", "ord",
          quota = 5, tieBreak = Seq(col("id")))
        .select("id").as[Long].collect().sorted.toSeq
    val one = kept(1)
    assert(one == Seq(0L, 1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L, 9L), one.mkString(","))
    assert(kept(7) == one && kept(32) == one)
  }

  test("quotaPerGroupTokens: the budget-crossing doc is kept, later docs drop, groups independent") {
    val d = Seq(
      (1L, "en", 60L), (2L, "en", 60L), // en: exclusive runs 0, 60 — doc 2 crosses the budget, kept
      (3L, "en", 60L), (4L, "en", 60L), // runs 120, 180 >= 100 -> dropped
      (5L, "de", 500L), (6L, "de", 1L)  // de: oversize first doc kept, next dropped
    ).toDF("id", "lang", "toks")
    val out = CorpusPrep.quotaPerGroupTokens(d, "lang", "id", "toks", maxTokens = 100)
      .select("id").as[Long].collect().sorted
    assert(out.toSeq == Seq(1L, 2L, 5L), out.mkString(","))
  }

  test("mixByFractions: full groups kept, absent groups dropped, membership partitioning-independent") {
    val d = (0 until 400).map(i =>
      (i.toLong, Seq("en", "de", "xx")(i % 3))).toDF("id", "lang")
    val fr = Map("en" -> 1.0, "de" -> 0.5)
    val out = CorpusPrep.mixByFractions(d, "lang", fr, "id", salt = "s")
      .select("id", "lang").as[(Long, String)].collect()
    assert(out.count(_._2 == "en") == 134, "fraction 1.0 keeps every row")
    assert(out.count(_._2 == "xx") == 0, "default fraction 0 drops absent groups")
    val de = out.count(_._2 == "de")
    assert(de > 33 && de < 100, s"fraction 0.5 keeps ~half, got $de of 133")
    val out2 = CorpusPrep.mixByFractions(d.repartition(7), "lang", fr, "id", salt = "s")
      .select("id", "lang").as[(Long, String)].collect()
    assert(out.toSet == out2.toSet, "membership is a pure function of (salt, key)")
  }

  test("vocabTopK: counts and deterministic tie-break; empty docs contribute no word") {
    val d = Seq((1L, "b a a c"), (2L, "A b  c d"), (3L, "   "), (4L, "")).toDF("id", "text")
    val out = CorpusPrep.vocabTopK(d, "text", k = 3)
      .as[(String, Long)].collect()
    assert(out.toSeq == Seq(("a", 3L), ("b", 2L), ("c", 2L)), out.mkString(";"))
  }

  test("chunkDocuments: empty and whitespace-only docs produce zero chunks") {
    val d = Seq((1L, ""), (2L, "   "), (3L, "one token")).toDF("doc_id", "text")
    val out = CorpusPrep.chunkDocuments(d, "text", chunkTokens = 8, overlap = 2)
      .select("doc_id").as[Long].collect()
    assert(out.toSeq == Seq(3L), out.mkString(","))
  }

  test("chunkDocuments: overlapping windows cover the doc; trailing no-new-word starts skipped") {
    val d = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")),
      (2L, "short text")
    ).toDF("doc_id", "text")
    val out = CorpusPrep.chunkDocuments(d, "text", chunkTokens = 8, overlap = 4)
      .select("doc_id", "chunk_id", "chunk_text", "n_chunk_tokens")
      .as[(Long, Long, String, Long)].collect().sortBy(r => (r._1, r._2))
    // 10 words, step 4: start 8 adds no new words past chunk [4..9] -> skipped.
    assert(out.filter(_._1 == 1L).map(_._3).toSeq ==
      Seq("w1 w2 w3 w4 w5 w6 w7 w8", "w5 w6 w7 w8 w9 w10"), out.mkString(";"))
    assert(out.filter(_._1 == 1L).map(_._4).toSeq == Seq(8L, 6L))
    assert(out.filter(_._1 == 2L).toSeq == Seq((2L, 0L, "short text", 2L)))
  }

  test("unigramSurprisal: hand-computed scores, OOV floor, empty doc is NULL") {
    import org.apache.spark.sql.functions.col
    // Vocab: a=3, b=1 (total 4). p(a)=0.75, p(b)=0.25, OOV floor p=0.25.
    val vocab = Map("a" -> 3L, "b" -> 1L)
    val d = Seq(
      (1L, "a a b"),   // (-ln .75 ×2 + -ln .25)/3
      (2L, "zzz"),     // pure OOV -> -ln(1/4)
      (3L, "  ")       // empty -> NULL
    ).toDF("id", "text")
    val out = CorpusPrep.unigramSurprisal(d, "text", vocab, totalTokens = 4L)
      .select(col("id"), col("surprisal")).as[(Long, Option[Double])]
      .collect().sortBy(_._1)
    val expected1 = (2 * -math.log(0.75) - math.log(0.25)) / 3
    assert(math.abs(out(0)._2.get - expected1) < 1e-12, out(0).toString)
    assert(math.abs(out(1)._2.get - (-math.log(0.25))) < 1e-12, out(1).toString)
    assert(out(2)._2.isEmpty, "empty doc must score NULL")
    // Repetitive boilerplate scores anomalously LOW, gibberish HIGH — the
    // two-tail filter contract.
    assert(out(1)._2.get > out(0)._2.get)
  }

  test("unigramSurprisal refuses an over-bound vocab literal (plan-bloat guard)") {
    val d = Seq((1L, "a b")).toDF("id", "text")
    val big = (0 until 10).map(i => s"w$i" -> 1L).toMap
    val e = intercept[IllegalArgumentException] {
      CorpusPrep.unigramSurprisal(d, "text", big, totalTokens = 10L,
        maxVocabEntries = 4)
    }
    assert(e.getMessage.contains("vocabTopK"), e.getMessage)
    // Raising the bound deliberately admits the same vocab.
    CorpusPrep.unigramSurprisal(d, "text", big, totalTokens = 10L,
      maxVocabEntries = 16).collect()
  }

  test("corpusProfile: exact counts, dup detection via fingerprint, deterministic averages") {
    import org.apache.spark.sql.functions._
    val d = Seq(
      (1L, "en", "web", "the cat sat on the mat"),
      (2L, "en", "web", "THE cat  sat on the mat"), // fingerprint-identical (case/space-normalized)
      (3L, "en", "book", "a completely different document"),
      (4L, "de", "web", "der hund läuft schnell")
    ).toDF("doc_id", "lang", "source", "text")
    val p = CorpusPrep.corpusProfile(d, "text", Seq("lang", "source"))
      .select("lang", "source", "n_docs", "n_unique_docs", "total_tokens")
      .as[(String, String, Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    assert(p.toSeq == Seq(
      ("de", "web", 1L, 1L, 4L),
      ("en", "book", 1L, 1L, 4L),
      ("en", "web", 2L, 1L, 12L)), p.toSeq.toString)
    // Averages are a pure function of the multiset: repartitioned input agrees.
    val a = CorpusPrep.corpusProfile(d, "text", Seq("lang"))
      .select("lang", "avg_quality", "avg_chars").as[(String, Double, Double)].collect().toSet
    val b = CorpusPrep.corpusProfile(d.repartition(7), "text", Seq("lang"))
      .select("lang", "avg_quality", "avg_chars").as[(String, Double, Double)].collect().toSet
    assert(a == b)
  }

  test("writeCorpus: record cap splits files, shards spread partitions, data round-trips") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_writecorpus").toString
    val d = (0 until 300).map(i =>
      (i.toLong, if (i % 2 == 0) "en" else "de", s"text body $i"))
      .toDF("doc_id", "lang", "text")
    val layout = CorpusPrep.writeCorpus(d, s"$tmp/c", Seq("lang"),
      sortBy = Seq("doc_id"), maxRecordsOverride = Some(40L))
    assert(layout.maxRecordsPerFile == 40L)
    val back = spark.read.parquet(s"$tmp/c")
    assert(back.select("doc_id").as[Long].collect().toSet == (0L until 300L).toSet)
    def parts(p: String) = new java.io.File(p).listFiles()
      .filter(_.getName.endsWith(".parquet")).toSeq
    for (lang <- Seq("en", "de")) {
      val files = parts(s"$tmp/c/lang=$lang")
      assert(files.length >= 4, s"$lang: 150 rows / cap 40 => >=4 files, got ${files.length}")
      files.foreach { f =>
        val n = spark.read.parquet(f.getPath).count()
        assert(n <= 40, s"$f holds $n > 40 rows")
      }
    }
    // Content-hash shards split a huge partition across writing tasks
    // even without a row cap. AQE would rightly coalesce shards this tiny
    // (they'd be the small-files problem), so pin the un-coalesced shape.
    val conf = spark.conf
    val (aqe0, sp0) = (conf.get("spark.sql.adaptive.enabled"),
      conf.get("spark.sql.shuffle.partitions"))
    try {
      conf.set("spark.sql.adaptive.enabled", "false")
      conf.set("spark.sql.shuffle.partitions", "32")
      CorpusPrep.writeCorpus(d, s"$tmp/s", Seq("lang"), shardsPerPartition = 4,
        maxRecordsOverride = Some(1000000L))
    } finally {
      conf.set("spark.sql.adaptive.enabled", aqe0)
      conf.set("spark.sql.shuffle.partitions", sp0)
    }
    val shardFiles = Seq("en", "de").map(l => parts(s"$tmp/s/lang=$l").length).sum
    assert(shardFiles >= 3, s"4 shards x 2 langs must spread, got $shardFiles files")
    // Derived row-size path produces sane bounds.
    val l2 = CorpusPrep.writeCorpus(d, s"$tmp/d", Nil, targetFileMb = 1)
    assert(l2.avgRowBytes > 0 && l2.maxRecordsPerFile >= 10)
    assert(spark.read.parquet(s"$tmp/d").count() == 300)
  }

  test("compact collapses a fragmented directory losslessly, never in place") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_compactspec").toString
    val d = (0 until 200).map(i =>
      (i.toLong, if (i % 2 == 0) "en" else "de", s"text body $i"))
      .toDF("doc_id", "lang", "text")
    d.repartition(25).write.parquet(s"$tmp/frag")
    val (before, after, _) = CorpusPrep.compact(spark, s"$tmp/frag", s"$tmp/c",
      Seq("lang"), 256, 1, Seq("doc_id"))
    assert(before >= 25, s"setup wrote $before files")
    assert(after <= 2, s"one writing task per lang partition, got $after")
    val back = spark.read.parquet(s"$tmp/c")
    assert(back.count() == 200 &&
      back.select("doc_id").as[Long].collect().toSet == (0L until 200L).toSet)
    // Source untouched (compaction is restartable, never a window-delete).
    assert(CorpusPrep.dataFileCount(spark, s"$tmp/frag") == before)
    intercept[IllegalArgumentException] {
      CorpusPrep.compact(spark, s"$tmp/frag", s"$tmp/frag", Nil, 256, 1, Nil)
    }
  }

  test("frequentWords never misses a word above the support threshold") {
    val rows = (Seq.fill(50)("the quick") ++ Seq.fill(5)("rare word")).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val df = rows.toDF("id", "text")
    // "the"/"quick" are 50 of 110 tokens ≈ 0.45 each — must be present
    // even on a spread input (sketches merge across partitions).
    val s = CorpusPrep.frequentWords(df.repartition(8), "text", support = 0.3)
    assert(s.contains("the") && s.contains("quick"), s.toString)
    intercept[IllegalArgumentException] {
      CorpusPrep.frequentWords(df, "text", support = 1.5)
    }
  }

  test("mergeSnapshots null-fills missing columns and refuses type conflicts") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_merge_spec").toString
    Seq((1L, "a")).toDF("id", "text").write.parquet(s"$tmp/s0")
    Seq((2L, "b", 0.9)).toDF("id", "text", "quality").write.parquet(s"$tmp/s1")
    val m = CorpusPrep.mergeSnapshots(spark, Seq(s"$tmp/s0", s"$tmp/s1"))
      .orderBy("id").collect()
    assert(m.length == 2)
    assert(m(0).isNullAt(m(0).fieldIndex("quality"))) // snapshot 0 predates it
    assert(m(1).getDouble(m(1).fieldIndex("quality")) == 0.9)
    // Same-named column with a conflicting type must fail loudly AT PLAN
    // TIME — Spark's own union coercion would widen int↔string silently
    // and corrupt/crash later, row by row.
    Seq((3L, 42)).toDF("id", "text").write.parquet(s"$tmp/s2")
    val e = intercept[IllegalArgumentException] {
      CorpusPrep.mergeSnapshots(spark, Seq(s"$tmp/s0", s"$tmp/s2"))
    }
    assert(e.getMessage.contains("'text'"), e.getMessage)
  }

  test("reservoirByKey keeps k per key and is partitioning-independent") {
    val df = (0 until 300).map(i => (i.toLong, s"k${i % 3}")).toDF("id", "key")
    val a = CorpusPrep.reservoirByKey(df, "key", "id", k = 7, salt = "s")
      .select("id").as[Long].collect().sorted.toSeq
    val b = CorpusPrep.reservoirByKey(df.repartition(13), "key", "id", k = 7,
      salt = "s").select("id").as[Long].collect().sorted.toSeq
    assert(a == b, "sample must be a pure function of (salt, id)")
    val perKey = CorpusPrep.reservoirByKey(df, "key", "id", k = 7, salt = "s")
      .groupBy("key").count().as[(String, Long)].collect().toMap
    assert(perKey.values.forall(_ == 7L), perKey.toString)
    // A different salt draws a different sample (overwhelmingly likely
    // with 100 candidates per key).
    val c = CorpusPrep.reservoirByKey(df, "key", "id", k = 7, salt = "other")
      .select("id").as[Long].collect().sorted.toSeq
    assert(a != c, "salt must rotate the sample")
    // Keys with fewer than k rows keep everything.
    val small = Seq((1L, "x"), (2L, "x")).toDF("id", "key")
    assert(CorpusPrep.reservoirByKey(small, "key", "id", k = 7).count() == 2)
  }

  test("assignSplits partitions every row, tracks fractions, stays stable under growth") {
    val df = (0 until 2000).map(i => Tuple1(i.toLong)).toDF("id")
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val out = CorpusPrep.assignSplits(df, "id", splits, salt = "s")
    val counts = out.groupBy("split").count().as[(String, Long)].collect().toMap
    assert(counts.values.sum == 2000, "every row gets exactly one split")
    assert(counts("train") > 1450 && counts("train") < 1750, counts.toString)
    assert(counts("val") > 120 && counts("val") < 280, counts.toString)
    // Growth stability: the first 1000 ids keep their labels when 1000
    // more arrive (membership is per-key, never re-shuffled).
    val small = CorpusPrep.assignSplits(df.filter($"id" < 1000), "id", splits,
      salt = "s").as[(Long, String)].collect().toMap
    val big = out.filter($"id" < 1000).as[(Long, String)].collect().toMap
    assert(small == big, "labels must not move as the corpus grows")
    intercept[IllegalArgumentException] {
      CorpusPrep.assignSplits(df, "id", Seq("a" -> 0.5, "b" -> 0.4))
    }
  }

  test("corpus written hive-partitioned prunes partitions on the read path") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_prune").toString
    val df = Seq((1L, "en", "aa"), (2L, "de", "bb"), (3L, "en", "cc"),
      (4L, "fr", "dd")).toDF("id", "lang", "text")
    CorpusPrep.writeCorpus(df, s"$tmp/c", Seq("lang"),
      maxRecordsOverride = Some(1000L))
    val filtered = spark.read.parquet(s"$tmp/c").filter($"lang" === "en")
    // The lang predicate must become a PARTITION filter (directory-level
    // pruning — at 100 TB this is the difference between reading one
    // language and reading the world), not a post-scan row filter.
    val scan = filtered.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString("\n")
    assert(scan.contains("PartitionFilters") &&
      scan.replaceAll("\\s", "").contains("PartitionFilters:[isnotnull(lang"),
      s"lang filter did not prune partitions:\n$scan")
    val got = filtered.collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(1L, 3L), got.toString)
    // Executed-scan metric: of the 3 lang= directories, exactly ONE file
    // was read (inputFiles lists the pre-pruning relation, so the metric
    // is the real proof). Read it from the SAME queryExecution collect()
    // just drove.
    val numFiles = filtered.queryExecution.executedPlan.collectLeaves()
      .collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metrics("numFiles").value
      }
    assert(numFiles.contains(1L), s"pruned scan read $numFiles files, expected 1")
  }

  test("selectByTokenBudget equals the flat descending cumsum cut") {
    // Buckets: q=3 {a:40, b:50}, q=2 {c:30, d:30, e:30}, q=1 {f:100}.
    val d = Seq(("a", 3, 40L), ("b", 3, 50L), ("c", 2, 30L), ("d", 2, 30L),
      ("e", 2, 30L), ("f", 1, 100L)).toDF("id", "q", "tok")
    def sel(budget: Long) =
      CorpusPrep.selectByTokenBudget(d, "q", "tok", "id", budget)
        .select("id").as[String].collect().sorted.toSeq
    // Budget 130: q=3 fully (90), boundary q=2 in id order: c (before 0),
    // d (before 30 < 40) — crossing doc kept — e excluded (before 60 ≥ 40).
    assert(sel(130L) == Seq("a", "b", "c", "d"))
    // Budget crossing exactly at a bucket boundary keeps the whole bucket.
    assert(sel(180L) == Seq("a", "b", "c", "d", "e"))
    // Everything fits.
    assert(sel(1000L) == Seq("a", "b", "c", "d", "e", "f"))
    // Tiny budget still keeps the crossing doc (never an empty corpus).
    assert(sel(10L) == Seq("a"))
    // Loud refusal past the score-bucket cap.
    val wide = (0 until 50).map(i => (s"x$i", i, 1L)).toDF("id", "q", "tok")
    val e = intercept[IllegalArgumentException] {
      CorpusPrep.selectByTokenBudget(wide, "q", "tok", "id", 10L,
        maxScoreBuckets = 10)
    }
    assert(e.getMessage.contains("distinct scores"), e.getMessage)
  }

  test("selectByTokenBudget: a single-score corpus (boundary bucket = " +
      "everything) selects the id-order prefix through the partitioned " +
      "prefix-sum, with no single-partition window in the plan") {
    // Worst case for the old global-window form: ONE score bucket, so the
    // entire corpus is the boundary bucket. 10k docs of 7 tokens each,
    // budget 350 → ids 0..49 kept (crossing doc kept at exactly 350).
    val n = 10000
    val d = spark.range(n.toLong).toDF("id")
      .withColumn("q", lit(5))
      .withColumn("tok", lit(7L))
      .repartition(16)
    val sel = CorpusPrep.selectByTokenBudget(d, "q", "tok", "id", budget = 350L)
    assert(sel.select("id").as[Long].collect().sorted.toSeq ==
      (0L until 50L).toSeq)
    // The boundary pass must be runningTotal's range-partitioned
    // prefix-sum — a global-ORDER-BY Window would funnel all 10k rows
    // (the WHOLE corpus here) through one task.
    val plan = sel.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    // runningTotal on its own: running sums equal the sequential scan and
    // null values count as 0.
    val rt = CorpusPrep.runningTotal(
        Seq((1L, java.lang.Long.valueOf(3L)), (2L, null),
          (3L, java.lang.Long.valueOf(5L))).toDF("id", "v"),
        "id", col("v"), "cum")
      .select("id", "cum").as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(rt == Seq((1L, 3L), (2L, 3L), (3L, 8L)), rt.toString)
  }

  test("diffSnapshots classifies added, removed, changed, unchanged") {
    val old = Seq((1L, "same"), (2L, "before"), (3L, "gone")).toDF("id", "text")
    val neu = Seq((1L, "same"), (2L, "after"), (4L, "fresh")).toDF("id", "text")
    val d = CorpusPrep.diffSnapshots(old, neu, "id", "text")
      .as[(Long, String)].collect().toMap
    assert(d == Map(1L -> "unchanged", 2L -> "changed", 3L -> "removed",
      4L -> "added"))
    // Whitespace-only edits share a fingerprint: unchanged by design.
    val ws = CorpusPrep.diffSnapshots(
      Seq((9L, "a  b")).toDF("id", "text"),
      Seq((9L, "a b")).toDF("id", "text"), "id", "text")
      .as[(Long, String)].collect().toMap
    assert(ws(9L) == "unchanged")
  }

  test("globalRank equals the window definition without a single-partition " +
      "stage, independent of layout") {
    val ids = docs.select($"id")
    val ranked = CorpusPrep.globalRank(ids, "id")
      .as[(Long, Long)].collect().sortBy(_._1)
    // The textbook definition: position in the sorted key order.
    val expected = ids.as[Long].collect().sorted.zipWithIndex
      .map { case (id, i) => (id, i.toLong) }
    assert(ranked.toSeq == expected.toSeq)
    // Layout-independent: a different partitioning gives identical ranks.
    val ranked7 = CorpusPrep.globalRank(ids.repartition(7), "id", nPartitions = 3)
      .as[(Long, Long)].collect().sortBy(_._1)
    assert(ranked7.toSeq == expected.toSeq)
  }

  test("negativeSamples: k non-self partners per anchor, deterministic, " +
      "salt rotates") {
    val ids = docs.select($"id").filter($"id" < 50)
    val neg = CorpusPrep.negativeSamples(ids, "id", k = 3, salt = "s1")
      .as[(Long, Int, Long)].collect()
    assert(neg.length == 50 * 3)
    assert(neg.forall { case (a, _, n) => a != n }, "anchor drew itself")
    val again = CorpusPrep.negativeSamples(ids.repartition(5), "id", 3, "s1")
      .as[(Long, Int, Long)].collect()
    assert(neg.sorted.toSeq == again.sorted.toSeq)
    val other = CorpusPrep.negativeSamples(ids, "id", 3, "s2")
      .as[(Long, Int, Long)].collect()
    assert(neg.sorted.toSeq != other.sorted.toSeq)
    intercept[IllegalArgumentException] {
      CorpusPrep.negativeSamples(ids, "id", 0, "s1")
    }
  }

  test("mergeableProfile: merge of split profiles equals the full-scan " +
      "profile, sketch estimate included") {
    val d = docs.withColumn("text",
      concat_ws(" ", lit("doc"), $"id", lit("filler words here")))
    val p1 = CorpusPrep.mergeableProfile(d.filter($"id" % 2 === 0), "text", Seq("lang"))
    val p2 = CorpusPrep.mergeableProfile(d.filter($"id" % 2 =!= 0), "text", Seq("lang"))
    val merged = CorpusPrep.finalizeProfile(
      CorpusPrep.mergeProfiles(p1, p2, Seq("lang")))
    val full = CorpusPrep.finalizeProfile(
      CorpusPrep.mergeableProfile(d, "text", Seq("lang")))
    assert(merged.except(full).isEmpty && full.except(merged).isEmpty)
    // In coupon range the sketch estimate is the exact distinct count.
    val uniq = merged.select("lang", "n_unique_docs_est")
      .as[(String, Double)].collect().toMap
    val exact = d.groupBy("lang").agg(
        countDistinct(graft.functions.TextFunctions.fingerprint($"text")))
      .as[(String, Long)].collect().toMap
    exact.foreach { case (lang, n) =>
      assert(math.round(uniq(lang)) == n, s"$lang: ${uniq(lang)} vs $n")
    }
  }

  test("scorePercentRank matches the window definition with ties; " +
      "unbounded cardinality refused") {
    val scored = Seq(("a", 10), ("b", 20), ("c", 20), ("d", 30), ("e", 40))
      .toDF("id", "s")
    val pct = CorpusPrep.scorePercentRank(scored, "s")
      .select("id", "score_pct").as[(String, Double)].collect().toMap
    // percent_rank: below/(n-1); the two ties share 1/4.
    assert(pct == Map("a" -> 0.0, "b" -> 0.25, "c" -> 0.25,
      "d" -> 0.75, "e" -> 1.0))
    // Layout-independent.
    val pct7 = CorpusPrep.scorePercentRank(scored.repartition(7), "s")
      .select("id", "score_pct").as[(String, Double)].collect().toMap
    assert(pct7 == pct)
    // Single row → 0, no division by zero.
    val one = CorpusPrep.scorePercentRank(scored.limit(1), "s")
      .select("score_pct").as[Double].collect()
    assert(one.toSeq == Seq(0.0))
    val e = intercept[IllegalArgumentException] {
      CorpusPrep.scorePercentRank(
        (1 to 50).map(i => (i, i)).toDF("id", "s"), "s", maxScoreBuckets = 10)
    }
    assert(e.getMessage.contains("distinct scores"), e.getMessage)
  }

  test("scorePercentRankByGroup ranks within each group independently; " +
      "singleton groups score 0; nulls and unbounded cardinality refused") {
    val scored = Seq(
      ("a", "en", 10), ("b", "en", 20), ("c", "en", 20), ("d", "en", 30),
      ("e", "fr", 5), ("f", "fr", 50),
      ("g", "de", 99) // singleton group
    ).toDF("id", "g", "s")
    val pct = CorpusPrep.scorePercentRankByGroup(scored, "g", "s")
      .select("id", "score_pct").as[(String, Double)].collect().toMap
    // en (n=4): ties at 20 share 1/3; fr (n=2): 0 and 1; de singleton: 0.
    assert(pct("a") == 0.0 && math.abs(pct("b") - 1.0 / 3) < 1e-12 &&
      pct("b") == pct("c") && pct("d") == 1.0)
    assert(pct("e") == 0.0 && pct("f") == 1.0 && pct("g") == 0.0)
    // Layout-independent (the histogram shape must not depend on input
    // partitioning).
    val pct7 = CorpusPrep.scorePercentRankByGroup(scored.repartition(7),
      "g", "s").select("id", "score_pct")
      .as[(String, Double)].collect().toMap
    assert(pct7 == pct)
    // Null group or score refused loudly (a null would vanish in the
    // equi-join while still counting toward its group's denominator).
    val withNull = Seq(("a", "en", Some(1)), ("b", "en", None))
      .toDF("id", "g", "s")
    val en = intercept[IllegalArgumentException] {
      CorpusPrep.scorePercentRankByGroup(withNull, "g", "s")
    }
    assert(en.getMessage.contains("null"), en.getMessage)
    // Bounded cumulative pass: the cap counts (group, score) buckets.
    val eb = intercept[IllegalArgumentException] {
      CorpusPrep.scorePercentRankByGroup(
        (1 to 50).map(i => (i, i % 5, i)).toDF("id", "g", "s"),
        "g", "s", maxScoreBuckets = 10)
    }
    assert(eb.getMessage.contains("buckets"), eb.getMessage)
  }

  test("VectorAvg: partial-merge mean equals the exact mean on any layout; " +
      "ragged dims and empty groups handled") {
    import graft.functions.VectorAvg.vectorAvg
    val vs = Seq(
      (0, Seq(1.0f, 2.0f)), (0, Seq(3.0f, 6.0f)),
      (1, Seq(10.0f, 20.0f))
    ).toDF("g", "v")
    def means(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("g").agg(vectorAvg(col("v")).as("m"))
        .as[(Int, Seq[Double])].collect().toMap
    val m = means(vs)
    assert(m(0) == Seq(2.0, 4.0) && m(1) == Seq(10.0, 20.0))
    assert(means(vs.repartition(5)) == m)
    // Null rows are ignored; an all-null group is null.
    val withNull = Seq((0, Seq(2.0f, 2.0f)), (1, null.asInstanceOf[Seq[Float]]))
      .toDF("g", "v")
    val rows = withNull.groupBy("g").agg(vectorAvg(col("v")).as("m"))
      .collect().map(r => r.getInt(0) -> r.isNullAt(1)).toMap
    assert(!rows(0) && rows(1))
    // Ragged dims in one group fail loudly.
    intercept[Exception] {
      Seq((0, Seq(1.0f)), (0, Seq(1.0f, 2.0f))).toDF("g", "v")
        .groupBy("g").agg(vectorAvg(col("v"))).collect()
    }
  }

  test("writeCorpus codec: zstd lands in the file names and round-trips") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_codec").toString
    CorpusPrep.writeCorpus(docs, s"$tmp/z", Seq("lang"),
      codec = Some("zstd"))
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$tmp/z"))
      .filter(p => p.toString.endsWith(".parquet")).toArray.map(_.toString)
    assert(files.nonEmpty && files.forall(_.contains(".zstd.")),
      files.take(3).mkString(", "))
    val back = spark.read.parquet(s"$tmp/z")
    assert(back.count() == 400)
    // Default stays the session codec (no zstd suffix).
    CorpusPrep.writeCorpus(docs, s"$tmp/d", Seq("lang"))
    val dFiles = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$tmp/d"))
      .filter(p => p.toString.endsWith(".parquet")).toArray.map(_.toString)
    assert(dFiles.nonEmpty && !dFiles.exists(_.contains(".zstd.")))
  }

  test("chunkBySentences packs whole sentences and reassembles to the " +
      "original text") {
    val d = Seq(
      (1L, "one two three. four five. six seven eight nine. ten"),
      (2L, "solo")
    ).toDF("doc_id", "text")
    val chunks = CorpusPrep.chunkBySentences(d, "doc_id", "text", maxTokens = 5)
      .as[(Long, Long, String, Long)].collect().sortBy(c => (c._1, c._2))
    // doc 1 sentence tokens: 3, 2, 4, 1; exclusive cumsums 0,3,5,9 →
    // bins 0,0,1,1.
    assert(chunks.filter(_._1 == 1L).map(c => (c._2, c._3, c._4)).toSeq == Seq(
      (0L, "one two three. four five", 5L),
      (1L, "six seven eight nine. ten", 5L)))
    assert(chunks.filter(_._1 == 2L).map(_._3).toSeq == Seq("solo"))
    // Concatenating a doc's chunks in order restores the text exactly.
    val rejoined = chunks.filter(_._1 == 1L).sortBy(_._2).map(_._3)
      .mkString(". ")
    assert(rejoined == "one two three. four five. six seven eight nine. ten")
    // A huge budget yields one chunk per doc == the original text.
    val whole = CorpusPrep.chunkBySentences(d, "doc_id", "text", 1000000)
      .as[(Long, Long, String, Long)].collect()
    assert(whole.length == 2 && whole.forall(_._2 == 0L))
    intercept[IllegalArgumentException] {
      CorpusPrep.chunkBySentences(d, "doc_id", "text", 0)
    }
  }

  test("writeCorpus bloom filters land in the parquet footers for exactly " +
      "the requested columns") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_bloom").toString
    CorpusPrep.writeCorpus(docs, s"$tmp/b", Seq("lang"),
      bloomFilterCols = Seq("id"))
    val file = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$tmp/b"))
      .filter(p => p.toString.endsWith(".parquet")).findFirst().get().toString
    val conf = spark.sparkContext.hadoopConfiguration
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file), conf))
    try {
      val cols = reader.getFooter.getBlocks.get(0).getColumns
      import scala.jdk.CollectionConverters._
      val offsets = cols.asScala.map(c =>
        c.getPath.toDotString -> c.getBloomFilterOffset).toMap
      assert(offsets("id") > 0, s"id must carry a bloom filter: $offsets")
      assert(offsets("toks") < 0, s"toks must NOT carry one: $offsets")
    } finally reader.close()
  }

  test("writeBucketed: one file per bucket; bucketedJoin is exchange-free " +
      "and refuses a shuffling fallback") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_bucketed").toString
    val left = docs
    val right = docs.select($"id", ($"toks" * 2).as("toks2"))
    CorpusPrep.writeBucketed(left, "graft_spec_bl", s"$tmp/l", "id", 4)
    CorpusPrep.writeBucketed(right, "graft_spec_br", s"$tmp/r", "id", 4)
    // One data file per bucket — the invariant that lets Spark trust the
    // written sort order and schedule bucket-against-bucket.
    assert(CorpusPrep.dataFileCount(spark, s"$tmp/l") == 4)
    assert(CorpusPrep.dataFileCount(spark, s"$tmp/r") == 4)
    val joined = CorpusPrep.bucketedJoin(spark, "graft_spec_bl",
      "graft_spec_br", "id")
    // bucketedJoin's own require already pins exchange-freeness; re-assert
    // here so a relaxed require can't silently drop the contract.
    assert(!joined.queryExecution.executedPlan.toString.contains("Exchange"))
    // Values survive the layout round trip.
    val m = joined.select("id", "toks", "toks2_r")
      .as[(Long, Long, Long)].collect()
    assert(m.length == 400 && m.forall { case (_, t, t2) => t2 == 2 * t })
    // The same join WITHOUT the bucketed layout shuffles — proving the
    // assertion bites on exactly the regression it exists to catch.
    spark.sql("DROP TABLE IF EXISTS graft_spec_plain")
    right.write.format("parquet").option("path", s"$tmp/plain")
      .saveAsTable("graft_spec_plain")
    val e = intercept[IllegalArgumentException] {
      CorpusPrep.bucketedJoin(spark, "graft_spec_bl", "graft_spec_plain", "id")
    }
    assert(e.getMessage.contains("shuffles"), e.getMessage)
    Seq("graft_spec_bl", "graft_spec_br", "graft_spec_plain")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  // --- temperature mixing --------------------------------------------------

  private def skewed = ((0 until 100).map(i => (i.toLong, "big")) ++
    (100 until 110).map(i => (i.toLong, "small"))).toDF("id", "lang")

  test("temperatureFractions: UniMax closure clamps the small group and " +
      "water-fills the rest to the exact budget") {
    // alpha = 0: equal budget per group (30/30); small clamps at its 10
    // rows; the leftover 50 redistributes onto big → fraction 0.5.
    val fr = CorpusPrep.temperatureFractions(skewed, "lang",
      targetRows = 60, alpha = 0.0).map(r => r._1 -> r._3).toMap
    assert(fr("small") == 1.0)
    assert(math.abs(fr("big") - 0.5) < 1e-12)
    // Expected kept mass Σ f·n equals the budget exactly after closure.
    val mass = CorpusPrep.temperatureFractions(skewed, "lang", 60, 0.0)
      .map { case (_, n, f) => f * n }.sum
    assert(math.abs(mass - 60.0) < 1e-9)
  }

  test("temperatureFractions: one-shot form loses the clamped mass; " +
      "alpha = 1 is proportional") {
    val fr = CorpusPrep.temperatureFractions(skewed, "lang",
      targetRows = 60, alpha = 0.0, redistribute = false)
      .map(r => r._1 -> r._3).toMap
    assert(fr("small") == 1.0)
    assert(math.abs(fr("big") - 0.3) < 1e-12) // 30/100, excess NOT refilled
    val prop = CorpusPrep.temperatureFractions(skewed, "lang",
      targetRows = 55, alpha = 1.0).map(r => r._1 -> r._3).toMap
    // alpha = 1 → every group keeps the same fraction T/N = 0.5.
    assert(math.abs(prop("big") - 0.5) < 1e-12)
    assert(math.abs(prop("small") - 0.5) < 1e-12)
  }

  test("temperatureFractions refuses a null group and names the column") {
    val withNull = skewed.unionByName(
      Seq((200L, null: String)).toDF("id", "lang"))
    val e = intercept[IllegalArgumentException](
      CorpusPrep.temperatureFractions(withNull, "lang", 60, 0.5))
    assert(e.getMessage.contains("null group in lang"), e.getMessage)
  }

  test("mixByTemperature membership is a pure function of (salt, key)") {
    val a = CorpusPrep.mixByTemperature(skewed, "lang", "id", 60, 0.3,
      salt = "t").select("id").as[Long].collect().toSet
    val b = CorpusPrep.mixByTemperature(skewed.repartition(7), "lang", "id",
      60, 0.3, salt = "t").select("id").as[Long].collect().toSet
    assert(a == b && a.nonEmpty)
    // Clamped small group survives whole under redistribution.
    assert((100L until 110L).toSet.subsetOf(a))
  }

  test("weightedSampleK: deterministic E-S top-k, weight monotonicity, " +
      "non-positive weights never sampled") {
    val docs = (0L until 200L).map(i => (i, 1.0 + (i % 5))).toDF("id", "w")
    val a = CorpusPrep.weightedSampleK(docs, "id", "w", k = 30, salt = "s")
      .select("id").as[Long].collect().toSet
    assert(a.size == 30)
    val b = CorpusPrep.weightedSampleK(docs.repartition(9), "id", "w",
      k = 30, salt = "s").select("id").as[Long].collect().toSet
    assert(a == b, "sample must be a pure function of (salt, id, weight)")
    // A different salt redraws.
    val c = CorpusPrep.weightedSampleK(docs, "id", "w", k = 30, salt = "t")
      .select("id").as[Long].collect().toSet
    assert(c != a)
    // Monotonicity: blowing up one absent doc's weight pulls it in
    // (ln u / w → 0⁻ as w → ∞ while every other key is unchanged).
    val out = (0L until 200L).find(!a.contains(_)).get
    val boosted = docs.withColumn("w",
      when(col("id") === out, lit(1e12)).otherwise(col("w")))
    val a2 = CorpusPrep.weightedSampleK(boosted, "id", "w", k = 30,
      salt = "s").select("id").as[Long].collect().toSet
    assert(a2.contains(out))
    // w <= 0 rows can never be drawn, even with k > candidate count.
    val withZero = Seq((1L, 2.0), (2L, 0.0), (3L, -1.0)).toDF("id", "w")
    val z = CorpusPrep.weightedSampleK(withZero, "id", "w", k = 5)
      .select("id").as[Long].collect().toSeq
    assert(z == Seq(1L))
  }

  test("repeatSchedule: full epochs for all, a hash-ordered partial epoch " +
      "crossing the remainder, and repartition-invariance") {
    val docs = (0L until 40L).map(i => (i, 10L + (i % 3))).toDF("id", "toks")
    val total = 40 * 10 + (0 until 40).map(_ % 3).sum // 460
    // 2 full epochs + 150-token remainder.
    val out = CorpusPrep.repeatSchedule(docs, "id", "toks",
        budgetTokens = 2L * total + 150, salt = "s")
      .select("id", "toks", "n_repeats")
      .as[(Long, Long, Long)].collect().toSeq
    assert(out.size == 40 && out.forall(r => r._3 == 2L || r._3 == 3L))
    val partial = out.filter(_._3 == 3L)
    val mass = partial.map(_._2).sum
    // Crossing semantics: the partial mass reaches the remainder, and
    // dropping ANY one partial doc (in particular the crossing one) would
    // leave it short by less than one doc.
    assert(mass >= 150 && mass - partial.map(_._2).max < 150)
    val out2 = CorpusPrep.repeatSchedule(docs.repartition(7), "id", "toks",
        budgetTokens = 2L * total + 150, salt = "s")
      .select("id", "n_repeats").as[(Long, Long)].collect().toMap
    assert(out.map(r => r._1 -> r._3).toMap == out2)
    // Sub-epoch budget → only the partial prefix survives, at 1 repeat.
    val sub = CorpusPrep.repeatSchedule(docs, "id", "toks",
        budgetTokens = 95, salt = "s")
      .select("n_repeats").as[Long].collect()
    assert(sub.nonEmpty && sub.length < 40 && sub.forall(_ == 1L))
    // Budget past maxEpochs caps (loudly) at maxEpochs, no partial epoch.
    val capped = CorpusPrep.repeatSchedule(docs, "id", "toks",
        budgetTokens = 10L * total, maxEpochs = 4, salt = "s")
      .select("n_repeats").as[Long].collect()
    assert(capped.length == 40 && capped.forall(_ == 4L))
  }

  test("registrableDomain: subdomain collapse, co.uk 3-label rule, case, " +
      "ports, scheme-less and single-label edge cases") {
    val cases = Seq(
      "http://www.Example.COM/path?q=1" -> "example.com",
      "https://a.b.blog.example.com/x" -> "example.com",
      "https://shop.site.co.uk/p" -> "site.co.uk",
      // A 2-label co.uk host IS its own registrable domain (the rule
      // needs >= 3 labels to reach for a third).
      "http://co.uk/" -> "co.uk",
      // .com is not a 2-letter TLD: amazon.com.com → com.com? No — the
      // suffix rule requires len(tld) == 2, so last two labels win.
      "http://x.amazon.com.com/" -> "com.com",
      "http://example.com:8080/p" -> "example.com",
      "site3.com/article/3" -> "site3.com",
      "http://localhost/x" -> "localhost",
      "localhost" -> "localhost")
    val df = cases.map(_._1).toDF("url")
    val got = df.select(col("url"),
        CorpusPrep.registrableDomain(col("url")).as("d"))
      .as[(String, String)].collect().toMap
    cases.foreach { case (u, want) =>
      assert(got(u) == want, s"$u → ${got(u)}, want $want")
    }
  }

  test("shardByTokenBudget: docs never split, shard sums stay within one " +
      "max-doc of the budget, assignment is partitioning-independent") {
    val rows = (0 until 500).map(i => (i.toLong, 10L + (i * 13) % 90))
    val df = rows.toDF("id", "toks")
    val got = CorpusPrep.shardByTokenBudget(df, "id", col("toks"), 1000L)
      .select("id", "toks", "shard").as[(Long, Long, Long)].collect()
      .sortBy(_._1)
    // replay the sequential definition
    var cum = 0L
    rows.foreach { case (id, t) =>
      val want = cum / 1000L
      val g = got(id.toInt)
      assert(g._3 == want, s"id=$id got=${g._3} want=$want")
      cum += t
    }
    // shards are contiguous in id order and sums within budget + max doc
    val byShard = got.groupBy(_._3).toSeq.sortBy(_._1)
    byShard.foreach { case (s, docs) =>
      val sum = docs.map(_._2).sum
      if (s < byShard.last._1) // last shard may be short
        assert(sum >= 1000L - 99 && sum <= 1000L + 99, s"shard $s sum $sum")
    }
    val again = CorpusPrep.shardByTokenBudget(df.repartition(11), "id",
        col("toks"), 1000L)
      .select("id", "shard").as[(Long, Long)].collect().toMap
    assert(got.forall { case (id, _, s) => again(id) == s })
    intercept[IllegalArgumentException](
      CorpusPrep.shardByTokenBudget(df, "id", col("toks"), 0L))
  }

  test("sampleQuantiles: deterministic across partitioning, exact on " +
      "n <= k, sane rank error on a uniform corpus, loud on bad input") {
    val vals = (0 until 5000).map(i => (i.toLong, ((i * 7919) % 5000).toLong))
    val df = vals.toDF("id", "v")
    val q = CorpusPrep.sampleQuantiles(df, "v", "id",
        probs = Seq(0.1, 0.5, 0.9), sampleK = 1024, salt = "s")
      .select("prob", "value").as[(Double, Long)].collect().toMap
    // same result on any partitioning — the draw is a pure id function
    val q2 = CorpusPrep.sampleQuantiles(df.repartition(13), "v", "id",
        probs = Seq(0.1, 0.5, 0.9), sampleK = 1024, salt = "s")
      .select("prob", "value").as[(Double, Long)].collect().toMap
    assert(q == q2)
    // values are a permutation of 0..4999: true quantiles are p*5000;
    // k = 1024 → rank error within ~5 std devs = 5*sqrt(p(1-p)/k)
    for ((p, v) <- q) {
      val tol = 5 * math.sqrt(p * (1 - p) / 1024) * 5000
      assert(math.abs(v - p * 5000) <= tol, s"p=$p v=$v tol=$tol")
    }
    // n <= k: the sample IS the corpus — quantiles are exact nearest-rank
    val small = (0 until 100).map(i => (i.toLong, i.toLong)).toDF("id", "v")
    val exact = CorpusPrep.sampleQuantiles(small, "v", "id",
        probs = Seq(0.5, 1.0), sampleK = 1024, salt = "s")
      .select("prob", "value", "sample_n").as[(Double, Long, Long)].collect()
    assert(exact.toSet == Set((0.5, 49L, 100L), (1.0, 99L, 100L)))
    intercept[IllegalArgumentException](
      CorpusPrep.sampleQuantiles(small, "v", "id", probs = Seq(1.5)))
    intercept[IllegalArgumentException](
      CorpusPrep.sampleQuantiles(small, "v", "id", probs = Seq(0.5),
        sampleK = 0))
  }

  test("sampleQuantilesByGroup: per-group nearest-rank picks, exact when " +
      "a group fits the reservoir, partitioning-independent") {
    val rows = (0 until 600).map { i =>
      (i.toLong, if (i % 3 == 0) "a" else "b", ((i * 7919) % 600).toLong)
    }
    val df = rows.toDF("id", "g", "v")
    val got = CorpusPrep.sampleQuantilesByGroup(df, "g", "v", "id",
        probs = Seq(0.5, 1.0), kPerGroup = 4096, salt = "s")
      .select("g", "prob", "value", "sample_n")
      .as[(String, Double, Long, Long)].collect().toSet
    // every group fits the reservoir: quantiles are exact nearest-rank
    for (g <- Seq("a", "b")) {
      val vs = rows.filter(_._2 == g).map(_._3).sorted
      assert(got.contains((g, 0.5, vs((vs.length / 2.0).ceil.toInt - 1),
        vs.length.toLong)))
      assert(got.contains((g, 1.0, vs.last, vs.length.toLong)))
    }
    val again = CorpusPrep.sampleQuantilesByGroup(df.repartition(13), "g",
        "v", "id", probs = Seq(0.5, 1.0), kPerGroup = 4096, salt = "s")
      .select("g", "prob", "value", "sample_n")
      .as[(String, Double, Long, Long)].collect().toSet
    assert(again == got)
    intercept[IllegalArgumentException](
      CorpusPrep.sampleQuantilesByGroup(df, "g", "v", "id", Seq(0.0)))
  }

  test("domainStats aggregates registrable domains with corpus share") {
    val df = Seq(
      "http://www.a.com/1", "http://blog.a.com/2", "https://a.com/3",
      "http://b.co.uk/1").toDF("url")
    val rows = CorpusPrep.domainStats(df, "url")
      .orderBy("domain")
      .select("domain", "n_docs", "share")
      .as[(String, Long, Double)].collect().toSeq
    assert(rows == Seq(("a.com", 3L, 0.75), ("b.co.uk", 1L, 0.25)))
  }
}
