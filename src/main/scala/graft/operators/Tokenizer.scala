package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Bounded

/** Subword tokenization for training-data pipelines: a trained vocabulary
  * (frequency-derived or BPE) applied corpus-wide by the greedy
  * longest-match kernel ([[graft.functions.SubwordTokenize]]). The split
  * real pipelines use — train the tokenizer ONCE on a bounded sample
  * (driver-side, deterministic), apply it EVERYWHERE as a broadcast plan
  * literal — so the 100 TB cost is a single linear scan per corpus, no
  * shuffle, no model service.
  *
  * Reference parity note: the reference engine counts tokens through its
  * LM tokenizer (`lotus/models/lm.py` count_tokens); this module is the
  * beyond-reference training-pipeline surface (real subword ids for
  * packing/budgeting, not estimates).
  */
object Tokenizer {

  /** A subword vocabulary. Piece ids are DENSE and DETERMINISTIC: sort the
    * distinct pieces by UTF-8 binary order (Spark's string comparison and
    * ANSI binary collation — the order an oracle's `row_number() OVER
    * (ORDER BY piece)` replays), ids start at 1; id 0 is `<unk>`.
    */
  final case class SubwordVocab(pieces: Seq[String], unkPiece: String = "<unk>") {
    require(pieces.nonEmpty, "SubwordVocab: empty vocabulary")
    require(!pieces.contains(unkPiece),
      s"SubwordVocab: the unk sentinel [$unkPiece] collides with a real piece")
    /** UTF-8 binary order == codepoint order (UTF-8 preserves it); sorting
      * JVM strings by UTF-16 code units would diverge on supplementary
      * characters, so compare codepoints explicitly.
      */
    private def cpCompare(a: String, b: String): Boolean = {
      var i = 0; var j = 0
      while (i < a.length && j < b.length) {
        val ca = a.codePointAt(i); val cb = b.codePointAt(j)
        if (ca != cb) return ca < cb
        i += Character.charCount(ca); j += Character.charCount(cb)
      }
      a.length - i < b.length - j
    }
    lazy val sorted: Seq[String] = pieces.distinct.sortWith(cpCompare)
    lazy val idOf: Map[String, Int] = sorted.zipWithIndex.map {
      case (p, i) => p -> (i + 1)
    }.toMap
  }

  /** SQL-replayable frequency vocabulary: the `topWords` most frequent
    * whitespace words (count desc, word asc — a total order, so the cut is
    * deterministic) plus every distinct character n-gram of the lengths in
    * `charNgramLens` observed across the distinct words. Whole frequent
    * words match in one piece; everything else decomposes greedily into
    * n-grams — the WordPiece shape with a closed-form training rule an
    * ANSI oracle can derive from the same table.
    *
    * Bounded by construction: `topWords` caps the word side and the n-gram
    * side is ≤ charset^n observed grams — but a giant `charNgramLens` max
    * over a huge charset could still blow the plan literal, so the TOTAL
    * is guarded by `maxPieces` (the maxVocabEntries convention), through
    * [[graft.core.Bounded.pull]].
    */
  def freqVocab(df: DataFrame, textCol: String, topWords: Int,
      charNgramLens: Seq[Int] = Seq(1), maxPieces: Int = 1 << 17): SubwordVocab = {
    require(topWords > 0, s"freqVocab: topWords $topWords must be > 0")
    require(charNgramLens.nonEmpty && charNgramLens.forall(_ >= 1),
      s"freqVocab: charNgramLens $charNgramLens must be >= 1")
    val words = df
      .select(explode(split(lower(trim(col(textCol))), "\\s+")).as("w"))
      .filter(col("w") =!= "")
    val top = words.groupBy("w").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w").asc)
      .limit(topWords)
      .select(col("w").as("p"))
    val dw = words.distinct()
    // Character n-grams by CODEPOINT positions: substring() is
    // codepoint-indexed in Spark (and in ANSI substr), so the pieces agree
    // with the kernel's codepoint matching.
    // Words shorter than nlen contribute NOTHING at that length: Spark's
    // sequence(1, 0) steps DOWN to [1, 0] (not empty), which would smuggle
    // the whole short word in as an "n-gram" — guard on length >= nlen so
    // the piece set agrees with an oracle's generate_series(1, len-nlen+1).
    val grams = charNgramLens.distinct.map { nlen =>
      dw.select(explode(when(length(col("w")) >= nlen,
          transform(
            sequence(lit(1), length(col("w")) - (nlen - 1)),
            i => substring(col("w"), i, lit(nlen))))
        .otherwise(array().cast("array<string>"))).as("p"))
    }.reduce(_.unionAll(_))
    val pieces = Bounded.pull(top.unionAll(grams).distinct(), maxPieces,
      "freqVocab", "pieces", "maxPieces", "the vocab rides every tokenize " +
        "task as a plan literal; shrink charNgramLens or raise maxPieces deliberately")
    SubwordVocab(pieces.map(_.getString(0)).toSeq)
  }

  /** Byte-pair-encoding vocabulary (Sennrich et al. 2016, arXiv
    * 1508.07909 §3.2 — the standard algorithm): start from single
    * characters, repeatedly merge the most frequent adjacent symbol pair
    * (count desc, then pair lexicographic asc — fully deterministic) for
    * `numMerges` rounds. The corpus reduces to a bounded word-frequency
    * table FIRST (one aggregate, through [[graft.core.Bounded.pull]])
    * and the merge loop runs driver-side over that table —
    * O(vocab) work per merge, independent of corpus size; this is how
    * production tokenizers are trained (on samples, not the full corpus).
    *
    * Greedy longest-match application of the resulting piece set is not
    * byte-for-byte identical to merge-order BPE encoding on adversarial
    * vocabularies, but is the standard WordPiece-style inference this
    * module applies uniformly; the trainer's value is the LEARNED piece
    * inventory.
    */
  def trainBpe(df: DataFrame, textCol: String, numMerges: Int,
      maxWordEntries: Int = 1 << 18): SubwordVocab = {
    require(numMerges >= 0, s"trainBpe: numMerges $numMerges must be >= 0")
    val wordFreq = wordTable(df, textCol, maxWordEntries, "trainBpe")
    // Symbol sequences start as codepoint strings.
    var seqs: Array[(Array[String], Long)] = wordFreq.map { case (w, n) =>
      val cps = new scala.collection.mutable.ArrayBuffer[String]()
      var i = 0
      while (i < w.length) {
        val c = w.codePointAt(i)
        cps += new String(Character.toChars(c))
        i += Character.charCount(c)
      }
      (cps.toArray, n)
    }
    val merged = scala.collection.mutable.LinkedHashSet[String]()
    seqs.foreach(_._1.foreach(merged += _))
    var round = 0
    while (round < numMerges) {
      val pairCounts = scala.collection.mutable.HashMap[(String, String), Long]()
      seqs.foreach { case (syms, n) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          pairCounts(k) = pairCounts.getOrElse(k, 0L) + n
          i += 1
        }
      }
      if (pairCounts.isEmpty) round = numMerges
      else {
        // Most frequent pair; ties break to the lexicographically smallest
        // pair — a total order, so training is seed-free deterministic.
        val (l, r) = pairCounts.toSeq
          .sortBy { case ((a, b), n) => (-n, a, b) }.head._1
        merged += (l + r)
        seqs = seqs.map { case (syms, n) =>
          val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
          var i = 0
          while (i < syms.length) {
            if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
              out += (l + r); i += 2
            } else { out += syms(i); i += 1 }
          }
          (out.toArray, n)
        }
        round += 1
      }
    }
    SubwordVocab(merged.toSeq)
  }

  /** The bounded (word, count) table both trainers start from. */
  private def wordTable(df: DataFrame, textCol: String, maxWordEntries: Int,
      op: String): Array[(String, Long)] = {
    val rows = Bounded.pull(df
        .select(explode(split(lower(trim(col(textCol))), "\\s+")).as("w"))
        .filter(col("w") =!= "")
        .groupBy("w").agg(count(lit(1)).as("n")),
      maxWordEntries, op, "word-table entries", "maxWordEntries",
      "fit on a sample (deterministicSample) or raise maxWordEntries")
    require(rows.nonEmpty, s"$op: corpus has no tokens")
    rows.map(r => (r.getString(0), r.getLong(1)))
  }

  /** Tokenize `textCol` into subword pieces: whitespace words (the corpus
    * convention — lower, trim, split), each greedily longest-matched
    * against the vocab. Adds `outCol` as array<string>. Zero shuffle.
    */
  def tokenize(df: DataFrame, textCol: String, vocab: SubwordVocab,
      outCol: String = "pieces"): DataFrame = {
    val words = when(length(trim(col(textCol))) === 0,
        array().cast("array<string>"))
      .otherwise(split(lower(trim(col(textCol))), "\\s+"))
    df.withColumn(outCol, graft.functions.SubwordExpr.subwordTokenize(
      words, vocab.sorted, vocab.unkPiece))
  }

  /** A unigram-LM vocabulary (Kudo 2018, arXiv 1804.10959): pieces WITH
    * their log-probabilities — inference is Viterbi max-likelihood
    * segmentation, so the probabilities are part of the model, not a
    * training artifact. Ids follow the [[SubwordVocab]] dense-sorted
    * convention (codepoint order, 1-based, unk → 0).
    */
  final case class UnigramVocab(scored: Seq[(String, Double)],
      unkPiece: String = "<unk>", unkLogProb: Double = -20.0) {
    require(scored.nonEmpty, "UnigramVocab: empty vocabulary")
    val pieces: Seq[String] = scored.map(_._1)
    require(pieces.distinct.size == pieces.size,
      "UnigramVocab: duplicate pieces")
    require(!pieces.contains(unkPiece),
      s"UnigramVocab: the unk sentinel [$unkPiece] collides with a real piece")
    require(!pieces.exists(_.contains('|')) && !unkPiece.contains('|'),
      "UnigramVocab: pieces must not contain '|' (the Viterbi path separator)")
    lazy val sorted: Seq[String] =
      pieces.sortWith(graft.functions.UnigramExpr.cpLess)
    lazy val idOf: Map[String, Int] = sorted.zipWithIndex.map {
      case (p, i) => p -> (i + 1)
    }.toMap
    lazy val logProb: Map[String, Double] = scored.toMap
    /** (piece, logprob) aligned in sorted order — the kernel/oracle shape. */
    lazy val sortedScored: Seq[(String, Double)] = sorted.map(p => p -> logProb(p))
  }

  /** Unigram-LM tokenizer trainer — the SentencePiece algorithm (Kudo
    * 2018, arXiv 1804.10959 §3.2) in its deterministic hard-EM form:
    *
    *   1. reduce the corpus to a bounded word-frequency table (ONE
    *      distributed aggregate, the one [[trainBpe]] pulls —
    *      production tokenizers train on samples);
    *   2. seed with every single codepoint (coverage is mandatory) plus
    *      the top `vocabSize·seedMultiplier` multi-codepoint substrings of
    *      length ≤ `maxPieceLen`, scored count·length (the published
    *      suffix-array seeding heuristic), ties to the codepoint-smaller
    *      piece;
    *   3. alternate `emRounds` of Viterbi-EM — segment every distinct word
    *      under the current probabilities with THE SAME segmenter
    *      inference uses ([[graft.functions.UnigramExpr.viterbi]], so
    *      training counts and inference segmentations cannot drift), count
    *      pieces frequency-weighted, re-estimate `p = (c+α)/(C+α·V)`
    *      (Laplace α keeps every kept piece reachable — the paper's soft
    *      E-step assigns all pieces mass; hard counts need the smoothing)
    *      — with pruning the bottom multi-codepoint pieces by (count desc,
    *      piece asc) down to `shrink`× per round until `vocabSize` is
    *      reached, then a final `emRounds` polish.
    *
    * Every order-dependent step uses a total order, so the result is a
    * pure function of the word-frequency multiset — the property the
    * pinned-literal oracle convention (tokenize_bpe) relies on.
    */
  def trainUnigram(df: DataFrame, textCol: String, vocabSize: Int,
      maxPieceLen: Int = 4, seedMultiplier: Int = 4, emRounds: Int = 2,
      shrink: Double = 0.75, alpha: Double = 0.5, unkLogProb: Double = -20.0,
      maxWordEntries: Int = 1 << 18): UnigramVocab = {
    require(vocabSize >= 1, s"trainUnigram: vocabSize $vocabSize must be >= 1")
    require(maxPieceLen >= 1 && seedMultiplier >= 1 && emRounds >= 1,
      "trainUnigram: maxPieceLen, seedMultiplier, emRounds must be >= 1")
    require(shrink > 0 && shrink < 1, s"trainUnigram: shrink $shrink not in (0,1)")
    require(alpha > 0, s"trainUnigram: alpha $alpha must be > 0")
    val cpOrd: Ordering[String] = (a, b) =>
      if (graft.functions.UnigramExpr.cpLess(a, b)) -1
      else if (graft.functions.UnigramExpr.cpLess(b, a)) 1 else 0
    val wordFreq = wordTable(df, textCol, maxWordEntries, "trainUnigram")
      .sortBy(_._1)(cpOrd)

    def cpLen(s: String): Int = s.codePointCount(0, s.length)
    // Candidate substring counts (occurrence-weighted by word frequency).
    val candCount = scala.collection.mutable.HashMap[String, Long]()
    wordFreq.foreach { case (w, nf) =>
      val off = {
        val b = new Array[Int](cpLen(w) + 1)
        var o = 0; var i = 0
        while (o < w.length) { b(i) = o; o += Character.charCount(w.codePointAt(o)); i += 1 }
        b(i) = w.length
        b
      }
      val n = off.length - 1
      var i = 0
      while (i < n) {
        var j = i + 1
        val jmax = math.min(n, i + maxPieceLen)
        while (j <= jmax) {
          val sub = w.substring(off(i), off(j))
          candCount(sub) = candCount.getOrElse(sub, 0L) + nf
          j += 1
        }
        i += 1
      }
    }
    require(candCount.size <= (1 << 22),
      s"trainUnigram: ${candCount.size} candidate substrings exceed the " +
        "driver bound — shrink maxPieceLen or train on a smaller sample")
    require(!candCount.keysIterator.contains("|"),
      "trainUnigram: corpus contains '|' words — the Viterbi path " +
        "separator; strip them before training")
    val singles = candCount.keysIterator.filter(cpLen(_) == 1)
      .toIndexedSeq.sorted(cpOrd)
    require(vocabSize > singles.size,
      s"trainUnigram: vocabSize $vocabSize must exceed the ${singles.size}" +
        "-piece single-codepoint alphabet (coverage pieces are never pruned)")
    val seedMultis = candCount.iterator.filter { case (p, _) => cpLen(p) >= 2 }
      .toIndexedSeq
      .sortBy { case (p, c) => (-(c * cpLen(p)), p) }(
        Ordering.Tuple2(Ordering.Long, cpOrd))
      .take(math.max(0, vocabSize * seedMultiplier - singles.size))
      .map(_._1)
    var kept: IndexedSeq[String] = (singles ++ seedMultis).sorted(cpOrd)

    // Seed probabilities ∝ count·len, folded in sorted order.
    var lp: Map[String, Double] = {
      val scores = kept.map(p => p -> (candCount(p).toDouble * cpLen(p)))
      val total = scores.foldLeft(0.0)(_ + _._2)
      scores.map { case (p, s) => p -> (math.log(s) - math.log(total)) }.toMap
    }
    def toJava(m: Map[String, Double]): java.util.HashMap[String, java.lang.Double] = {
      val h = new java.util.HashMap[String, java.lang.Double](m.size * 2)
      m.foreach { case (k, v) => h.put(k, v) }
      h
    }
    var lastCounts: Map[String, Long] = Map.empty
    def emRound(): Unit = {
      val h = toJava(lp)
      val maxCp = math.max(1, kept.iterator.map(cpLen).max)
      val counts = scala.collection.mutable.HashMap[String, Long]()
      wordFreq.foreach { case (w, nf) =>
        graft.functions.UnigramExpr.viterbi(w, h, maxCp, "<unk>", unkLogProb)
          .foreach { p =>
            if (p != "<unk>") counts(p) = counts.getOrElse(p, 0L) + nf
          }
      }
      lastCounts = kept.iterator.map(p => p -> counts.getOrElse(p, 0L)).toMap
      val total = kept.foldLeft(0L)((a, p) => a + lastCounts(p))
      val denom = math.log(total + alpha * kept.size)
      lp = kept.iterator.map(p =>
        p -> (math.log(lastCounts(p) + alpha) - denom)).toMap
    }
    while (kept.size > vocabSize) {
      (1 to emRounds).foreach(_ => emRound())
      val target = math.max(vocabSize,
        math.ceil(kept.size * shrink).toInt)
      val multisKept = kept.filter(cpLen(_) >= 2)
        .sortBy(p => (-lastCounts(p), p))(Ordering.Tuple2(Ordering.Long, cpOrd))
        .take(math.max(0, target - singles.size))
      kept = (singles ++ multisKept).sorted(cpOrd)
      // Re-normalize over the survivors from the last counts.
      val total = kept.foldLeft(0L)((a, p) => a + lastCounts(p))
      val denom = math.log(total + alpha * kept.size)
      lp = kept.iterator.map(p =>
        p -> (math.log(lastCounts(p) + alpha) - denom)).toMap
    }
    (1 to emRounds).foreach(_ => emRound())
    UnigramVocab(kept.map(p => p -> lp(p)), "<unk>", unkLogProb)
  }

  /** Tokenize `textCol` by Viterbi max-likelihood segmentation under a
    * [[UnigramVocab]] — same whitespace-word convention as [[tokenize]],
    * zero shuffle, model rides as a plan literal.
    */
  def tokenizeUnigram(df: DataFrame, textCol: String, vocab: UnigramVocab,
      outCol: String = "pieces"): DataFrame = {
    val words = when(length(trim(col(textCol))) === 0,
        array().cast("array<string>"))
      .otherwise(split(lower(trim(col(textCol))), "\\s+"))
    df.withColumn(outCol, graft.functions.UnigramExpr.unigramTokenize(
      words, vocab.sorted, vocab.sorted.map(vocab.logProb),
      vocab.unkPiece, vocab.unkLogProb))
  }

  /** [[tokenIds]] for a [[UnigramVocab]] — same dense-sorted id space. */
  def tokenIdsUnigram(pieces: Column, vocab: UnigramVocab): Column =
    graft.functions.LookupExprs.idLookup(pieces, vocab.idOf, 0)

  /** Map a pieces array to dense token ids (sorted-vocab rank, unk → 0) —
    * one tight-loop hash lookup per piece
    * ([[graft.functions.LookupExprs.IdLookup]]; the composable
    * `transform` + `element_at(mapLit, p)` form scans the whole vocab
    * literal per piece — 131k comparisons per token at the 2¹⁷ bound).
    */
  def tokenIds(pieces: Column, vocab: SubwordVocab): Column =
    graft.functions.LookupExprs.idLookup(pieces, vocab.idOf, 0)
}
