package graftbench

import scala.collection.mutable.ArrayBuffer

/** Seeded input generators. Every frame graft sees is built here from the
  * run's seed, so one seed always yields the same inputs. Each generator
  * also reports the input properties the run record carries, so a change
  * to a generator shows up in the record.
  */
object Gen {

  /** Zipf(s) sampler over ranks 0 until n, by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val tot = w.sum
      var acc = 0.0
      w.map { x => acc += x / tot; acc }
    }
    def sample(r: scala.util.Random): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** A pseudo-language: words built from the language's own syllables, so
    * a naive-Bayes language model can separate the languages.
    */
  final class Lang(val code: String, syllables: IndexedSeq[String], vocabSize: Int,
      seed: Long) {
    val vocab: IndexedSeq[String] = {
      val r = new scala.util.Random(seed)
      val seen = scala.collection.mutable.LinkedHashSet.empty[String]
      while (seen.size < vocabSize) {
        val n = 2 + r.nextInt(2)
        seen += (0 until n).map(_ => syllables(r.nextInt(syllables.length))).mkString
      }
      seen.toIndexedSeq
    }
    private val zipf = new Zipf(vocab.length, 1.07)
    def word(r: scala.util.Random): String = vocab(zipf.sample(r))
    def words(r: scala.util.Random, n: Int): IndexedSeq[String] =
      IndexedSeq.fill(n)(word(r))
  }

  private def syll(cons: String, vows: String): IndexedSeq[String] =
    for (c <- cons; v <- vows) yield s"$c$v"

  /** Three pseudo-languages with disjoint letter sets. The vocabularies
    * depend only on fixed seeds: the run seed varies the documents, not the
    * languages.
    */
  lazy val langs: IndexedSeq[Lang] = IndexedSeq(
    new Lang("en", syll("tnsrldh", "aeio"), 4000, 11L),
    new Lang("de", syll("kgbzwvf", "auey"), 4000, 12L),
    new Lang("fr", syll("pmcjqx", "aiou"), 4000, 13L))

  def logNormalLen(r: scala.util.Random, median: Double, sigma: Double,
      lo: Int, hi: Int): Int =
    math.max(lo, math.min(hi, math.round(median * math.exp(sigma * r.nextGaussian())).toInt))

  // ---------------------------------------------------------------------
  // corpus_curate
  // ---------------------------------------------------------------------

  final case class Doc(id: Long, lang: String, domain: String, text: String)

  /** A web corpus with planted structure: `exactClusters` hold ids whose
    * texts are identical, `nearPairs` hold (source, edited copy) ids and
    * `junk` holds pages built to fail the quality rules.
    */
  final case class Corpus(docs: IndexedSeq[Doc], exactClusters: IndexedSeq[IndexedSeq[Long]],
      nearPairs: IndexedSeq[(Long, Long)], junk: Set[Long]) {
    lazy val bytes: Long = docs.map(_.text.getBytes("UTF-8").length.toLong).sum

    def props: Map[String, Any] = {
      val n = docs.length.toDouble
      val lens = docs.map(_.text.split(" ").length).sorted
      Map(
        "docs" -> docs.length,
        "bytes" -> bytes,
        "domains" -> Domains,
        "words_p50" -> lens(lens.length / 2),
        "words_p99" -> lens((lens.length * 99) / 100),
        "exact_dup_share" -> exactClusters.map(_.length - 1).sum / n,
        "exact_dup_clusters" -> exactClusters.length,
        "near_dup_share" -> nearPairs.length / n,
        "junk_share" -> junk.size / n)
    }
  }

  /** Web domains of the corpus, Zipf-skewed. */
  val Domains = 60

  def corpus(seed: Long, nDocs: Int): Corpus = {
    val r = new scala.util.Random(seed)
    val domZipf = new Zipf(Domains, 1.2)
    def domain() = s"site${domZipf.sample(r)}.example"
    val docs = ArrayBuffer.empty[Doc]
    val exact = ArrayBuffer.empty[IndexedSeq[Long]]
    val near = ArrayBuffer.empty[(Long, Long)]
    val junk = scala.collection.mutable.Set.empty[Long]
    // Sources of planted copies are drawn only from clean, unused docs.
    val usedAsSource = scala.collection.mutable.Set.empty[Long]
    def cleanSource(): Option[Doc] = {
      var tries = 0
      while (tries < 50) {
        val d = docs(r.nextInt(docs.length))
        if (!junk(d.id) && !usedAsSource(d.id)) {
          usedAsSource += d.id
          return Some(d)
        }
        tries += 1
      }
      None
    }
    var id = 0L
    while (docs.length < nDocs) {
      val u = r.nextDouble()
      if (docs.length > 50 && u < 0.03) {
        // Exact-duplicate cluster: 1 to 3 copies of a clean doc.
        cleanSource().foreach { src =>
          val copies = (1 to 1 + r.nextInt(3)).map { _ =>
            id += 1
            docs += Doc(id, src.lang, domain(), src.text)
            usedAsSource += id
            id
          }
          exact += (src.id +: copies)
        }
      } else if (docs.length > 50 && u < 0.06) {
        // Near duplicate: ~4 % of word positions rewritten, at least one.
        cleanSource().foreach { src =>
          val lang = langs.find(_.code == src.lang).get
          val ws = edit(src.text.split(" "), lang, r)
          id += 1
          docs += Doc(id, src.lang, domain(), ws.mkString(" "))
          usedAsSource += id
          near += ((src.id, id))
        }
      } else if (u < 0.10) {
        id += 1
        docs += Doc(id, langs(r.nextInt(langs.length)).code, domain(), junkText(r))
        junk += id
      } else {
        id += 1
        val lang = langs(r.nextInt(langs.length))
        val n = logNormalLen(r, 110, 0.6, 60, 1500)
        docs += Doc(id, lang.code, domain(), lang.words(r, n).mkString(" "))
      }
    }
    Corpus(docs.toIndexedSeq, exact.toIndexedSeq, near.toIndexedSeq, junk.toSet)
  }

  /** Rewrite ~4 % of the words, and always at least one, so a near copy
    * never equals its source.
    */
  def edit(words: Array[String], lang: Lang, r: scala.util.Random): Array[String] = {
    val out = words.map(w => if (r.nextDouble() < 0.04) lang.word(r) else w)
    val i = r.nextInt(out.length)
    out(i) = Iterator.continually(lang.word(r)).find(_ != words(i)).get
    out
  }

  /** A page that fails at least one quality rule by a wide margin. */
  def junkText(r: scala.util.Random): String = {
    val lang = langs(r.nextInt(langs.length))
    r.nextInt(4) match {
      case 0 => lang.words(r, 5 + r.nextInt(25)).mkString(" ") // too short
      case 1 => // symbol spam
        IndexedSeq.fill(80 + r.nextInt(80))(
          if (r.nextDouble() < 0.35) "#" else lang.word(r)).mkString(" ")
      case 2 => // template page
        (lang.words(r, 70) ++ Seq("lorem", "ipsum", "dolor", "{", "}") ++
          lang.words(r, 20)).mkString(" ")
      case _ => // number tables
        IndexedSeq.fill(80 + r.nextInt(80))(
          if (r.nextDouble() < 0.5) r.nextInt(100000).toString else lang.word(r)).mkString(" ")
    }
  }

  // ---------------------------------------------------------------------
  // index_churn
  // ---------------------------------------------------------------------

  /** A base corpus plus an endless, seeded stream of microbatches. Batch
    * `i` depends only on (seed, i), so any prefix of the stream replays.
    */
  final class Churn(seed: Long, val baseDocs: Int) {
    private val lang = langs.head
    private def text(r: scala.util.Random): String =
      lang.words(r, logNormalLen(r, 60, 0.5, 12, 400)).mkString(" ")

    val base: IndexedSeq[Doc] = {
      val r = new scala.util.Random(seed)
      (1 to baseDocs).map(i => Doc(i.toLong, lang.code, "", text(r)))
    }

    /** Every microbatch has the same size. A run measures a few
      * batches, so a seeded size would make throughput a function of the
      * seed; the seed varies the documents instead.
      */
    val batchSize = 48
    val dupShare = 0.12

    /** Batch `i`: fresh ids above every earlier batch's, with a seeded
      * share of exact and near copies of base documents.
      */
    def batch(i: Int): IndexedSeq[Doc] = {
      val r = new scala.util.Random(seed * 1000003L + i)
      val first = baseDocs + 1L + i.toLong * batchSize
      (0 until batchSize).map { j =>
        val t =
          if (r.nextDouble() < dupShare) {
            val src = base(r.nextInt(base.length)).text
            if (r.nextBoolean()) src
            else edit(src.split(" "), lang, r).mkString(" ")
          } else text(r)
        Doc(first + j, lang.code, "", t)
      }
    }

    /** Query `q` of batch `i`: two to three vocabulary words. */
    def query(i: Int, q: Int): String = {
      val r = new scala.util.Random(seed * 7919L + i * 31L + q)
      lang.words(r, 2 + r.nextInt(2)).mkString(" ")
    }

    def props: Map[String, Any] = Map(
      "base_docs" -> baseDocs,
      "base_bytes" -> base.map(_.text.getBytes("UTF-8").length.toLong).sum,
      "batch_size" -> batchSize,
      "batch_dup_share" -> dupShare)
  }

  // ---------------------------------------------------------------------
  // semantic_query
  // ---------------------------------------------------------------------

  final case class Review(id: Long, product: String, text: String)

  val sentiment: IndexedSeq[String] = IndexedSeq("good", "bad", "fine", "poor")
  val features: IndexedSeq[String] = IndexedSeq("battery", "screen", "price", "size",
    "sound", "speed")

  /** Review-like rows, `rows` per pass. A `RepeatShare` of each pass's rows
    * repeats an earlier text of the same pass, so the response cache hits.
    */
  final class Reviews(seed: Long, val rows: Int) {
    import Reviews._
    private val lang = langs.head
    private val prodZipf = new Zipf(Products, 1.0)

    def pass(i: Int): IndexedSeq[Review] = {
      val r = new scala.util.Random(seed * 104729L + i)
      val out = ArrayBuffer.empty[Review]
      (0 until rows).foreach { j =>
        val id = i.toLong * rows + j
        val product = s"p${prodZipf.sample(r)}"
        val t =
          if (out.nonEmpty && r.nextDouble() < RepeatShare) out(r.nextInt(out.length)).text
          else {
            val ws = lang.words(r, 6 + r.nextInt(18)).toBuffer
            ws.insert(r.nextInt(ws.length + 1), sentiment(r.nextInt(sentiment.length)))
            if (r.nextDouble() < 0.5)
              ws.insert(r.nextInt(ws.length + 1), features(r.nextInt(features.length)))
            ws.mkString(" ")
          }
        out += Review(id, product, t)
      }
      out.toIndexedSeq
    }

    def props: Map[String, Any] = Map(
      "rows_per_pass" -> rows,
      "repeated_prompt_share" -> RepeatShare,
      "products" -> Products,
      "join_table_rows" -> features.length)
  }

  object Reviews {
    val RepeatShare = 0.25
    val Products = 8
  }
}
