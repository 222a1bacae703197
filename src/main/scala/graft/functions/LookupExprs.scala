package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Tight-loop token-fold kernels for the trained-classifier family
  * ([[graft.operators.QualityClassifier]]) and the n-gram LM
  * ([[graft.operators.NgramLm]]). The composable form —
  * `aggregate(tokens, 0.0, (acc, w) => acc + element_at(mapLit, w))` —
  * hides two per-TOKEN costs that dominate a corpus pass: Spark's
  * `GetMapValue` on a literal map is a LINEAR scan of the entries (a 5k-
  * gram vocab ⇒ thousands of comparisons per token), and the interpreted
  * higher-order lambda allocates per step (the vector variant allocated a
  * fresh k-array per token through `zip_with`). Measured at the ×100
  * blow-up, the language-ID scoring fold spent 90+ seconds in exactly
  * this. These kernels do the same fold as ONE compiled loop over a
  * transient HashMap keyed by UTF8String (no per-token toString), with
  * IDENTICAL left-to-right IEEE addition order — the DuckDB oracles that
  * replay `list_reduce(list_transform(...)) + prior` stay hash-matched.
  * The fit-side kernels stay CodegenFallback (one pass per fit — the
  * boundary cost never repeats); the LM scorer [[NgramHashLmScore]]
  * implements doGenCode so the hot scoring projection calls the compiled
  * kernel from generated code with no interpreted-expression boundary at
  * all.
  */
object LookupExprs {

  private def utf8Map[V](m: Map[String, V]): java.util.HashMap[UTF8String, V] = {
    val h = new java.util.HashMap[UTF8String, V](m.size * 2)
    m.foreach { case (k, v) => h.put(UTF8String.fromString(k), v) }
    h
  }

  /** Minimal open-addressing long → double table for the LM scoring
    * kernels' per-token probes. `java.util.HashMap[jl.Long, jl.Double]`
    * pays a `Long.valueOf` ALLOCATION per probe (one per token per order
    * — the dominant allocation of a perplexity pass once the fold itself
    * is a compiled loop); this probes with zero allocation. Linear
    * probing over a power-of-two array, slots marked live in a parallel
    * occupancy array so key 0 needs no sentinel. Serializable (primitive
    * arrays), so a prebuilt table can ride a broadcast instead of being
    * rebuilt per task.
    */
  private[functions] final class LongDoubleHash(entries: Iterator[(Long, Double)],
      sizeHint: Int) extends Serializable {
    private val cap = {
      var c = 8
      while (c < sizeHint * 2) c <<= 1
      c
    }
    private val mask = cap - 1
    private val keys = new Array[Long](cap)
    private val vals = new Array[Double](cap)
    private val live = new Array[Boolean](cap)
    entries.foreach { case (k, v) =>
      // mix64: a caller's keys need not be uniform — clustered low bits
      // would run linear probes into long chains.
      var i = mix64(k).toInt & mask
      while (live(i) && keys(i) != k) i = (i + 1) & mask
      keys(i) = k; vals(i) = v; live(i) = true
    }
    def getOrElse(k: Long, dflt: Double): Double = {
      var i = mix64(k).toInt & mask
      while (live(i)) {
        if (keys(i) == k) return vals(i)
        i = (i + 1) & mask
      }
      dflt
    }
  }

  private[functions] object LongDoubleHash {
    def apply(m: Map[Long, Double]): LongDoubleHash =
      new LongDoubleHash(m.iterator, m.size)
  }

  /** Broadcast-shared scoring model for the LM kernel
    * ([[NgramHashLmScore]]): the fitted vocab (pre-hashed UTF8 keys),
    * unigram probabilities, and one primitive probe table per order,
    * built ONCE on the driver and reached through a broadcast handle. As plan literals the tables
    * rode the task binary (16 MB at sf0.1 for the order-5 model) and
    * were deserialized — and their probe structures rebuilt — per TASK;
    * through the broadcast they are deserialized once per executor and,
    * in local mode, simply shared by reference. This is also the
    * closure-size ceiling fix the order-n kernel needed: the bound is
    * now executor memory once, not (order−1)·maxNgramEntries boxed
    * entries serialized into every task.
    */
  private[graft] final class LmScoreBundle(
      vocabMap: Map[String, Int], val uniProb: Array[Double],
      tableMaps: Seq[Map[Long, Double]]) extends Serializable {
    val vocab: java.util.HashMap[UTF8String, Integer] = {
      val h = new java.util.HashMap[UTF8String, Integer](vocabMap.size * 2)
      vocabMap.foreach { case (k, v) =>
        h.put(UTF8String.fromString(k), Integer.valueOf(v)) }
      h
    }
    val tables: Array[LongDoubleHash] = tableMaps.map(LongDoubleHash(_)).toArray
    val unkId: Int = uniProb.length - 1
  }

  private def broadcastBundle(vocab: Map[String, Int], uniProb: Array[Double],
      tables: Seq[Map[Long, Double]])
      : org.apache.spark.broadcast.Broadcast[LmScoreBundle] =
    org.apache.spark.sql.SparkSession.active.sparkContext
      .broadcast(new LmScoreBundle(vocab, uniProb, tables))

  private def requireStringArray(e: Expression, fn: String) =
    e.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$fn requires array<string>, got $other")
    }

  /** Σ over tokens of `lut(token)` (missing → `default`), left-to-right —
    * the scalar NB/DSIR fold. Null tokens fold the default (the
    * `coalesce(element_at(...), default)` semantics it replaces).
    */
  case class SumLookup(child: Expression, lut: Map[String, Double],
      default: Double) extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = DoubleType
    override def checkInputDataTypes() = requireStringArray(child, "sum_lookup")
    @transient private lazy val h = utf8Map(lut)
    override protected def nullSafeEval(input: Any): Any = {
      val toks = input.asInstanceOf[ArrayData]
      val n = toks.numElements()
      var acc = 0.0
      var i = 0
      while (i < n) {
        val t = toks.getUTF8String(i)
        val v = if (t == null) null else h.get(t)
        acc += (if (v == null) default else v.asInstanceOf[Double])
        i += 1
      }
      acc
    }
    override protected def withNewChildInternal(newChild: Expression) =
      copy(child = newChild)
  }

  /** Per-row char n-gram COUNTS of a (pre-normalized) string — the
    * training-side extraction as one compiled pass. The composable form
    * (`transform(sequence(...), substring)` per length, exploded row per
    * gram OCCURRENCE) paid an interpreted lambda + allocation per gram
    * and shuffled the full occurrence stream; this emits one
    * (gram → count) map per row, so the exploded aggregate input shrinks
    * to per-row DISTINCT grams (~5× fewer rows on real text; the
    * downstream sum of counts is the identical multiset). Codepoint
    * n-grams via `substringSQL` — the ANSI substr semantics the oracles
    * replay. Lengths iterate sorted ascending, positions left-to-right
    * (the list_concat order of the composable form).
    */
  case class CharNgramCounts(child: Expression, lens: Seq[Int])
      extends UnaryExpression with CodegenFallback {
    require(lens.nonEmpty && lens.forall(_ >= 1),
      s"char_ngram_counts: lens $lens must be >= 1")
    private val sortedLens = lens.distinct.sorted
    override def dataType: DataType =
      MapType(StringType, LongType, valueContainsNull = false)
    override def checkInputDataTypes() = child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"char_ngram_counts requires string, got $other")
    }
    override protected def nullSafeEval(input: Any): Any = {
      val s = input.asInstanceOf[UTF8String]
      val nCp = s.numChars()
      val counts = new java.util.LinkedHashMap[UTF8String, Long]()
      sortedLens.foreach { n =>
        var i = 0
        while (i + n <= nCp) {
          val g = s.substringSQL(i + 1, n)
          val prev = counts.get(g)
          counts.put(g, if (prev == null) 1L else prev + 1L)
          i += 1
        }
      }
      val k = new Array[Any](counts.size)
      val v = new Array[Any](counts.size)
      val it = counts.entrySet().iterator()
      var j = 0
      while (it.hasNext) {
        val e = it.next()
        k(j) = e.getKey; v(j) = e.getValue; j += 1
      }
      new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
        new GenericArrayData(k), new GenericArrayData(v))
    }
    override protected def withNewChildInternal(newChild: Expression) =
      copy(child = newChild)
  }

  /** The whole multi-class NB decision in one pass
    * ([[graft.operators.QualityClassifier.scoreLangNB]]): char n-grams
    * are extracted INLINE from the (pre-normalized) string — lengths
    * ascending, positions left-to-right, the list_concat order — and per
    * class i, score_i = (Σ over grams of llr(gram)(i), missing → oov(i))
    * + prior(i); returns struct(pred = classes(argmax), score = max)
    * with the FIRST maximal index winning ties — `classes` is sorted, so
    * ties break to the lexicographically smallest class, the `ORDER BY
    * score DESC, class` an oracle replays. Extraction + fold + argmax in
    * one kernel: materializing the gram array through interpreted
    * `transform`/`substring` Columns measured 80+ s at the ×100 blow-up
    * (an allocation and lambda dispatch per gram); a score-vector column
    * would additionally re-run its subtree per reference.
    */
  case class LangNbScore(child: Expression, lens: Seq[Int],
      classes: Seq[String], llr: Map[String, Array[Double]],
      oov: Array[Double], priors: Array[Double])
      extends UnaryExpression with CodegenFallback {
    require(classes.nonEmpty && oov.length == classes.length &&
      priors.length == classes.length, "LangNbScore: class arity mismatch")
    require(lens.nonEmpty && lens.forall(_ >= 1),
      s"lang_nb_score: lens $lens must be >= 1")
    private val sortedLens = lens.distinct.sorted
    override def dataType: DataType = StructType(Seq(
      StructField("pred", StringType, nullable = false),
      StructField("score", DoubleType, nullable = false),
      // Confidence margin: best minus runner-up posterior (0.0 for a
      // single-class model — no alternative exists). The routing signal
      // thresholded by confidence-gated pipelines (CCNet keeps docs only
      // when the classifier is SURE); ln-space difference of the same
      // accumulators, so it costs nothing extra.
      StructField("margin", DoubleType, nullable = false)))
    override def checkInputDataTypes() = child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"lang_nb_score requires string, got $other")
    }
    @transient private lazy val h = utf8Map(llr)
    @transient private lazy val classU8 = classes.map(UTF8String.fromString).toArray
    override protected def nullSafeEval(input: Any): Any = {
      val s = input.asInstanceOf[UTF8String]
      val nCp = s.numChars()
      val k = priors.length
      val acc = new Array[Double](k)
      sortedLens.foreach { n =>
        var i = 0
        while (i + n <= nCp) {
          val v = h.get(s.substringSQL(i + 1, n))
          val vec = if (v == null) oov else v
          var c = 0
          while (c < k) { acc(c) += vec(c); c += 1 }
          i += 1
        }
      }
      var best = 0
      var c = 0
      while (c < k) {
        acc(c) += priors(c)
        if (acc(c) > acc(best)) best = c // strict > : first max wins ties
        c += 1
      }
      // Runner-up = max over the non-best indices (a tie-equal score in
      // another class yields margin 0, the honest "not sure" signal).
      var second = Double.NegativeInfinity
      c = 0
      while (c < k) {
        if (c != best && acc(c) > second) second = acc(c)
        c += 1
      }
      val margin = if (k == 1) 0.0 else acc(best) - second
      org.apache.spark.sql.catalyst.InternalRow(classU8(best), acc(best), margin)
    }
    override protected def withNewChildInternal(newChild: Expression) =
      copy(child = newChild)
  }

  /** array<string> → array<int> through a hash map (missing → `default`)
    * — the dense-token-id projection ([[graft.operators.Tokenizer
    * .tokenIds]]). `transform` + `element_at(mapLit, p)` scans the whole
    * vocab literal per piece: at the 2¹⁷-entry vocab bound that is 131k
    * comparisons per TOKEN.
    */
  case class IdLookup(child: Expression, lut: Map[String, Int],
      default: Int) extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def checkInputDataTypes() = requireStringArray(child, "id_lookup")
    @transient private lazy val h = utf8Map(lut)
    override protected def nullSafeEval(input: Any): Any = {
      val toks = input.asInstanceOf[ArrayData]
      val n = toks.numElements()
      val out = new Array[Int](n)
      var i = 0
      while (i < n) {
        val t = toks.getUTF8String(i)
        val v = if (t == null) null else h.get(t)
        out(i) = if (v == null) default else v.asInstanceOf[Int]
        i += 1
      }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(newChild: Expression) =
      copy(child = newChild)
  }

  /** splitmix64 finalizer — the bijective avalanche step both hashed-key
    * LM kernels share. Bijectivity means `mix64(h ^ id)` chains lose no
    * entropy per step.
    */
  @inline private[functions] def mix64(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** 64-bit hash of an id window (the KenLM-style hashed n-gram key —
    * probing hash tables over gram hashes rather than materialized gram
    * strings; kenlm.code.googlepages.com / Heafield 2011 describe the
    * same trade): seed by the window LENGTH, then fold each id through
    * the splitmix64 finalizer left to right. Two windows of different
    * length never share a seed, so an order-k key and its (k−1)-prefix
    * context key live in disjoint hash streams. Collision probability
    * for K distinct grams is ≈ K²/2⁶⁵ — negligible at gate scale
    * (~10⁶ grams ⇒ ~10⁻⁷); at web scale occasional collisions MERGE two
    * grams' counts, perturbing those grams' ML terms only — exactly the
    * accepted behavior of KenLM's hashed probing tables.
    */
  private[graft] def gramHash(ids: Array[Long], start: Int, len: Int): Long = {
    var h = mix64(len.toLong)
    var i = start
    val end = start + len
    while (i < end) { h = mix64(h ^ ids(i)); i += 1 }
    h
  }

  /** Per-row hashed n-gram key counts for ALL orders 2..`order` over the
    * vocab-mapped token stream — the training-side extraction for
    * [[graft.operators.NgramLm]], one compiled pass (the
    * [[CharNgramCounts]] convention). Keys are [[gramHash]]es, so one
    * kernel serves every order (CCNet's published filter is a 5-gram
    * KenLM). Each position's window is the BOS-padded last `order` ids
    * ending at the current token; for every k in 2..order the row emits
    * one entry per DISTINCT (k, full-gram hash) with its context hash
    * (the window's (k−1)-suffix-before-cur) and count. Emitting every order
    * from ONE pass means the fitter tokenizes and scans the corpus once
    * and shuffles once, not once per order — at 100 TB that deletes
    * order−2 full corpus scans from the fit. The exploded aggregate
    * input is per-row distinct keys, never the token stream, and
    * context totals group the SAME aggregate by (ord, ctx) (every
    * position has exactly one context per order ⇒ each ML term
    * normalizes exactly). Returns
    * array<struct<ord: int, ctx: long, key: long, cnt: long>>.
    */
  case class NgramHashKeyCounts(child: Expression, vocab: Map[String, Int],
      unkId: Int, bosId: Int, order: Int)
      extends UnaryExpression with CodegenFallback {
    require(order >= 2, s"ngram_hash_key_counts: order $order must be >= 2")
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("ord", IntegerType, nullable = false),
      StructField("ctx", LongType, nullable = false),
      StructField("key", LongType, nullable = false),
      StructField("cnt", LongType, nullable = false))), containsNull = false)
    override def checkInputDataTypes() =
      requireStringArray(child, "ngram_hash_key_counts")
    @transient private lazy val h = utf8Map(vocab)
    override protected def nullSafeEval(input: Any): Any = {
      val toks = input.asInstanceOf[ArrayData]
      val n = toks.numElements()
      // Open-addressing scratch keyed by (ord, gram hash), insertion order
      // tracked in `slots` for deterministic output. The boxed
      // `LinkedHashMap[(Int, Long), Array[Long]]` paid a Tuple2 + boxed-Long
      // allocation per token per order in the fit's single corpus pass;
      // this probes primitive arrays with zero allocation per position.
      // gramHash seeds by window LENGTH, so same-hash keys can only
      // collide within their own order anyway — the ord equality check is
      // belt-and-braces plus the output field. cnt == 0 marks an empty
      // slot (a present gram always counts ≥ 1), so key 0 needs no
      // sentinel. Starts small and quadruples at 50% load: a repetitive
      // document (few distinct grams) never allocates its worst case.
      val maxEntries = n * (order - 1) + 1
      var cap = 16
      val target = math.min(maxEntries, 4096)
      while (cap < target * 2) cap <<= 1
      var mask = cap - 1
      var keyArr = new Array[Long](cap)
      var ordArr = new Array[Int](cap)
      var ctxArr = new Array[Long](cap)
      var cntArr = new Array[Long](cap)
      val slots = new Array[Int](maxEntries)
      var sz = 0
      def grow(): Unit = {
        val ncap = cap << 2
        val nmask = ncap - 1
        val nkey = new Array[Long](ncap)
        val nord = new Array[Int](ncap)
        val nctx = new Array[Long](ncap)
        val ncnt = new Array[Long](ncap)
        var j = 0
        while (j < sz) {
          val s = slots(j)
          val key = keyArr(s)
          var p = (key ^ (key >>> 32)).toInt & nmask
          while (ncnt(p) != 0L) p = (p + 1) & nmask // entries are distinct
          nkey(p) = key; nord(p) = ordArr(s); nctx(p) = ctxArr(s)
          ncnt(p) = cntArr(s)
          slots(j) = p
          j += 1
        }
        cap = ncap; mask = nmask
        keyArr = nkey; ordArr = nord; ctxArr = nctx; cntArr = ncnt
      }
      val win = new Array[Long](order)
      java.util.Arrays.fill(win, bosId.toLong)
      var i = 0
      while (i < n) {
        val t = toks.getUTF8String(i)
        val hit = if (t == null) null else h.get(t)
        val cur = if (hit == null) unkId.toLong else hit.asInstanceOf[Int].toLong
        System.arraycopy(win, 1, win, 0, order - 1)
        win(order - 1) = cur
        var k = 2
        while (k <= order) {
          val key = gramHash(win, order - k, k)
          var s = (key ^ (key >>> 32)).toInt & mask
          while (cntArr(s) != 0L && !(keyArr(s) == key && ordArr(s) == k))
            s = (s + 1) & mask
          if (cntArr(s) != 0L) cntArr(s) += 1L
          else {
            if ((sz + 1) * 2 > cap) {
              grow()
              s = (key ^ (key >>> 32)).toInt & mask
              while (cntArr(s) != 0L) s = (s + 1) & mask
            }
            keyArr(s) = key; ordArr(s) = k
            ctxArr(s) = gramHash(win, order - k, k - 1)
            cntArr(s) = 1L
            slots(sz) = s; sz += 1
          }
          k += 1
        }
        i += 1
      }
      val out = new Array[Any](sz)
      var j = 0
      while (j < sz) {
        val s = slots(j)
        out(j) = org.apache.spark.sql.catalyst.InternalRow(
          ordArr(s), ctxArr(s), keyArr(s), cntArr(s))
        j += 1
      }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(newChild: Expression) =
      copy(child = newChild)
  }

  /** The order-n Jelinek–Mercer document score in one pass
    * ([[graft.operators.NgramLm.logLik]]): per token, starting from
    * `p = p_uni(w)`, each order k = 2..n wraps
    * `p = λₖ·pmlₖ + (1−λₖ)·p` (each ML term 0 when its hashed gram is
    * absent from that order's table) — the same dyadic float tree a SQL
    * oracle writes as the literally-nested interpolation, innermost
    * (unigram) first. The fitted model (vocab, unigram array, one
    * [[gramHash]]-keyed table per order 2..n) rides a [[LmScoreBundle]]
    * broadcast — `bundle.value.tables(k−2)` holds order k's ML
    * probabilities. Returns struct(ll, n); empty array = (0.0, 0).
    */
  case class NgramHashLmScore(child: Expression,
      bundle: org.apache.spark.broadcast.Broadcast[LmScoreBundle],
      lambdas: Seq[Double], bosId: Int)
      extends UnaryExpression {
    require(lambdas.nonEmpty,
      "ngram_hash_lm_score: need one λ per order 2..n")
    require(lambdas.forall(l => l > 0 && l < 1),
      s"ngram_hash_lm_score: lambdas $lambdas must all be in (0, 1) so " +
        "ln's argument stays positive even when every ML term is unseen")
    private val order = lambdas.size + 1
    override def dataType: DataType = StructType(Seq(
      StructField("ll", DoubleType, nullable = false),
      StructField("n", IntegerType, nullable = false)))
    override def checkInputDataTypes() =
      requireStringArray(child, "ngram_hash_lm_score")
    @transient private lazy val b = bundle.value
    @transient private lazy val lam = lambdas.toArray
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("ngramHashLmScore", this, classOf[NgramHashLmScore].getName)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.score($c);")
    }
    def score(toks: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
      val n = toks.numElements()
      val h = b.vocab
      val tgs = b.tables
      val uniProb = b.uniProb
      val unkId = b.unkId
      var ll = 0.0
      val win = new Array[Long](order)
      java.util.Arrays.fill(win, bosId.toLong)
      var i = 0
      while (i < n) {
        val t = toks.getUTF8String(i)
        val hit = if (t == null) null else h.get(t)
        val cur = if (hit == null) unkId.toLong else hit.longValue()
        System.arraycopy(win, 1, win, 0, order - 1)
        win(order - 1) = cur
        var p = uniProb(cur.toInt)
        var k = 2
        while (k <= order) {
          val pml = tgs(k - 2).getOrElse(gramHash(win, order - k, k), 0.0)
          p = lam(k - 2) * pml + (1.0 - lam(k - 2)) * p
          k += 1
        }
        ll += math.log(p)
        i += 1
      }
      org.apache.spark.sql.catalyst.InternalRow(ll, n)
    }
    override protected def nullSafeEval(input: Any): Any =
      score(input.asInstanceOf[ArrayData])
    override protected def withNewChildInternal(newChild: Expression) =
      copy(child = newChild)
  }

  def sumLookup(tokens: Column, lut: Map[String, Double],
      default: Double): Column =
    ColumnBridge.column(SumLookup(ColumnBridge.expression(tokens), lut, default))

  def idLookup(tokens: Column, lut: Map[String, Int], default: Int): Column =
    ColumnBridge.column(IdLookup(ColumnBridge.expression(tokens), lut, default))

  def ngramHashKeyCounts(tokens: Column, vocab: Map[String, Int],
      unkId: Int, bosId: Int, order: Int): Column =
    ColumnBridge.column(NgramHashKeyCounts(ColumnBridge.expression(tokens),
      vocab, unkId, bosId, order))

  def ngramHashLmScore(tokens: Column, vocab: Map[String, Int],
      uniProb: Array[Double], tables: Seq[Map[Long, Double]],
      lambdas: Seq[Double], bosId: Int): Column = {
    require(tables.nonEmpty && tables.size == lambdas.size,
      s"ngram_hash_lm_score: ${tables.size} tables vs ${lambdas.size} " +
        "lambdas — one λ per order 2..n")
    ColumnBridge.column(NgramHashLmScore(ColumnBridge.expression(tokens),
      broadcastBundle(vocab, uniProb, tables), lambdas, bosId))
  }

  def charNgramCounts(normText: Column, lens: Seq[Int]): Column =
    ColumnBridge.column(
      CharNgramCounts(ColumnBridge.expression(normText), lens))

  def langNbScore(normText: Column, lens: Seq[Int], classes: Seq[String],
      llr: Map[String, Array[Double]], oov: Array[Double],
      priors: Array[Double]): Column =
    ColumnBridge.column(LangNbScore(ColumnBridge.expression(normText), lens,
      classes, llr, oov, priors))
}
