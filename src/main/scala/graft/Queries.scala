package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Sem
import graft.llm.{FakeBehavior, FakeLM}
import graft.connectors.DataConnectors
import graft.operators.{CorpusPrep, Decontaminate, Dedup, EmbedOps, Evals, FuzzyJoin, Lexical, LexIndex, Temporal}
import graft.functions.{MultimodalOps, TextFunctions => TF, UnicodeExpr => UE}

/** The operator inventory as driver-checkable queries.
  *
  * Every query here has a deterministic result; most have an ANSI-SQL oracle
  * in [[Queries.oracleSql]] runnable by DuckDB against the same parquet
  * tables. Semantic operators run against deterministic [[FakeLM]] behaviors
  * whose semantics are themselves SQL-expressible — so even the LLM-stage
  * plumbing (serialization → prompt → batched call → parse → columns) is
  * hash-verified end to end.
  *
  * Numeric convention: money aggregates are summed as integer cents
  * (`round(x*100)` per row, then BIGINT sum) — per-row IEEE ops are
  * bit-identical across engines and integer sums are order-independent, so
  * hashes match without float tolerance.
  */
/** Scripted agentic completer for the `pipeline_agentic` gates:
  * deterministic, tool-free, and its semantics are SQL-expressible (map =
  * whitespace-collapsed uppercase of the unit; filter = KEEP iff the unit
  * content is >= 150 chars; reduce = "UNITS=<n> CHARS=<Σ finding lengths>"
  * over the per-shard findings), so the agentic pipeline plumbing is
  * hash-checkable against a DuckDB oracle. Runs inside executor tasks like
  * any production completer.
  */
private[graft] object ScriptedPipelineCompleter extends graft.agentic.Completer {
  private val FilterMark = "decide KEEP or DROP for EACH unit"
  private val SingleFilterMark = "End your reply with a line 'VERDICT:"
  private val ReduceMark = "PER-SHARD FINDINGS:\n"

  override def complete(messages: Seq[(String, String)],
      toolsEnabled: Boolean): graft.agentic.AgentStep = {
    val user = messages.reverse.collectFirst { case ("user", c) => c }.getOrElse("")
    val reduceAt = user.indexOf(ReduceMark)
    if (reduceAt >= 0) {
      // Mapped findings are single-line (whitespace-collapsed), so each
      // "[shard i]" label is followed by exactly one finding line.
      val findings = "\\[shard \\d+\\]\\n([^\\n]*)".r
        .findAllMatchIn(user.substring(reduceAt + ReduceMark.length))
        .map(_.group(1)).toSeq
      return graft.agentic.AgentStep(
        s"UNITS=${findings.length} CHARS=${findings.map(_.length).sum}")
    }
    val shard = {
      val i = user.indexOf("SHARD:\n")
      val body = if (i >= 0) user.substring(i + 7) else user
      // Strip the op instruction suffixes appended after the shard
      // (batched JSON protocol / single-unit verdict line).
      val j = Seq(body.indexOf("\n\nThe shard contains MULTIPLE units"),
        body.indexOf("\n\nEnd your reply with a line 'VERDICT:")).filter(_ >= 0)
      j.sorted.headOption.map(body.substring(0, _)).getOrElse(body)
    }
    val units = shard.split("\n\n").toSeq.flatMap { u =>
      "^\\[unit ([^\\]]+)\\]\\n([\\s\\S]*)$".r.findFirstMatchIn(u)
        .map(g => g.group(1) -> g.group(2))
    }
    if (user.contains(FilterMark)) {
      val arr = units.map { case (id, content) =>
        s"""{"id": "$id", "keep": ${content.length >= 150}}"""
      }.mkString("[", ", ", "]")
      graft.agentic.AgentStep(s"Assessed each unit.\n$arr")
    } else if (user.contains(SingleFilterMark)) {
      // Single-unit filter: one verdict line for the one unit.
      val keep = units.headOption.exists(_._2.length >= 150)
      graft.agentic.AgentStep(s"VERDICT: ${if (keep) "KEEP" else "DROP"}")
    } else {
      // Single-unit map: the reply IS the transformed content.
      val content = units.headOption.map(_._2).getOrElse("")
      graft.agentic.AgentStep(
        content.replaceAll("\\s+", " ").toUpperCase(java.util.Locale.ROOT))
    }
  }
}

object Queries {

  /** Parquet schemas of the (immutable) input tables, inferred once per
    * path per JVM: without an explicit schema every `spark.read.parquet`
    * re-reads a footer on the driver, and the bench pays that per query
    * per pass — pure fixed overhead on the ~170-query tail (guide §6:
    * explicit schemas on hot reads). This memoizes METADATA of read-only
    * inputs, never results; the data path is scanned by every query
    * exactly as before.
    */
  private val inputSchemas =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  private def read(s: SparkSession, dir: String, name: String): DataFrame = {
    val p = s"$dir/$name.parquet"
    val sch = inputSchemas.computeIfAbsent(p, _ => s.read.parquet(p).schema)
    s.read.schema(sch).parquet(p)
  }

  private def cents(c: org.apache.spark.sql.Column) = round(c * 100).cast("long")

  /** Gate-internal set-equality cross-check in ONE job: ±1 tags unioned,
    * grouped on every column (SQL grouping equality — the same float
    * normalization `except` uses), any nonzero tag sum = a divergent row.
    * The `a.except(b).isEmpty && b.except(a).isEmpty` form it replaces ran
    * TWO jobs and evaluated each side's plan twice — for lifecycle gates
    * whose sides are index searches, that re-ran every search.
    *
    * Precondition: each side has unique rows (top-k by unique id /
    * aggregates by unique key). The check compares multisets, which equal
    * sets only then — a side with legitimate duplicate rows fails here
    * although `except` both ways would pass. On failure only, a second job
    * reports how many divergent rows are on one side only (content) and
    * how many are on both sides with different counts (multiplicity).
    */
  private def requireSameRows(a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame, msg: String): Unit = {
    val cols = a.columns.map(col).toSeq
    val diff = a.withColumn("__side", lit(1L))
      .unionByName(b.withColumn("__side", lit(-1L)))
      .groupBy(cols: _*)
      .agg(sum(col("__side")).as("__d"), count(lit(1)).as("__n"))
      .filter(col("__d") =!= 0L)
    require(diff.isEmpty, {
      val oneSide = abs(col("__d")) === col("__n")
      val split = diff.agg(count(when(oneSide, 1)), count(when(!oneSide, 1))).head()
      s"$msg (divergent rows: ${split.getLong(0)} on one side only (content), " +
        s"${split.getLong(1)} on both sides with different counts (multiplicity))"
    })
  }

  // Escapes for the replay payload builders: the parsers unescape, so the
  // round-trip stays exact and the gates stay corpus-independent (the
  // pinned fixtures contain none of these characters, but a gate must not
  // break if the test data ever does).
  private def jsonEsc(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  private def xmlEsc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
  // Text normalization shared (semantically) with the replay-gate oracles:
  // XML 1.0 cannot carry most control chars at all, the DOM parser
  // normalizes line endings, and childText trims ends — so the payload
  // builders and the DuckDB oracles both collapse [\x00-\x20] runs to one
  // space and trim ends BEFORE splitting, making every parser-side
  // normalization a no-op. Oracle mirror:
  // trim(regexp_replace(text, '[\x00-\x20]+', ' ', 'g')).
  private def wsNorm(s: String): String =
    s.replaceAll("[\\x00-\\x20]+", " ").trim

  /** The usage_ledger gate's instruction, and the per-request prompt
    * scaffold it implies — computed from the REAL formatter on an empty doc
    * (prompt chars per row = this constant + the serialized doc's length,
    * since the doc appears exactly once in the user message) and baked into
    * the oracle SQL, so a template drift breaks the hash instead of
    * silently re-baselining.
    */
  private val usageLedgerInstr = "echo the {text}"
  private lazy val usagePromptConst: Int =
    graft.llm.Prompts.mapFormatter("",
      graft.core.NLExpr.parse(usageLedgerInstr).instruction).map(_.content.length).sum

  /** A directory the FILE STREAM source accepts for `table`: the table's
    * own path when it already is a directory, else a temp dir holding a
    * symlink (fallback: copy) to the single parquet file.
    */
  private def streamDir(dir: String, table: String): String = {
    val src = java.nio.file.Paths.get(s"$dir/$table.parquet")
    if (java.nio.file.Files.isDirectory(src)) src.toString
    else {
      val d = java.nio.file.Files.createTempDirectory(s"graft_stream_$table")
      val link = d.resolve(s"$table.parquet")
      try java.nio.file.Files.createSymbolicLink(link, src)
      catch { case _: Exception => java.nio.file.Files.copy(src, link) }
      d.toString
    }
  }

  /** The DECOMPOSED unicode tail of the `text_normalize` gate — combining
    * marks spelled as explicit escapes (e+U+0301, u+U+0308, n+U+0303 ×2,
    * plus the standalone Ø neither engine touches) so the construction is
    * byte-identical in the Spark adapter and the DuckDB oracle regardless
    * of source-file encoding.
    */
  private val decomposedTail =
    " cafe\u0301 u\u0308ber n\u0303on\u0303o \u00d8rsted"

  /** Run `body` with `spark.sql.shuffle.partitions` lowered to `n`,
    * restoring the session value after. Streaming STATE STORE count is
    * fixed at query start from this conf (a stream-stream join keeps 4
    * stores per partition), and each store pays per-batch checkpoint file
    * IO — so partitions must be sized to the stream's volume exactly like
    * a batch shuffle: the gate corpora are a few 100k rows, where 32
    * partitions is 128 store commits per batch of pure overhead. At
    * 100 TB the same knob goes UP, not down.
    */
  private def withShufflePartitions[T](s: SparkSession, n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val saved = s.conf.get(key)
    s.conf.set(key, n.toString)
    try body finally s.conf.set(key, saved)
  }

  /** The from-scratch DuckDB refit of the order-5 hashed-key JM LM
    * (ppl_5gram / ccnet_ppl_buckets_5 oracles share it): unigram model
    * with minCount = 2 unk folding, per-position BOS-padded 5-token
    * windows, one count table + one context-total table per order
    * 2..5 keyed by the gram STRINGS (the engine's 64-bit hash is
    * internal — the counts are identical absent a collision, ≈ 10⁻⁷ at
    * gate scale), then the per-position nested interpolation
    * 0.3·pml₅ + (1−0.3)·(0.4·pml₄ + (1−0.4)·(0.5·pml₃ +
    * (1−0.5)·(0.7·pml₂ + (1−0.7)·p_uni))) — the kernel's exact dyadic
    * tree, innermost first — folded left-to-right via
    * list_reduce(list(v ORDER BY i)). Emits CTEs up to
    * `sc(doc_id[, lang], n, ll)`; callers append their tail.
    */
  private def fiveGramRefitSqlPrefix(withLang: Boolean): String = {
    val lang = if (withLang) ", lang" else ""
    val glang = if (withLang) ", g.lang" else ""
    s"""WITH t AS (
       |  SELECT doc_id$lang, CASE WHEN len(trim(text)) = 0 THEN []
       |    ELSE string_split(lower(trim(text)), ' ') END AS w
       |  FROM documents),
       |uc AS (
       |  SELECT word, CAST(count(*) AS DOUBLE) AS c
       |  FROM (SELECT unnest(w) AS word FROM t) GROUP BY word),
       |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM uc),
       |kept AS (SELECT word, c FROM uc WHERE c >= 2),
       |vv AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM kept),
       |unkc AS (SELECT (SELECT sum(c) FROM uc)
       |    - coalesce((SELECT sum(c) FROM kept), 0) AS cu),
       |up AS (SELECT map(list(word ORDER BY word),
       |      list((c + 1) / (n + (v + 1)) ORDER BY word)) AS mp,
       |    min((cu + 1) / (n + (v + 1))) AS unkp
       |  FROM kept, tot, vv, unkc),
       |tm AS (
       |  SELECT doc_id$lang, list_transform(w, x ->
       |    CASE WHEN mp[x][1] IS NOT NULL THEN x ELSE chr(1) END) AS mt
       |  FROM t, up),
       |ps AS (SELECT doc_id$lang, mt,
       |    unnest(range(1, len(mt) + 1)) AS i FROM tm),
       |g AS (SELECT doc_id$lang, i,
       |    CASE WHEN i <= 4 THEN chr(2) ELSE mt[i - 4] END AS w4,
       |    CASE WHEN i <= 3 THEN chr(2) ELSE mt[i - 3] END AS w3,
       |    CASE WHEN i <= 2 THEN chr(2) ELSE mt[i - 2] END AS w2,
       |    CASE WHEN i = 1 THEN chr(2) ELSE mt[i - 1] END AS w1,
       |    mt[i] AS cur FROM ps),
       |c2 AS (SELECT w1, cur, CAST(count(*) AS DOUBLE) AS c
       |  FROM g GROUP BY 1, 2),
       |x2 AS (SELECT w1, CAST(count(*) AS DOUBLE) AS ct FROM g GROUP BY 1),
       |c3 AS (SELECT w2, w1, cur, CAST(count(*) AS DOUBLE) AS c
       |  FROM g GROUP BY 1, 2, 3),
       |x3 AS (SELECT w2, w1, CAST(count(*) AS DOUBLE) AS ct
       |  FROM g GROUP BY 1, 2),
       |c4 AS (SELECT w3, w2, w1, cur, CAST(count(*) AS DOUBLE) AS c
       |  FROM g GROUP BY 1, 2, 3, 4),
       |x4 AS (SELECT w3, w2, w1, CAST(count(*) AS DOUBLE) AS ct
       |  FROM g GROUP BY 1, 2, 3),
       |c5 AS (SELECT w4, w3, w2, w1, cur, CAST(count(*) AS DOUBLE) AS c
       |  FROM g GROUP BY 1, 2, 3, 4, 5),
       |x5 AS (SELECT w4, w3, w2, w1, CAST(count(*) AS DOUBLE) AS ct
       |  FROM g GROUP BY 1, 2, 3, 4),
       |lp AS (SELECT g.doc_id$glang, g.i,
       |    ln(0.3 * coalesce(c5.c / x5.ct, 0.0)
       |     + (1 - 0.3) * (0.4 * coalesce(c4.c / x4.ct, 0.0)
       |       + (1 - 0.4) * (0.5 * coalesce(c3.c / x3.ct, 0.0)
       |         + (1 - 0.5) * (0.7 * coalesce(c2.c / x2.ct, 0.0)
       |           + (1 - 0.7) * coalesce(mp[g.cur][1], unkp))))) AS v
       |  FROM g CROSS JOIN up
       |  LEFT JOIN c2 ON g.w1 = c2.w1 AND g.cur = c2.cur
       |  LEFT JOIN x2 ON g.w1 = x2.w1
       |  LEFT JOIN c3 ON g.w2 = c3.w2 AND g.w1 = c3.w1 AND g.cur = c3.cur
       |  LEFT JOIN x3 ON g.w2 = x3.w2 AND g.w1 = x3.w1
       |  LEFT JOIN c4 ON g.w3 = c4.w3 AND g.w2 = c4.w2 AND g.w1 = c4.w1
       |    AND g.cur = c4.cur
       |  LEFT JOIN x4 ON g.w3 = x4.w3 AND g.w2 = x4.w2 AND g.w1 = x4.w1
       |  LEFT JOIN c5 ON g.w4 = c5.w4 AND g.w3 = c5.w3 AND g.w2 = c5.w2
       |    AND g.w1 = c5.w1 AND g.cur = c5.cur
       |  LEFT JOIN x5 ON g.w4 = x5.w4 AND g.w3 = x5.w3 AND g.w2 = x5.w2
       |    AND g.w1 = x5.w1),
       |llv AS (SELECT doc_id$lang,
       |    list_reduce(list(v ORDER BY i), (a, b) -> a + b) AS ll,
       |    count(*) AS n
       |  FROM lp GROUP BY doc_id$lang),
       |sc AS (SELECT t.doc_id${if (withLang) ", t.lang" else ""},
       |    coalesce(llv.n, 0) AS n, coalesce(llv.ll, 0.0) AS ll
       |  FROM t LEFT JOIN llv ON t.doc_id = llv.doc_id)
       |""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---------------- classical relational surface ------------------------
    "q1_agg" -> ((s, dir) => {
      read(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(cents(col("l_quantity"))).as("sum_qty_c"),
          sum(cents(col("l_extendedprice"))).as("sum_base_c"),
          sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("sum_disc_c"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    "q2_join_agg" -> ((s, dir) => {
      val li = read(s, dir, "lineitem")
      val o = read(s, dir, "orders")
      val c = read(s, dir, "customer")
      val n = read(s, dir, "nation")
      val r = read(s, dir, "region")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
          sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue_c"),
          countDistinct(col("o_orderkey")).as("n_orders"))
        .orderBy("r_name", "n_name")
    }),

    "q3_topn" -> ((s, dir) => {
      val li = read(s, dir, "lineitem")
      val o = read(s, dir, "orders")
      val rev = li.groupBy("l_orderkey")
        .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue_c"))
      rev.join(o, rev("l_orderkey") === o("o_orderkey"))
        .select(col("o_orderkey"), col("o_orderpriority"), col("revenue_c"))
        .orderBy(col("revenue_c").desc, col("o_orderkey"))
        .limit(10)
    }),

    "q4_window" -> ((s, dir) => {
      val o = read(s, dir, "orders")
      val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
      val ws = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      o.withColumn("rk", row_number().over(w).cast("long"))
        .withColumn("run_c", sum(cents(col("o_totalprice"))).over(ws))
        .filter(col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "rk", "run_c")
        .orderBy("o_custkey", "rk")
    }),

    "q5_exists" -> ((s, dir) => {
      val o = read(s, dir, "orders")
      val li = read(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      val c = read(s, dir, "customer")
      val oWith = o.join(li.select("l_orderkey").distinct(),
        o("o_orderkey") === col("l_orderkey"), "left_semi")
      c.join(oWith.select("o_custkey").distinct(), c("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    }),

    "q6_filter" -> ((s, dir) => {
      read(s, dir, "lineitem")
        .filter(col("l_discount") >= 0.05 && col("l_discount") <= 0.07 && col("l_quantity") < 24)
        .agg(sum(cents(col("l_extendedprice") * col("l_discount"))).as("revenue_c"),
          count(lit(1)).as("n"))
    }),

    "q7_setops" -> ((s, dir) => {
      val p = read(s, dir, "part")
      val big = p.filter(col("p_size") > 40).select("p_brand").distinct()
      val pricey = p.filter(col("p_retailprice") > 1800).select("p_brand").distinct()
      val cheapSmall = p.filter(col("p_size") < 3 && col("p_retailprice") < 500)
        .select("p_brand").distinct()
      big.union(pricey).distinct().except(cheapSmall).orderBy("p_brand")
    }),

    "q8_events_window" -> ((s, dir) => {
      // events.ts is a TIMESTAMP_NTZ (micros) — truncate and compare hours
      // as epoch micros under a pinned UTC session so the hash matches
      // DuckDB's naive-as-UTC epoch_us regardless of the caller's tz.
      s.conf.set("spark.sql.session.timeZone", "UTC")
      read(s, dir, "events")
        .groupBy(unix_micros(date_trunc("hour", col("ts"))).as("hour_us"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("value_c"))
        .orderBy("hour_us", "event_type")
    }),

    "q9_events_json" -> ((s, dir) => {
      read(s, dir, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy("event_type")
        .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n"))
        .orderBy("event_type")
    }),

    // ---------------- semantic operators (deterministic FakeLM) -----------
    "sem_filter_kw" -> ((s, dir) => {
      Sem.withLM(FakeLM(FakeBehavior.KeywordFilter("spark"))) {
        read(s, dir, "documents")
          .semFilter("the {text} mentions a certain data engine")
          .orderBy("doc_id")
      }
    }),

    "sem_map_first3" -> ((s, dir) => {
      Sem.withLM(FakeLM(FakeBehavior.FirstWords("Text", 3))) {
        read(s, dir, "documents")
          .semMap("give the first three words of {text}")
          .select(col("doc_id"), col("_map"))
          .orderBy("doc_id")
      }
    }),

    "long_context_chunk" -> ((s, dir) => {
      // The CHUNK long-context strategy end-to-end on the wire (reference
      // long_context_strategy.py:85-233): docs over a deliberately tiny
      // 120-char budget split into one row per chunk (pure substring
      // arithmetic), EVERY chunk rides its own LM request, and
      // restoreChunks reassembles the answers in chunk order. The fake
      // reverses each chunk character-exactly, so the restored value is
      // the CHUNKWISE reversal — an implementation that quietly sent the
      // whole doc once would produce reverse(doc) and hash-mismatch, and
      // any chunk-boundary drift breaks the DuckDB mirror (the same
      // ceil(len/120) substring arithmetic via generate_series).
      Sem.withLM(FakeLM(FakeBehavior.ReverseField("Text"))) {
        val chunked = graft.core.LongContext.chunkColumn(
          read(s, dir, "documents").select("doc_id", "text"), "text", 120)
        graft.core.LongContext.restoreChunks(
            chunked.semMap("reverse the {text}")
              .drop("text").withColumnRenamed("_map", "rev"),
            "rev", Seq("doc_id", "__chunk_of"))
          .select(col("doc_id"),
            col("__chunk_of").cast("long").as("n_chunks"), col("rev"))
          .orderBy("doc_id")
      }
    }),

    "sem_extract_stats" -> ((s, dir) => {
      Sem.withLM(FakeLM(FakeBehavior.ExtractStats("Text"))) {
        read(s, dir, "documents")
          .semExtract(Seq("text"), Seq("first_word" -> None, "n_words" -> Some("number of words")))
          .select(col("doc_id"), col("first_word"), col("n_words"))
          .orderBy("doc_id")
      }
    }),

    "sem_join_kw" -> ((s, dir) => {
      Sem.withLM(FakeLM(FakeBehavior.FieldWordJoin("Text", "Word"))) {
        val docs = read(s, dir, "documents").filter(col("doc_id") < 40).select("doc_id", "text")
        val kws = s.createDataFrame(
          Seq(Tuple1("spark"), Tuple1("join"), Tuple1("filter"), Tuple1("window")))
          .toDF("word")
        docs.semJoin(kws, "the {text} mentions the word {word}")
          .orderBy("doc_id", "word")
      }
    }),

    "sem_agg_concat" -> ((s, dir) => {
      // Small fake context window forces a genuinely hierarchical fold
      // (multiple rounds); the concat summarizer is associative so the
      // result equals the flat ordered string_agg the oracle computes.
      Sem.withLM(FakeLM(FakeBehavior.ConcatDocs("\n"), maxCtxLen = 4000)) {
        read(s, dir, "documents")
          .semAgg("summarize the {text}", groupBy = Seq("lang"), orderBy = Seq(col("doc_id")))
          .orderBy("lang")
      }
    }),

    "sem_topk_quick" -> ((s, dir) => {
      Sem.withLM(FakeLM(FakeBehavior.PreferLonger())) {
        read(s, dir, "documents")
          .semTopK("which doc is more substantial given {text} with {n_chars} chars (id {doc_id})",
            k = 10, method = "quick")
          .select(col("doc_id"), col("n_chars"), col("rank").cast("long").as("rank"))
          .orderBy("rank")
      }
    }),

    "sem_topk_heap" -> ((s, dir) => {
      // Distributed selection: partition-local quickselect + driver merge.
      // PreferLonger is a strict total order (n_chars desc, doc_id asc), so
      // every partition's local top-k contains its global-top-k members and
      // the merged result equals the exact ORDER BY — oracle-checkable.
      Sem.withLM(FakeLM(FakeBehavior.PreferLonger())) {
        read(s, dir, "documents")
          .semTopK("which doc is more substantial given {text} with {n_chars} chars (id {doc_id})",
            k = 7, method = "heap")
          .select(col("doc_id"), col("n_chars"), col("rank").cast("long").as("rank"))
          .orderBy("rank")
      }
    }),

    "sem_topk_naive" -> ((s, dir) => {
      Sem.withLM(FakeLM(FakeBehavior.PreferLonger())) {
        read(s, dir, "documents").filter(col("doc_id") < 60)
          .semTopK("which doc is more substantial given {text} with {n_chars} chars (id {doc_id})",
            k = 5, method = "naive")
          .select(col("doc_id"), col("n_chars"), col("rank").cast("long").as("rank"))
          .orderBy("rank")
      }
    }),

    "llm_judge" -> ((s, dir) => {
      // n-trial judging: one sem_map per trial with the judge system prompt
      // (reference llm_as_judge.py:81-105); the fake answers from the doc, so
      // both trial columns are SQL-expressible.
      Sem.withLM(FakeLM(FakeBehavior.FirstWords("Text", 2))) {
        read(s, dir, "documents")
          .llmAsJudge("rate the quality of {text}", nTrials = 2)
          .select(col("doc_id"), col("_judge0"), col("_judge1"))
          .orderBy("doc_id")
      }
    }),

    "pairwise_judge" -> ((s, dir) => {
      // A/B compare of two columns through the filter core with ("A","B")
      // output tokens (reference pairwise_judge.py:204-224).
      Sem.withLM(FakeLM(FakeBehavior.PreferLongerField())) {
        read(s, dir, "documents").select("doc_id", "text", "source")
          .pairwiseJudge("text", "source",
            "which of {text} and {source} is more substantial")
          .select(col("doc_id"), col("_judge0"))
          .orderBy("doc_id")
      }
    }),

    "eval_retrieval_metrics" -> ((s, dir) => {
      // IR eval metrics (recall@k, MRR@k, nDCG@k) per query over a
      // deterministic arithmetic fixture: results docs at (q*7 + 13r) mod
      // 100, judgments at (q*7 + 26j) mod 100 with grades varying by
      // (q + j) parity, so per-query hit patterns and ideal orderings are
      // fully reconstructable in SQL. One (qid, doc) equi-join + grouped
      // aggs — nothing per-query iterative, so a million-query eval is
      // one plan.
      val ids = read(s, dir, "documents").select(col("doc_id"))
        .filter(col("doc_id") < 20)
      val results = ids.select(col("doc_id").as("qid"),
          explode(sequence(lit(1), lit(5))).as("rank"))
        .withColumn("doc_id", (col("qid") * 7 + col("rank") * 13) % 100)
      val qrels = ids.select(col("doc_id").as("qid"),
          explode(sequence(lit(1), lit(3))).as("j"))
        .withColumn("doc_id", (col("qid") * 7 + col("j") * 26) % 100)
        .withColumn("grade", ((col("qid") + col("j")) % 2 + 1).cast("int"))
        .drop("j")
      Evals.retrievalMetrics(results, qrels, k = 5).orderBy("qid")
    }),

    "eval_calibration" -> ((s, dir) => {
      // Reliability diagram over dyadic confidences (k/128 — bin sums of
      // such doubles are EXACT in any order) with a deterministic
      // correctness rule correlated with confidence, so bins show real
      // miscalibration, not noise.
      val e = read(s, dir, "events").filter(col("event_id") < 8000)
      val scored = e.select(
        ((col("event_id") % 128).cast("double") / 128.0).as("conf"),
        ((col("event_id") % 128) + (col("event_id") % 7) * 12 > 70).as("ok"))
      Evals.calibrationReport(scored, "conf", "ok", bins = 10)
        .select(col("bin"), col("n"), col("n_correct"),
          round(col("acc"), 6).as("acc"),
          round(col("avg_conf"), 6).as("avg_conf"),
          round(col("abs_gap"), 6).as("abs_gap"))
        .orderBy("bin")
    }),

    "eval_roc_auc" -> ((s, dir) => {
      // Exact Mann–Whitney AUC with ½-tie credit over the score
      // HISTOGRAM (17 distinct scores — ties everywhere, the form's
      // whole point): integer doubled numerator, single closing
      // division.
      val d = read(s, dir, "documents")
      val scored = d.select((col("n_chars") % 17).as("score"),
        ((col("doc_id") * 7 + col("n_chars")) % 3 === 0).as("label"))
      Evals.rocAuc(scored, "score", "label")
        .select(round(col("auc"), 6).as("auc"),
          col("n_pos"), col("n_neg"), col("n_scores"))
    }),

    "eval_fleiss_kappa" -> ((s, dir) => {
      // Fleiss' kappa over a deterministic 5-rater panel (200 items):
      // all intermediates integer sums, three closing float ops.
      val d = read(s, dir, "documents").filter(col("doc_id") < 200)
      val panel = d
        .select(col("doc_id").as("item"),
          explode(sequence(lit(1), lit(5))).as("rater"))
        .select(col("item"),
          ((col("item") * 7 + col("rater") * 13) % 3).as("label"))
      Evals.fleissKappa(panel, "item", "label")
        .select(round(col("kappa"), 6).as("kappa"),
          round(col("p_bar"), 6).as("p_bar"),
          round(col("p_e"), 6).as("p_e"),
          col("n_items"), col("n_raters"))
    }),

    "eval_kendall_tau" -> ((s, dir) => {
      // Exact Kendall τ-b between two deterministic tied-heavy judge
      // scores — concordant/discordant/tie counts as integer sums over
      // the bounded (a, b) histogram self-join (the rocAuc convention);
      // the closing (C−D)/√(..·..) is the only float surface, replayed
      // with the same operand shapes.
      val d = read(s, dir, "documents")
      val a = (col("doc_id") * 7) % 10
      val b = ((col("doc_id") * 7) % 10 + col("doc_id") % 3) % 10
      Evals.kendallTauB(
        d.select(a.as("score_a"), b.as("score_b")), "score_a", "score_b")
    }),

    "eval_bradley_terry" -> ((s, dir) => {
      // Arena-style leaderboard fit: Bradley–Terry via Hunter's MM, 50
      // iterations on a deterministic comparisons table (7 models, winner
      // by hash rule). The oracle replays the ENTIRE fit independently —
      // a recursive CTE carrying the weight vector as a list, left-fold
      // sums in the same ascending-model order — so a wrong update rule,
      // fold order, or iteration count hash-mismatches.
      val e = read(s, dir, "events").filter(col("event_id") < 8000)
      val ai = col("event_id") % 7
      val bi = (col("event_id") % 7 + 1 + col("event_id") % 6) % 7
      val cmp = e.select(
        concat(lit("m_"), ai).as("ma"),
        concat(lit("m_"), bi).as("mb"),
        when(col("event_id") % 5 < 2, "a").otherwise("b").as("winner"))
      Evals.bradleyTerry(cmp, "ma", "mb", "winner", iters = 50)
        .select(col("model"), col("wins"), col("games"),
          round(col("score"), 6).as("score"), col("rank"))
        .orderBy("model")
    }),

    "eval_pass_at_k" -> ((s, dir) => {
      // The HumanEval pass@k estimator (unbiased, Chen et al. 2021) over
      // a deterministic (problem, correct) samples table derived from
      // events: one grouped aggregate, the C(n−c,k)/C(n,k) ratio as a
      // left-fold product whose IEEE sequence the oracle's list_reduce
      // replays factor for factor.
      val e = read(s, dir, "events").filter(col("event_id") < 5000)
      val samples = e.select((col("event_id") % 40).as("problem"),
        (col("event_id") % 3 === 0).as("ok"))
      Evals.passAtK(samples, "problem", "ok", Seq(1, 5, 10))
        .select(col("problem"), col("n"), col("c"),
          round(col("pass_at_1"), 6).as("pass_at_1"),
          round(col("pass_at_5"), 6).as("pass_at_5"),
          round(col("pass_at_10"), 6).as("pass_at_10"))
        .orderBy("problem")
    }),

    "eval_self_consistency" -> ((s, dir) => {
      // Self-consistency majority vote (Wang et al. 2022): per problem
      // the modal answer with (count desc, answer asc) total-order
      // tie-break plus the agreement fraction — two grouped aggregates,
      // never a per-problem window over raw samples.
      val e = read(s, dir, "events").filter(col("event_id") < 5000)
      val samples = e.select((col("event_id") % 40).as("problem"),
        col("event_type").as("answer"))
      Evals.selfConsistency(samples, "problem", "answer")
        .select(col("problem"), col("majority_answer"),
          col("majority_count"), col("n_samples"),
          round(col("agreement"), 6).as("agreement"))
        .orderBy("problem")
    }),

    "eval_text_f1" -> ((s, dir) => {
      // SQuAD-style generation eval: normalized exact-match + token-
      // multiset F1 between each doc's 30-word prefix and its successor's
      // (every 7th doc pairs with ITSELF so the em = true / f1 = 1 path is
      // live). The metric itself is a pure per-row map — the pairing join
      // is gate scaffolding; a real eval table arrives with (pred, ref)
      // columns already side by side. The oracle replays the SQuAD
      // normalization chain and the multiset overlap via unnest + least().
      val d = read(s, dir, "documents").select(col("doc_id"), col("text"))
      def first30(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        array_join(slice(split(trim(c), "\\s+"), 1, 30), " ")
      val pairs = d.as("a").join(d.as("b"),
          col("a.doc_id") + when(col("a.doc_id") % 7 === 0, 0).otherwise(1)
            === col("b.doc_id"))
        .select(col("a.doc_id").as("doc_id"),
          first30(col("a.text")).as("pred"), first30(col("b.text")).as("ref"))
      Evals.textOverlapMetrics(pairs, "pred", "ref")
        .select(col("doc_id"), col("n_same"), col("em"),
          round(col("f1"), 4).as("f1"))
        .orderBy("doc_id")
    }),

    "rag_self_retrieval" -> ((s, dir) => {
      // The RAG loop closed end to end: for 3 sampled docs the query is
      // the doc's first 8 tokens and the only relevant answer is the doc
      // itself — save the BM25 index, batch-search all 3 queries in one
      // job, rank, and score with retrievalMetrics. The oracle rebuilds
      // queries, generic postings, BM25 scores, ranks and the metrics in
      // SQL — the whole pipeline is hash-verified, not just the search.
      val path = java.nio.file.Files.createTempDirectory("graft_verify_rag").toString + "/idx"
      val d = read(s, dir, "documents")
      LexIndex.save(d, "text", "doc_id", path, nBuckets = 16)
      val qdocs = d.filter(col("doc_id").isin(3L, 57L, 101L))
        .select(col("doc_id"),
          array_join(slice(split(lower(trim(col("text"))), "\\s+"), 1, 8), " "))
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      val res = LexIndex.searchBatch(s, path, qdocs, k = 10)
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
            .orderBy(col("bm25").desc, col("id"))))
        .select(col("qid"), col("id").as("doc_id"), col("rank"))
      import s.implicits._
      val qrels = qdocs.map { case (q, _) => (q, q, 1) }
        .toDF("qid", "doc_id", "grade")
      Evals.retrievalMetrics(res, qrels, k = 10).orderBy("qid")
    }),

    "sem_topk_quicksem" -> ((s, dir) => {
      // quick-sem: embedding-presorted pivot selection (reference
      // sem_topk.py:782-788). The comparator is a total order on the text
      // column alone, so pivot choice cannot change the result — exact and
      // ORDER-BY-checkable.
      Sem.withLM(FakeLM(FakeBehavior.PreferLongerText())) {
        read(s, dir, "documents")
          .semTopK("which {text} is more substantial", k = 8, method = "quick-sem")
          .select(col("doc_id"), col("rank").cast("long").as("rank"))
          .orderBy("rank")
      }
    }),

    "sem_topk_cascade" -> ((s, dir) => {
      // Comparison cascade (reference sem_topk.py:176-273): every
      // quickselect comparison goes to the HELPER LM first; a positive-
      // token logprob at or above the pinned 0.9 threshold accepts the
      // helper verdict, below it the comparison escalates to the oracle
      // LM. PreferLongerProb answers exactly like the PreferLonger oracle
      // with confidence 0.97 at wide n_chars margins and ~0.5 inside
      // them, so the cascade routes precisely the close calls — the final
      // top-k is the same strict (n_chars DESC, doc_id) order the plain
      // gates pin, keeping the DuckDB oracle exact while the logprob
      // routing runs on the real wire. A router that stopped escalating
      // sub-threshold calls would take coin-flip verdicts on the close
      // pairs and hash-mismatch here; the call-savings property is pinned
      // by SemAggTopKSpec.
      Sem.withSettings(Sem.settings.copy(
        lm = FakeLM(FakeBehavior.PreferLonger()),
        helperLm = Some(FakeLM(FakeBehavior.PreferLongerProb())))) {
        read(s, dir, "documents")
          .semTopK("which doc is more substantial given {text} with {n_chars} chars (id {doc_id})",
            k = 8, cascadeThreshold = Some(0.9))
          .select(col("doc_id"), col("n_chars"), col("rank").cast("long").as("rank"))
          .orderBy("rank")
      }
    }),

    "sem_filter_cascade" -> ((s, dir) => {
      // Helper-model cascade. Thresholds are pinned at (0.9, 0.1): the fake
      // helper's confidence bands are separated, so the accepted band is
      // pure and the uncertain middle goes to the exact oracle — the result
      // equals the exact filter (same oracle SQL as sem_filter_kw). The
      // learned-threshold path (statistical, not exact) is covered by
      // CascadeSpec.
      Sem.withLM(FakeLM(FakeBehavior.KeywordFilter("spark"))) {
        read(s, dir, "documents")
          .semFilterCascade("the {text} mentions a certain data engine",
            helperLm = FakeLM(FakeBehavior.KeywordFilterProb("spark")),
            args = graft.cascade.CascadeArgs(
              posThreshold = Some(0.9), negThreshold = Some(0.1)))
          .orderBy("doc_id")
      }
    }),

    "sem_join_cascade" -> ((s, dir) => {
      // Embedding-proxy join cascade through the full plumbing (sim-join
      // candidate generation → threshold routing → oracle pass). Thresholds
      // are pinned so no pair is proxy-resolved: every candidate reaches the
      // exact oracle and the result equals the plain semantic join — which
      // makes the whole path DuckDB-checkable. Learned-threshold routing
      // (statistical, not exact) is covered by CascadeSpec.
      Sem.withLM(FakeLM(FakeBehavior.FieldWordJoin("Text", "Word"))) {
        val docs = read(s, dir, "documents").filter(col("doc_id") < 40).select("doc_id", "text")
        val kws = s.createDataFrame(
          Seq(Tuple1("spark"), Tuple1("join"), Tuple1("filter"), Tuple1("window")))
          .toDF("word")
        docs.semJoinCascade(kws, "the {text} mentions the word {word}", "text", "word",
            args = graft.cascade.CascadeArgs(
              posThreshold = Some(1.01), negThreshold = Some(-0.01)))
          .select("doc_id", "text", "word")
          .orderBy("doc_id", "word")
      }
    }),

    // ---------------- embedding / similarity ops --------------------------
    // These route through the REAL operator APIs (semSearchVec / semSimJoin /
    // neardupPairs / semDedup) over the stored vectors: renaming `embedding`
    // to the operator's index-column convention attaches it as a precomputed
    // index (semIndex is then a no-op), exactly like the reference's
    // load_sem_index path.
    "sem_search_cos" -> ((s, dir) => {
      val e = read(s, dir, "embeddings")
      val qv = e.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0)
      val withVec = e.withColumnRenamed("embedding", EmbedOps.vecCol("emb"))
      EmbedOps.semSearchVec(withVec, "emb", qv, 10,
          scoreCol = "raw", tieBreak = Seq(col("vec_id")))
        .select(col("vec_id"), round(col("raw"), 3).as("score"))
    }),

    "sem_sim_join_cos" -> ((s, dir) => {
      val e = read(s, dir, "embeddings")
      val l = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("lid"), col("embedding").as(EmbedOps.vecCol("lemb")))
      val r = e.select(col("vec_id").as("rid"), col("embedding").as(EmbedOps.vecCol("remb")))
      EmbedOps.semSimJoin(l, r, "lemb", "remb", k = 3,
          scoreCol = "raw", tieBreak = Seq(col("rid")))
        .orderBy(col("lid"), col("raw").desc, col("rid"))
        .select(col("lid"), col("rid"), round(col("raw"), 3).as("score"))
    }),

    "neardup_pairs_cos" -> ((s, dir) => {
      val e = read(s, dir, "embeddings")
        .withColumnRenamed("embedding", EmbedOps.vecCol("emb"))
      // Route PINNED exact: the oracle is all-pairs cosine, so the gate
      // must compare the exact path regardless of how big the gate corpus
      // grows relative to the auto-routing threshold (the approximate
      // cells route would fail for a data-geometry reason, not a bug).
      EmbedOps.neardupPairs(e, "emb", "vec_id", threshold = 0.45,
          useLsh = Some(false))
        .orderBy("id1", "id2")
        .select(col("id1"), col("id2"), round(col("score"), 3).as("score"))
    }),

    "neardup_pairs_cells" -> ((s, dir) => {
      // The CELL-PARTITIONED route (the scale path), pinned via
      // lshRowThreshold = 0 and cellProbes = 2. On the gate corpus the
      // route is provably exhaustive — nDistinct/targetCellSize rounds to
      // k = 2 cells and cellProbes = 2 assigns every vector to BOTH, so
      // the within-cell join enumerates every pair and the exact all-pairs
      // oracle still applies; at bench/scale corpora the same query
      // exercises the approximate geometry the 100 TB path uses.
      val e = read(s, dir, "embeddings")
        .withColumnRenamed("embedding", EmbedOps.vecCol("emb"))
      EmbedOps.neardupPairs(e, "emb", "vec_id", threshold = 0.45,
          lshRowThreshold = 0L, cellProbes = 2)
        .orderBy("id1", "id2")
        .select(col("id1"), col("id2"), round(col("score"), 3).as("score"))
    }),

    "neardup_pairs_auto" -> ((s, dir) => {
      // The RECALL-AWARE AUTO route (cellProbes = 0, the default): the
      // route spends the nested-probe recall estimator and picks the
      // cheapest tier meeting the target. targetRecall = 1.0 with a
      // sample covering the whole gate corpus makes the measured recall
      // EXACT, so the chosen tier is provably exhaustive and the
      // all-pairs oracle applies — the gate pins the DECISION MACHINERY
      // end-to-end, not a hand-picked geometry; at scale the same call
      // trades tiers against the measured 0.95 default.
      val e = read(s, dir, "embeddings")
        .withColumnRenamed("embedding", EmbedOps.vecCol("emb"))
      EmbedOps.neardupPairs(e, "emb", "vec_id", threshold = 0.45,
          lshRowThreshold = 0L, targetRecall = 1.0)
        .orderBy("id1", "id2")
        .select(col("id1"), col("id2"), round(col("score"), 3).as("score"))
    }),

    "sem_dedup_drop" -> ((s, dir) => {
      // Full semDedup: pair kernel → connected components → keep min-id
      // representative. Oracle = recursive-CTE reachability in DuckDB.
      val e = read(s, dir, "embeddings")
        .withColumnRenamed("embedding", EmbedOps.vecCol("emb"))
      // Exact path pinned (threshold = MaxValue): the oracle computes
      // all-pairs reachability, so the compared route must stay exact at
      // any gate-corpus size.
      EmbedOps.semDedup(e, "emb", "vec_id", threshold = 0.45,
          lshRowThreshold = Long.MaxValue)
        .select(col("vec_id")).orderBy("vec_id")
    }),

    "sem_dedup_cells" -> ((s, dir) => {
      // semDedup through the cell-partitioned SCALE path (lshRowThreshold
      // = 0 routes every input to it). Exhaustive on the gate corpus —
      // k rounds to 2 cells, cellProbes = 2 assigns both — so the same
      // reachability oracle applies; at scale the identical query runs
      // the approximate geometry (load-tested ×30/×100/×300).
      val e = read(s, dir, "embeddings")
        .withColumnRenamed("embedding", EmbedOps.vecCol("emb"))
      EmbedOps.semDedup(e, "emb", "vec_id", threshold = 0.45,
          lshRowThreshold = 0L, cellProbes = 2)
        .select(col("vec_id")).orderBy("vec_id")
    }),

    "sem_index_roundtrip" -> ((s, dir) => {
      // semIndexSave → parquet (id, vector) → semLoadIndex re-attach; the
      // round-tripped first component must equal the source table's.
      // Unique per run: a fixed shared path races concurrent gate runs on
      // the same machine (overwrite-while-read).
      val path = java.nio.file.Files.createTempDirectory("graft_verify_index").toString + "/idx"
      val e = read(s, dir, "embeddings")
      val withVec = e.withColumnRenamed("embedding", EmbedOps.vecCol("emb"))
      EmbedOps.semIndexSave(withVec, "emb", "vec_id", path)
      val loaded = EmbedOps.semLoadIndex(e.select("vec_id"), "emb", "vec_id", path)
      loaded.select(col("vec_id"),
          // `+ 0.0` normalizes IEEE signed zero (-0.0 vs 0.0 across engines)
          (round(element_at(col(EmbedOps.vecCol("emb")), 1).cast("double"), 3) + lit(0.0)).as("v1"))
        .orderBy("vec_id")
    }),

    "sem_partition" -> ((s, dir) => {
      // sem_partition_by writes the _lotus_partition_id grouping column.
      // Runs on the stored embedding column; the fit is deterministic
      // driver-side Lloyd's on the SORTED sample (a pure function of the
      // vector multiset), so the fitted centroids are pinned as literals in
      // the oracle and the corpus-wide ASSIGNMENT (nearest-centroid argmin)
      // is hash-verified in SQL.
      val e = read(s, dir, "embeddings")
        .withColumnRenamed("embedding", EmbedOps.vecCol("emb"))
      EmbedOps.semPartitionBy(e, "emb", nPartitions = 5)
        .select(col("vec_id"), col("_lotus_partition_id").cast("long").as("_lotus_partition_id"))
        .orderBy("vec_id")
    }),

    "sem_sim_join_lsh" -> ((s, dir) => {
      // Approximate k-NN join via random-hyperplane LSH bucketing under the
      // PRODUCTION banding (16 bits × 4 bands) — approximate by design
      // (recall < 1), yet fully hash-verified: the seeded hyperplanes are a
      // pure function of (dim, nBits, seed), so the oracle reproduces the
      // exact banding → candidate join → cosine verify → per-left rank in
      // DuckDB SQL with the planes as literals (see oracleSql).
      val e = read(s, dir, "embeddings")
      val l = e.filter(col("vec_id") < 50)
        .select(col("vec_id").as("lid"), col("embedding").as(EmbedOps.vecCol("lemb")))
      val r = e.select(col("vec_id").as("rid"), col("embedding").as(EmbedOps.vecCol("remb")))
      EmbedOps.semSimJoinLSH(l, r, "lemb", "remb", k = 2, nBits = 16, bands = 4,
          scoreCol = "raw", tieBreak = Seq(col("rid")))
        .select(col("lid"), col("rid"), round(col("raw"), 3).as("score"))
        .orderBy("lid", "rid")
    }),

    "sem_sim_join_lsh_exact" -> ((s, dir) => {
      // The FULL LSH plumbing (hyperplane band keys → band-bucket equi-join
      // → pair dedup → exact-cosine verify → per-left rank) under a
      // recall-1 banding config: 16 one-bit bands make a candidate of any
      // pair agreeing on ≥1 of 16 hyperplane signs — for a pair at angle θ
      // the miss probability is (θ/π)^16, and on the gate data the
      // candidate set covers the exact top-3 of every left row at
      // sf0.001/0.01/0.1 (verified exhaustively). The result therefore
      // equals the exact per-left top-k and the whole path is
      // hash-verified. Production banding (recall<1 by design) stays
      // covered by the rows-only sem_sim_join_lsh gate.
      val e = read(s, dir, "embeddings")
      val l = e.filter(col("vec_id") < 50)
        .select(col("vec_id").as("lid"), col("embedding").as(EmbedOps.vecCol("lemb")))
      val r = e.select(col("vec_id").as("rid"), col("embedding").as(EmbedOps.vecCol("remb")))
      EmbedOps.semSimJoinLSH(l, r, "lemb", "remb", k = 3, nBits = 16, bands = 16,
          scoreCol = "raw", tieBreak = Seq(col("rid")))
        .orderBy(col("lid"), col("raw").desc, col("rid"))
        .select(col("lid"), col("rid"), round(col("raw"), 3).as("score"))
    }),

    "sem_search_late" -> ((s, dir) => {
      // ColBERT-style late interaction over STORED token matrices: each
      // "document" is a group of stored vectors (its token-embedding
      // matrix), the query matrix is three stored vectors, and relevance is
      // MaxSim = Σ_q max_d cos(q, d) — plain max-over-dot-products, so the
      // whole scoring + top-k path is hash-verified in DuckDB list SQL.
      // (The text→token-matrix embedder path stays covered by LateVsSpec.)
      val e = read(s, dir, "embeddings")
      val qm = e.filter(col("vec_id") < 3).orderBy("vec_id")
        .select("embedding").collect().map(_.getSeq[Float](0).toArray)
      val docs = e.groupBy((col("vec_id") % 50).as("gid"))
        .agg(transform(
          array_sort(collect_list(struct(col("vec_id"), col("embedding")))),
          t => t.getField("embedding")).as(graft.embed.LateInteraction.mvecCol("x")))
      graft.embed.LateInteraction.searchVec(docs, "x", qm, k = 5,
          scoreCol = "raw", tieBreak = Seq(col("gid")))
        .select(col("gid"), round(col("raw"), 3).as("score"))
        .orderBy(col("score").desc, col("gid"))
    }),

    "ann_ivf_search" -> ((s, dir) => {
      // IVF-Flat ANN through the full index lifecycle: KMeans coarse cells →
      // cell assignment → probe-and-scan. With nProbe = nCells the probe set
      // covers the corpus, so the result equals exact cosine top-k and the
      // whole path (build, assignment, probe filter, scan, top-k) is
      // oracle-checkable; recall at nProbe < nCells is covered by IvfSpec.
      val e = read(s, dir, "embeddings")
      val qv = e.filter(col("vec_id") === 1).select("embedding")
        .head().getSeq[Float](0)
      val withVec = e.withColumnRenamed("embedding", EmbedOps.vecCol("emb"))
      val (indexed, model) = graft.embed.IvfIndex.build(withVec, "emb", nCells = 8)
      val res = graft.embed.IvfIndex.search(indexed, model, "emb", qv, k = 12, nProbe = 8,
          scoreCol = "raw", tieBreak = Seq(col("vec_id")))
        // Re-assert the order on the raw score: the hash compare is
        // order-sensitive and must not depend on search's internal sort
        // surviving the projection.
        .orderBy(col("raw").desc, col("vec_id"))
        .select(col("vec_id"), round(col("raw"), 3).as("score"))
        // Materialize the ≤12-row result, then release the built index —
        // without this the persisted frame outlives the query (every later
        // bench query pays its storage).
        .transform(graft.core.Persist.stage(_))
      indexed.unpersist()
      res
    }),

    "ann_ivf_saved" -> ((s, dir) => {
      // The durable IVF lifecycle: build (SAMPLED coarse fit — the 100 TB
      // path) → save (cell-partitioned parquet) → load → search. With
      // nProbe = nCells the result equals exact cosine top-k regardless of
      // where the sampled fit placed the centroids, so the sample-fit path
      // is oracle-checkable; that the probe filter prunes partitions on the
      // saved layout is pinned by IvfSpec.
      // Unique per run (see sem_index_roundtrip: shared paths race).
      val path = java.nio.file.Files.createTempDirectory("graft_verify_ivf").toString + "/idx"
      val e = read(s, dir, "embeddings")
      val qv = e.filter(col("vec_id") === 2).select("embedding")
        .head().getSeq[Float](0)
      val withVec = e.withColumnRenamed("embedding", EmbedOps.vecCol("emb"))
      val (indexed, model) = graft.embed.IvfIndex.build(withVec, "emb", nCells = 8,
        fitSampleFraction = 0.5)
      graft.embed.IvfIndex.save(indexed, model, "emb", "vec_id", path)
      indexed.unpersist()
      val (loaded, lModel) = graft.embed.IvfIndex.load(s, path)
      graft.embed.IvfIndex.search(loaded, lModel, "emb", qv, k = 12, nProbe = 8,
          scoreCol = "raw", tieBreak = Seq(col("vec_id")))
        .orderBy(col("raw").desc, col("vec_id"))
        .select(col("vec_id"), round(col("raw"), 3).as("score"))
    }),

    "ann_ivf_append" -> ((s, dir) => {
      // Incremental index growth: build + save on even vec_ids, APPEND the
      // odd ones (fixed quantizer, one assignment scan, cell dirs extended
      // in place), then search the grown index. nProbe = nCells makes the
      // probe exhaustive, so the result equals exact cosine top-k over ALL
      // vectors — appended rows hash-verify alongside the originals.
      val path = java.nio.file.Files.createTempDirectory("graft_verify_ivfapp").toString + "/idx"
      val e = read(s, dir, "embeddings")
      val qv = e.filter(col("vec_id") === 3).select("embedding")
        .head().getSeq[Float](0)
      val withVec = e.withColumnRenamed("embedding", EmbedOps.vecCol("emb"))
      val (indexed, model) = graft.embed.IvfIndex.build(
        withVec.filter(col("vec_id") % 2 === 0), "emb", nCells = 8)
      graft.embed.IvfIndex.save(indexed, model, "emb", "vec_id", path)
      indexed.unpersist()
      graft.embed.IvfIndex.append(
        withVec.filter(col("vec_id") % 2 === 1), "emb", "vec_id", path)
      val (loaded, lModel) = graft.embed.IvfIndex.load(s, path)
      graft.embed.IvfIndex.search(loaded, lModel, "emb", qv, k = 12, nProbe = 8,
          scoreCol = "raw", tieBreak = Seq(col("vec_id")))
        .orderBy(col("raw").desc, col("vec_id"))
        .select(col("vec_id"), round(col("raw"), 3).as("score"))
    }),

    "ann_ivf_delete" -> ((s, dir) => {
      // Index deletion lifecycle: build + save on ALL vectors, DELETE the
      // odd vec_ids (tombstones — O(batch) write, zero index IO), search
      // the loaded index (anti-join subtracts them), then compact to a
      // fresh path and require the compacted search to agree. nProbe =
      // nCells ⇒ result equals exact cosine top-k over the surviving
      // (even) vectors — the oracle's WHERE.
      val tmp = java.nio.file.Files.createTempDirectory("graft_verify_ivfdel").toString
      val path = s"$tmp/idx"
      val e = read(s, dir, "embeddings")
      val qv = e.filter(col("vec_id") === 7).select("embedding")
        .head().getSeq[Float](0)
      val withVec = e.withColumnRenamed("embedding", EmbedOps.vecCol("emb"))
      val (indexed, model) = graft.embed.IvfIndex.build(withVec, "emb", nCells = 8)
      graft.embed.IvfIndex.save(indexed, model, "emb", "vec_id", path)
      indexed.unpersist()
      val n = graft.embed.IvfIndex.delete(
        e.filter(col("vec_id") % 2 === 1), "vec_id", path)
      require(n > 0, "delete gate removed no ids")
      def topk(p: String) = {
        val (loaded, m) = graft.embed.IvfIndex.load(s, p)
        graft.embed.IvfIndex.search(loaded, m, "emb", qv, k = 12, nProbe = 8,
            scoreCol = "raw", tieBreak = Seq(col("vec_id")))
          .orderBy(col("raw").desc, col("vec_id"))
          .select(col("vec_id"), round(col("raw"), 3).as("score"))
      }
      val fromTombstoned = topk(path)
      graft.embed.IvfIndex.compactDeletes(s, path, s"$tmp/compacted")
      require(!graft.core.MetaIo.exists(s, s"$tmp/compacted/tombstones"),
        "compacted index must start tombstone-free")
      val fromCompacted = topk(s"$tmp/compacted")
      requireSameRows(fromTombstoned, fromCompacted,
        "compacted search diverged from tombstoned search")
      fromTombstoned
    }),

    "ann_sharded_search" -> ((s, dir) => {
      // Federated search over per-epoch index SHARDS (each with its own
      // quantizer — cell ids are quantizer-local, so shards are searched
      // separately and the per-shard top-k lists merge): even vec_ids in
      // shard A, odd in shard B, both probed exhaustively ⇒ the merge is
      // exact top-k over the disjoint union, which the oracle computes
      // over ALL vectors. The multi-generation layout incremental
      // pipelines actually run.
      val tmp = java.nio.file.Files.createTempDirectory("graft_verify_shard").toString
      val e = read(s, dir, "embeddings")
      val qv = e.filter(col("vec_id") === 13).select("embedding")
        .head().getSeq[Float](0)
      val withVec = e.withColumnRenamed("embedding", EmbedOps.vecCol("emb"))
      Seq(0, 1).foreach { par =>
        val (idx, m) = graft.embed.IvfIndex.build(
          withVec.filter(col("vec_id") % 2 === par), "emb", nCells = 4,
          seed = 7 + par)
        graft.embed.IvfIndex.save(idx, m, "emb", "vec_id", s"$tmp/shard$par")
        idx.unpersist()
      }
      graft.embed.IvfIndex.searchSharded(s,
          Seq(s"$tmp/shard0", s"$tmp/shard1"), "emb", qv, k = 12, nProbe = 4,
          scoreCol = "raw", tieBreak = Seq(col("vec_id")))
        .orderBy(col("raw").desc, col("vec_id"))
        .select(col("vec_id"), round(col("raw"), 3).as("score"))
    }),

    "ann_ivf_partial_probe" -> ((s, dir) => {
      // PRUNED-probe correctness, oracle-checked: with caller-supplied
      // centroids (the embeddings of vec_id 0,10,…,70 — the
      // bring-your-own-quantizer path that at 100 TB trains the quantizer
      // once on a sample and pays only the assignment scan), cell
      // assignment (argmin L2, first wins) and the nProbe=2 probe set
      // (top-cosine cells, ties → lowest) are pure arithmetic the oracle
      // reproduces — so the PARTIAL probe result is hash-verified, not
      // just the exhaustive nProbe=nCells tier the other ann gates pin.
      val e = read(s, dir, "embeddings")
      val cents = e.filter(col("vec_id") % 10 === 0 && col("vec_id") < 80)
        .orderBy("vec_id").select("embedding").collect()
        .map(_.getSeq[Float](0).toArray)
      val withVec = e.withColumnRenamed("embedding", EmbedOps.vecCol("emb"))
      val (indexed, model) =
        graft.embed.IvfIndex.buildWithCentroids(withVec, "emb", cents)
      val qv = e.filter(col("vec_id") === 11).select("embedding")
        .head().getSeq[Float](0)
      graft.embed.IvfIndex.search(indexed, model, "emb", qv, k = 12, nProbe = 2,
          scoreCol = "raw", tieBreak = Seq(col("vec_id")))
        .orderBy(col("raw").desc, col("vec_id"))
        .select(col("vec_id"), round(col("raw"), 3).as("score"))
    }),

    "ann_batch_search" -> ((s, dir) => {
      // BATCH retrieval: the whole query table (vec_id 1,2,3) resolves in
      // ONE distributed job — each query computes its own nProbe=2 probe
      // set inside the scan (ProbeCells expression), explodes to
      // (query, cell) pairs, one equi-join on the cell delivers the IVF
      // candidates, per-query top-5 lowers to WindowGroupLimit. Same
      // pinned-sample centroids as ann_ivf_partial_probe, so the oracle
      // reproduces assignment, per-query probe sets, and ranking exactly.
      val e = read(s, dir, "embeddings")
      val cents = e.filter(col("vec_id") % 10 === 0 && col("vec_id") < 80)
        .orderBy("vec_id").select("embedding").collect()
        .map(_.getSeq[Float](0).toArray)
      val withVec = e.withColumnRenamed("embedding", EmbedOps.vecCol("emb"))
      val (indexed, model) =
        graft.embed.IvfIndex.buildWithCentroids(withVec, "emb", cents)
      val queries = e.filter(col("vec_id").isin(1L, 2L, 3L))
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      graft.embed.IvfIndex.searchBatch(
          indexed.select(col("vec_id"), col(EmbedOps.vecCol("emb")),
            col(graft.embed.IvfIndex.cellCol)),
          model, "emb", queries, "qid", "qvec", k = 5, nProbe = 2,
          scoreCol = "raw", tieBreak = Seq(col("vec_id")))
        .select(col("qid"), col("vec_id"), round(col("raw"), 3).as("score"))
        .orderBy(col("qid"), col("raw").desc, col("vec_id"))
    }),

    "ann_prefix_rerank" -> ((s, dir) => {
      // Matryoshka two-stage search: stage 1 ranks the corpus by cosine
      // over the FIRST 16 of 64 dims (4× less compute on the whole-corpus
      // pass), keeps 50 candidates; stage 2 reranks those by full-dim
      // cosine. The oracle reproduces both stages with list_slice — the
      // candidate cut is part of the hash, so the staging itself is
      // verified, not just the final ranking.
      val e = read(s, dir, "embeddings")
      val qv = e.filter(col("vec_id") === 9).select("embedding")
        .head().getSeq[Float](0)
      EmbedOps.semSearchPrefix(
          e.withColumnRenamed("embedding", EmbedOps.vecCol("emb")), "emb",
          qv, k = 10, prefixDim = 16, candidates = 50,
          scoreCol = "raw", tieBreak = Seq(col("vec_id")))
        .orderBy(col("raw").desc, col("vec_id"))
        .select(col("vec_id"), round(col("raw"), 3).as("score"))
    }),

    "ann_ivf_filtered" -> ((s, dir) => {
      // Filtered ANN: top-k among the rows satisfying a metadata predicate
      // (the reference's id-subset search, lotus/vector_store/faiss_vs.py:57-72,
      // as a composable filter instead of a temp index). The predicate
      // composes with the probe's cell filter on the loaded frame — pruning
      // retained, exactness at nProbe = nCells — and the oracle applies the
      // same WHERE.
      val path = java.nio.file.Files.createTempDirectory("graft_verify_ivff").toString + "/idx"
      val e = read(s, dir, "embeddings")
      val qv = e.filter(col("vec_id") === 6).select("embedding")
        .head().getSeq[Float](0)
      val withVec = e.withColumnRenamed("embedding", EmbedOps.vecCol("emb"))
      val (indexed, model) = graft.embed.IvfIndex.build(withVec, "emb", nCells = 8)
      graft.embed.IvfIndex.save(indexed, model, "emb", "vec_id", path)
      indexed.unpersist()
      val (loaded, lModel) = graft.embed.IvfIndex.load(s, path)
      graft.embed.IvfIndex.search(loaded.filter(col("vec_id") % 3 === 0),
          lModel, "emb", qv, k = 12, nProbe = 8,
          scoreCol = "raw", tieBreak = Seq(col("vec_id")))
        .orderBy(col("raw").desc, col("vec_id"))
        .select(col("vec_id"), round(col("raw"), 3).as("score"))
    }),

    "ann_ivf_vs" -> ((s, dir) => {
      // The settings-level ANN tier: with Settings.vs = IvfVS, plain
      // semIndexSave builds + saves the cell-partitioned IVF index and
      // semSearchStore probes it — the reference's settings.vs usage shape,
      // no bespoke IvfIndex calls. nProbe = nCells makes the probe
      // exhaustive, so the result equals exact cosine top-k and the whole
      // settings-routed lifecycle is oracle-checkable (probe pruning at
      // nProbe < nCells is pinned by IvfVsSpec/IvfSpec).
      val base = java.nio.file.Files.createTempDirectory("graft_verify_ivfvs").toString
      val e = read(s, dir, "embeddings")
      val qv = e.filter(col("vec_id") === 4).select("embedding")
        .head().getSeq[Float](0)
      val withVec = e.withColumnRenamed("embedding", EmbedOps.vecCol("emb"))
      Sem.withSettings(Sem.settings.copy(vs =
          Some(graft.embed.IvfVS(base, nCells = 8, nProbe = 8)))) {
        EmbedOps.semIndexSave(withVec, "emb", "vec_id", "emb_idx")
        EmbedOps.semSearchStoreVec(s, "emb_idx", qv.toIndexedSeq, 12)
          // Order on the RAW score (the oracle's ORDER BY is unrounded);
          // rounding only in the projection.
          .orderBy(col("score").desc, col("id"))
          .select(col("id").as("vec_id"), round(col("score"), 3).as("score"))
      }
    }),

    "ann_ivf_vs_auto" -> ((s, dir) => {
      // The settings-level AUTO probe tier: IvfVS(nProbe = 0) measures
      // the cheapest sampled-recall tier at index() time
      // (recommendProbesForFetch over 16 self-queries) and PERSISTS the
      // decision beside the cells — settings/SQL users inherit the same
      // measured-recall default the operator callers get, and every
      // later search reads the saved decision, not a config knob.
      // targetRecall = 1.0 on this unclustered corpus makes every
      // partial tier fail the sample, so the decision provably lands on
      // the exhaustive tier (the LOUD fall-through branch): search ≡
      // exact cosine top-k and the persisted-decision lifecycle is
      // oracle-checkable. The partial pick on clustered geometry (and
      // the stale-decision delete on re-index) is pinned by IvfVsSpec.
      val base = java.nio.file.Files.createTempDirectory("graft_verify_ivfvsa").toString
      val e = read(s, dir, "embeddings")
      val qv = e.filter(col("vec_id") === 4).select("embedding")
        .head().getSeq[Float](0)
      val withVec = e.withColumnRenamed("embedding", EmbedOps.vecCol("emb"))
      Sem.withSettings(Sem.settings.copy(vs =
          Some(graft.embed.IvfVS(base, nCells = 8, nProbe = 0,
            targetRecall = 1.0)))) {
        EmbedOps.semIndexSave(withVec, "emb", "vec_id", "emb_idx")
        EmbedOps.semSearchStoreVec(s, "emb_idx", qv.toIndexedSeq, 12)
          .orderBy(col("score").desc, col("id"))
          .select(col("id").as("vec_id"), round(col("score"), 3).as("score"))
      }
    }),

    "ann_pq_vs" -> ((s, dir) => {
      // The PQ codec through the settings-level store: Settings.vs =
      // IvfVS(pq = true) routes semIndexSave/semSearchStore onto the
      // product-quantized cell-partitioned index. pqAdc = false selects the
      // bit-reproducible reconstruction kernel so the lifecycle is
      // oracle-checkable (ADC parity to 1e-9 is pinned by PqSpec);
      // pqFitSampleFraction = 1.0 pins the fit to the full vector multiset
      // exactly like ann_ivfpq_search, so the oracle's literal codebooks
      // apply at ANY corpus size (the default budget-derived fraction would
      // silently switch to a hash sample past defaultFitPoints vectors).
      val base = java.nio.file.Files.createTempDirectory("graft_verify_pqvs").toString
      val e = read(s, dir, "embeddings")
      val qv = e.filter(col("vec_id") === 4).select("embedding")
        .head().getSeq[Float](0)
      val withVec = e.withColumnRenamed("embedding", EmbedOps.vecCol("emb"))
      Sem.withSettings(Sem.settings.copy(vs =
          Some(graft.embed.IvfVS(base, nCells = 8, nProbe = 8,
            pq = true, pqAdc = false, pqFitSampleFraction = 1.0)))) {
        EmbedOps.semIndexSave(withVec, "emb", "vec_id", "emb_idx")
        EmbedOps.semSearchStoreVec(s, "emb_idx", qv.toIndexedSeq, 12)
          // Order on the RAW score (the oracle's ORDER BY is unrounded);
          // rounding only in the projection.
          .orderBy(col("score").desc, col("id"))
          .select(col("id").as("vec_id"), round(col("score"), 3).as("score"))
      }
    }),

    "embed_random_project" -> ((s, dir) => {
      // JL random projection 64-d → 16-d with the seeded Gaussian kernel
      // shared with LSH (planes reproduced as oracle literals; the 1/√16
      // scale is exactly 0.25, a power of two, so scaling is IEEE-exact).
      // Components exploded to rows and checked at round-3 — the cosine
      // gates' accumulation-order convention.
      val e = read(s, dir, "embeddings")
        .withColumnRenamed("embedding", EmbedOps.vecCol("emb"))
      EmbedOps.randomProject(e, "emb", outDim = 16)
        .select(col("vec_id"),
          posexplode(col(EmbedOps.vecCol("emb_rp"))).as(Seq("pos", "val")))
        // + 0.0 normalizes IEEE negative zero (round of a tiny negative
        // projection yields -0.0 in one engine, 0.0 in the other).
        .select(col("vec_id"), col("pos"),
          (round(col("val").cast("double"), 3) + lit(0.0)).as("val"))
        .orderBy("vec_id", "pos")
    }),

    "ann_binary_quant" -> ((s, dir) => {
      // The 1-bit tier below SQ8/PQ: sign-bit packing (64 dims → one
      // long), coarse top-32 by XOR+popcount Hamming, exact cosine rerank
      // to top-8 — both stages id-tie-broken. The oracle recomputes the
      // identical two-stage selection from raw sign comparisons (no
      // packing) — a packing or popcount bug shifts the candidate set
      // and hash-mismatches.
      val e = read(s, dir, "embeddings")
      val qv = e.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0)
      val withVec = e.withColumnRenamed("embedding", EmbedOps.vecCol("emb"))
      EmbedOps.binarySearchVec(withVec, "emb", "vec_id", qv, k = 8, nRerank = 32)
        .select(col("vec_id"), col("__ham").as("ham"),
          round(col("__cos"), 3).as("score"))
    }),

    "sem_cluster" -> ((s, dir) => {
      // sem_cluster_by on the stored embedding column. The centroid fit is
      // deterministic driver-side Lloyd's on the SORTED sample — a pure
      // function of the vector multiset — so the fitted centroids are
      // pinned as literals in the oracle and the distributed ASSIGNMENT
      // (nearest-centroid argmin, ties → lowest cell) is hash-verified in
      // SQL. Fit math itself is covered by EmbedSpec/IvfSpec.
      val e = read(s, dir, "embeddings")
        .withColumnRenamed("embedding", EmbedOps.vecCol("emb"))
      EmbedOps.semClusterBy(e, "emb", nClusters = 8)
        .select(col("vec_id"), col("cluster_id").cast("long").as("cluster_id"))
        .orderBy("vec_id")
    }),

    "prune_prototypes" -> ((s, dir) => {
      // Prototype-distance pruning (Sorscher 2022 / D4): keep, per
      // nearest-centroid cluster, the hardest 25% by cosine to the
      // centroid — exactly ceil(0.25·n_c) rows, (sim, id)-ordered. The
      // centroid fit is the same deterministic sorted-sample Lloyd's as
      // sem_cluster, so the oracle assigns over the SAME pinned literals
      // and re-derives the per-cluster selection with a window (fine at
      // oracle scale; the engine's histogram-threshold + prefix-sum form
      // is the scale path and must agree row-for-row).
      val e = read(s, dir, "embeddings")
        .withColumnRenamed("embedding", EmbedOps.vecCol("emb"))
      val sample = e.select(EmbedOps.vecCol("emb"))
        .collect().map(_.getSeq[Float](0).toArray)
      val cents = graft.embed.IvfIndex.fitCentroids(sample, 8, seed = 42)
      EmbedOps.prunePrototypes(e, "emb", "vec_id", cents, keepFraction = 0.25)
        .select(col("vec_id"),
          col("cluster_id").cast("long").as("cluster_id"),
          col("prototype_sim"))
        .orderBy("vec_id")
    }),

    // ---------------- dedup suite -----------------------------------------
    "dedup_exact" -> ((s, dir) => {
      // The gate corpus holds no exact duplicates, so the adapter PLANTS
      // them: every 10th doc re-enters under doc_id + 100000. Exact dedup
      // must drop every planted copy (min id wins) and keep all
      // originals — the oracle (dedup over the bare table) only matches
      // if the drop actually happened; a keep-max or keep-all regression
      // would surface +100000 ids and fail the hash.
      val d = read(s, dir, "documents").select("doc_id", "text")
      val planted = d.filter(col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + 100000)
      d.unionByName(planted)
        .groupBy("text").agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id", "text")
        .orderBy("doc_id")
    }),

    "dedup_minhash" -> ((s, dir) => {
      // Oracled end to end: minhashPairs verifies candidates with EXACT
      // hashed-shingle Jaccard, so its pair set equals the all-pairs
      // exact-Jaccard set whenever LSH candidate recall is 1. On the gate
      // corpus the planted near-dups all have J ≥ 0.889 and nothing else
      // exceeds 0.3 — every true pair shares a band with probability
      // ≈ 1-(1-0.889⁴)¹⁶ (miss ~1.5e-7), verified exhaustively against the
      // exact pair set at sf0.001 and sf0.01. The oracle is therefore the
      // recursive-CTE connected-components over exact string-shingle
      // Jaccard ≥ 0.5 (hashed-vs-string shingles differ only by 2⁻⁶⁴
      // collisions, same convention as dedup_ngram_jaccard).
      val d = read(s, dir, "documents")
      val pairs = Dedup.minhashPairs(d, "text", "doc_id", threshold = 0.5, bands = 16)
      Dedup.dropDuplicatesByPairs(d, "doc_id", pairs)
        .select("doc_id").orderBy("doc_id")
    }),

    "dedup_minhash_auto" -> ((s, dir) => {
      // The bands = 0 recall-aware AUTO route end to end: targetRecall =
      // 1.0 with a full-corpus sample makes the one-pass estimator
      // measure TRUE pair recall per tier, so the cheapest chosen tier
      // catches every qualifying pair on this corpus and the
      // (exact-verified) pair set equals the all-pairs exact-Jaccard set
      // — the dedup_minhash oracle applies unchanged. Pins the decision
      // machinery live: the canonical collapse, per-tier signature-slice
      // collisions, cheapest-tier pick, and the route at the picked tier.
      val d = read(s, dir, "documents")
      val pairs = Dedup.minhashPairs(d, "text", "doc_id", threshold = 0.5,
        targetRecall = 1.0, autoSampleSize = Int.MaxValue)
      Dedup.dropDuplicatesByPairs(d, "doc_id", pairs)
        .select("doc_id").orderBy("doc_id")
    }),

    "dedup_minhash_auto_sampled" -> ((s, dir) => {
      // The PRODUCTION auto route: the default bounded estimator sample
      // (2048 content-hash-selected docs — deterministic membership, so
      // the tier choice is a pure function of the corpus) instead of the
      // exhaustive full-corpus estimator the gate above pins. On this
      // corpus the bounded sample still measures sub-1.0 recall at every
      // tier below 16 bands and picks the same tier, so the same exact
      // connected-components oracle applies — and the gate's cost is the
      // ROUTE, not the O(sample²) estimator, which is what a cross-round
      // bench read should track (the r12 variance lived in the
      // deliberately-exhaustive estimator, not the route).
      val d = read(s, dir, "documents")
      val pairs = Dedup.minhashPairs(d, "text", "doc_id", threshold = 0.5,
        targetRecall = 1.0)
      Dedup.dropDuplicatesByPairs(d, "doc_id", pairs)
        .select("doc_id").orderBy("doc_id")
    }),

    "dedup_simhash" -> ((s, dir) => {
      // Oracled end to end: the 4×16-bit chunk bucketing has candidate
      // recall EXACTLY 1 for hamming ≤ 3 (pigeonhole), so the operator's
      // pair set equals the all-pairs hamming-≤3 set — and the simhash
      // itself (per-token FNV-1a + splitmix avalanche, ±1 majority votes)
      // is reproduced bit-exactly in the DuckDB oracle with UHUGEINT
      // mod-2⁶⁴ arithmetic. Fully hash-verified: signatures, bucketing
      // recall, verification, and connected components.
      val d = read(s, dir, "documents")
      val pairs = Dedup.simhashPairs(d, "text", "doc_id", maxDist = 3)
      Dedup.dropDuplicatesByPairs(d, "doc_id", pairs)
        .select("doc_id").orderBy("doc_id")
    }),

    "dedup_clusters" -> ((s, dir) => {
      // The audit/enrich form of dedup: every doc tagged with its
      // duplicate-cluster representative (component min over the
      // exact-Jaccard pair graph; singletons map to themselves). Cluster
      // sizes, canonical picks, and the keep set all derive from this
      // mapping. Same pair math as dedup_minhash, so the same
      // recursive-CTE oracle verifies pairs → components → representative.
      val d = read(s, dir, "documents")
      val pairs = Dedup.minhashPairs(d, "text", "doc_id", threshold = 0.5, bands = 16)
      Dedup.componentIds(d.select(col("doc_id").cast("long").as("id")), pairs)
        .select(col("id").as("doc_id"), col("rep_id"))
        .orderBy("doc_id")
    }),

    "ngram_novelty" -> ((s, dir) => {
      // Per-doc novel n-gram fraction — the doc-level redundancy signal
      // dedup does not give (a kept doc can still be assembled from text
      // that exists elsewhere). Same 3-gram shingle definition as the
      // dedup family; the oracle replays explode → doc-frequency → join.
      Dedup.ngramNovelty(read(s, dir, "documents"), "text", "doc_id", n = 3)
        .select(col("id").as("doc_id"), col("n_grams"), col("n_shared"),
          col("novelty"))
        .orderBy("doc_id")
    }),

    "dedup_soft_weights" -> ((s, dir) => {
      // SOFT dedup (reweight, don't drop): weight = 1/cluster_size over
      // the same exact-Jaccard pair graph as dedup_clusters, so every
      // duplicate cluster contributes one doc-equivalent of expected
      // training mass while no doc is lost. Oracle = the dedup_clusters
      // reachability CTE + per-representative counts + the reciprocal.
      Dedup.softDedupWeights(read(s, dir, "documents"), "text", "doc_id",
          threshold = 0.5, bands = 16)
        .select(col("id").as("doc_id"), col("rep_id"),
          col("cluster_size"), col("weight"))
        .orderBy("doc_id")
    }),

    "tfidf_topterms" -> ((s, dir) => {
      // Corpus keyword extraction: top-3 TF-IDF terms per doc. Each score
      // is one product of exact per-term values (no accumulation order);
      // rank ties break on the term, so the result is total-order
      // deterministic and bit-reproducible in SQL.
      Lexical.tfidfTopTerms(read(s, dir, "documents"), "text", "doc_id", k = 3)
        .select(col("id").as("doc_id"), col("term"),
          round(col("tfidf"), 4).as("tfidf"))
        .orderBy("doc_id", "term")
    }),

    "dedup_ngram_jaccard" -> ((s, dir) => {
      // Exact all-pairs n-gram Jaccard on a slice (the verification kernel
      // of the minhash path, run alone): pairs with J ≥ 0.2. The slice is
      // sized so planted near-dups land inside it (>0 result rows), and the
      // exact-Jaccard oracle hash-checks the kernel in DuckDB.
      // Hashed shingles (tight-loop expression → array<long>): intersecting
      // 8-byte hashes beats string shingles on the N² verify; Jaccard is
      // unchanged up to 2^-64 collisions, so the string-shingle oracle still
      // hash-matches.
      val d = read(s, dir, "documents").filter(col("doc_id") < 300)
      val sh = d.select(col("doc_id"),
        array_distinct(graft.functions.MinHashExpr.shingleHashes(
          split(trim(col("text")), "\\s+"), 3)).as("sh"))
      val a = sh.toDF("id1", "sh1")
      val b = sh.toDF("id2", "sh2")
      // Both predicates in the JOIN condition, cheap conjunct first:
      // Catalyst pushes the jaccard filter into the nested-loop condition
      // anyway, but written this way `id1 < id2` short-circuits the set
      // ops for half the ordered pairs (plan-audited r8).
      a.join(broadcast(b),
          col("id1") < col("id2") &&
            graft.functions.VectorExprs.longSetJaccard(
              col("sh1"), col("sh2")) >= 0.2)
        .select(col("id1"), col("id2"),
          round(graft.functions.VectorExprs.longSetJaccard(
            col("sh1"), col("sh2")), 3).as("jac"))
        .orderBy("id1", "id2")
    }),

    "edit_distance_join" -> ((s, dir) => {
      // Exact edit-distance self-join (ED-Join prefix route — never N²)
      // over the distinct 3-word shingle strings of a corpus slice: all
      // string pairs within levenshtein <= 2, verified by the thresholded
      // banded DP. The oracle brute-forces the identical pair set in
      // DuckDB with its native levenshtein.
      val d = read(s, dir, "documents").filter(col("doc_id") < 60)
      val phrases = d.select(explode(Dedup.shingles(col("text"), 3)).as("p"))
        .distinct()
      FuzzyJoin.editDistanceSelfJoin(
          phrases.withColumn("id", col("p")), "id", "p", maxDist = 2,
          orderByFrequency = true) // the scale-correct order; answers identical
        .toDF("s1", "s2", "dist")
        .orderBy("s1", "s2")
    }),

    "dedup_containment" -> ((s, dir) => {
      // Asymmetric shingle containment C(a→b) = |A∩B|/|A| ≥ 0.4 — the
      // quote/near-complete-copy signal Jaccard structurally misses. The
      // probe side explodes only its (1−c)-sized md5-ordered prefix; the
      // merge-pass overlap kernel verifies exact counts per candidate.
      FuzzyJoin.containmentPairs(
          read(s, dir, "documents").filter(col("doc_id") < 300),
          "doc_id", "text", shingleLen = 3, minContainment = 0.4)
        .select(col("id1"), col("id2"),
          round(col("containment"), 3).as("cont"))
        .orderBy("id1", "id2")
    }),

    "dedup_winnow" -> ((s, dir) => {
      // Winnowing fingerprints (Schleimer et al., SIGMOD 2003 — MOSS):
      // the LOCAL-similarity detector global minhash structurally
      // misses. The 31-word boilerplate span planted in every 7th doc
      // is far above the w+k−1 = 8 word guarantee, so every planted
      // pair MUST share fingerprints; the md5-string window minima
      // replay exactly in SQL, and incidental corpus matches replay
      // identically too. Pairs with >= 2 shared fingerprints, exact
      // shared counts pinned.
      val span = "this document is provided as is without warranty of any " +
        "kind either express or implied including but not limited to the " +
        "implied warranties of merchantability and fitness for a " +
        "particular purpose"
      val d = read(s, dir, "documents").filter(col("doc_id") < 300)
        .withColumn("text",
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" " + span)))
            .otherwise(col("text")))
      Dedup.winnowPairs(d, "doc_id", "text", k = 5, w = 4, minShared = 2)
        .select(col("id1"), col("id2"), col("n_shared"))
        .orderBy("id1", "id2")
    }),

    "dedup_drop_contained" -> ((s, dir) => {
      // The directional containment CLEANING action on planted quote
      // chains: docs are regrouped in triples sharing one base text —
      // doc%3==0 keeps the first ⌈n/3⌉ words (a), %3==1 the first
      // ⌈2n/3⌉ (b), %3==2 the full text (c) — so a⊂b⊂c at containment
      // 1.0. dropContained must drop a and b and keep every c (longest
      // wins; ties — degenerate 1-word groups or cross-group exact dups
      // — resolve to the min id). The survivor set + word counts are
      // pinned against the oracle's all-pairs exact replay.
      val d0 = read(s, dir, "documents").filter(col("doc_id") < 300)
      val base = d0.filter(col("doc_id") % 3 === 2)
        .select(floor(col("doc_id") / 3).as("__g"), col("text").as("__base"))
      val w = split(trim(col("__base")), "\\s+")
      val n = size(w)
      val take = when(col("doc_id") % 3 === 0, ceil(n / 3.0))
        .when(col("doc_id") % 3 === 1, ceil(n * 2.0 / 3))
        .otherwise(n).cast("int")
      val synth = d0.select(col("doc_id"), floor(col("doc_id") / 3).as("__g"))
        .join(base, "__g")
        .select(col("doc_id"),
          concat_ws(" ", slice(w, lit(1), take)).as("text"))
      FuzzyJoin.dropContained(synth, "doc_id", "text",
          shingleLen = 3, minContainment = 0.8)
        .select(col("doc_id"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("n_words"))
        .orderBy("doc_id")
    }),

    "pipeline_compose" -> ((s, dir) => {
      // Semantic + classical composition through one plan: LLM filter →
      // native text analysis → aggregate. Mirrors the reference's
      // filter-then-pandas composition tests (tests/test_filter.py:27-101).
      Sem.withLM(FakeLM(FakeBehavior.KeywordFilter("spark"))) {
        read(s, dir, "documents")
          .semFilter("the {text} mentions a certain data engine")
          .withColumn("n_tok", TF.tokenCount(col("text")))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tok").cast("long")).as("sum_tok"))
          .orderBy("lang")
      }
    }),

    "gepa_optimized" -> ((s, dir) => {
      // The GEPA-role optimizer loop END TO END: the plan starts with a
      // deliberately wrong claim ('flink'), the scripted rewriter proposes
      // the right one ('spark'), the instruction-sensitive fake executor
      // (ClaimWordFilter pulls the quoted word from the INSTRUCTION) makes
      // the candidate genuinely score higher on the eval function, and
      // GepaLite adopts it. The gate result is the OPTIMIZED plan's output
      // — a wrong optimizer loop (not proposing, not re-scoring, not
      // adopting) hash-mismatches because the flink plan's rows differ.
      Sem.withLM(FakeLM(FakeBehavior.ClaimWordFilter)) {
        val plan = graft.plan.SemPlan(Seq(
          graft.plan.SemFilterOp("the {text} mentions 'flink'")))
        val hasSpark = array_contains(split(lower(col("text")), " "), "spark")
        val evalFn: DataFrame => Double = df =>
          df.select(coalesce(sum(when(hasSpark, 1L).otherwise(-1L)), lit(0L)))
            .head().getLong(0).toDouble
        val rewriter = FakeLM(FakeBehavior.Scripted(
          Seq("the {text} mentions 'spark'")))
        val docs = read(s, dir, "documents")
        val best = graft.plan.GepaLite.optimize(plan, docs, evalFn, rewriter,
          rounds = 1, candidatesPerRound = 1)
        best.plan.run(docs).select(col("doc_id"), col("lang")).orderBy("doc_id")
      }
    }),

    "gepa_population" -> ((s, dir) => {
      // The population-based evolutionary GEPA loop (reference
      // gepa_optimizer.py:249 — rank-weighted parent selection, crossover,
      // reflective mutation under a seeded rng) END TO END, the sibling of
      // gepa_optimized's hill-climb: BOTH instruction slots start wrong
      // ('banana', 'zebra'), every reflection proposes the two right claims,
      // and the search must route them into both slots — only the
      // fully-corrected plan maximizes the eval, and the gate hashes that
      // plan's rows ('spark' AND 'data' docs, 321 at sf0.01). A loop that
      // fails to select, cross over, or adopt lands on a lesser candidate
      // and hash-mismatches.
      Sem.withLM(FakeLM(FakeBehavior.ClaimWordFilter)) {
        val docs = read(s, dir, "documents")
        val plan = graft.plan.SemPlan(Seq(
          graft.plan.SemFilterOp("the {text} mentions 'banana'"),
          graft.plan.SemFilterOp("the {text} mentions 'zebra'")))
        def has(w: String) = array_contains(split(lower(col("text")), " "), w)
        val wanted = has("spark") && has("data")
        val evalFn: DataFrame => Double = df =>
          df.select(coalesce(sum(when(wanted, 1L).otherwise(-1L)), lit(0L)))
            .head().getLong(0).toDouble
        val rewriter = FakeLM(FakeBehavior.Scripted(Seq(
          "the {text} mentions 'spark'\nthe {text} mentions 'data'")))
        val best = graft.plan.Gepa.optimize(plan, docs, evalFn, rewriter,
          graft.plan.Gepa.Config(populationSize = 4, maxEvals = 16,
            mutationsPerStep = 2))
        best.plan.run(docs).select(col("doc_id"), col("lang")).orderBy("doc_id")
      }
    }),

    "lm_cache_replay" -> ((s, dir) => {
      // The response-cache determinism contract (reference virtual-vs-
      // physical usage accounting, lotus/models/lm.py:497-529) as a HARD
      // gate: the same sem_map stage runs twice with the response cache
      // on; the second pass must be served entirely from the cache. Its
      // physical call count (≡ 0) and virtual request count (≡ corpus rows)
      // ride the result as gated columns — a cache that misses,
      // double-counts, or stops recording hash-mismatches.
      graft.llm.ResponseCache.clear()
      Sem.withSettings(Sem.settings.copy(
          lm = FakeLM(FakeBehavior.FirstWords("Text", 3)), enableCache = true)) {
        val stats = graft.llm.UsageTracker.forSession(s)
        val docs = read(s, dir, "documents")
        def pass() = docs.semMap("give the first three words of {text}")
          .select(col("doc_id"), col("_map"))
        pass().count() // first pass fills the cache (all physical misses)
        val phys0 = stats.physicalRequests.value
        val req0 = stats.requests.value
        val second = pass()
        second.count() // second pass: accumulators settle before the reads
        second
          .withColumn("physical_second", lit(stats.physicalRequests.value - phys0))
          .withColumn("virtual_second", lit(stats.requests.value - req0))
          .orderBy("doc_id")
      }
    }),

    "op_cache_replay" -> ((s, dir) => {
      // The PERSISTENT operator cache (reference cache layer 2,
      // lotus/cache.py:33-100) as a HARD gate: the same sem_map stage runs
      // twice through OpCache.cached against a parquet cache dir with the
      // response cache DISABLED — so only the op cache can explain a
      // silent second pass. The second pass must issue ZERO LM requests
      // (virtual AND physical: the operator never ran, its result came
      // from the immutable parquet that survives a JVM restart) and
      // reproduce the first pass's rows. Both deltas ride the result.
      val cacheDir =
        java.nio.file.Files.createTempDirectory("graft_opcache").toString
      Sem.withSettings(Sem.settings.copy(
          lm = FakeLM(FakeBehavior.FirstWords("Text", 3)),
          enableCache = false)) {
        val stats = graft.llm.UsageTracker.forSession(s)
        val docs = read(s, dir, "documents")
        def stage() = docs.semMap("give the first three words of {text}")
          .select(col("doc_id"), col("_map"))
        val key = graft.plan.OpCache.keyFor(docs, "sem_map", "first3")
        graft.plan.OpCache.cached(s, cacheDir, key)(stage()).count()
        val (req0, phys0) =
          (stats.requests.value, stats.physicalRequests.value)
        val second = graft.plan.OpCache.cached(s, cacheDir, key)(stage())
        second.count() // settle accumulators before reading the deltas
        second
          .withColumn("requests_second", lit(stats.requests.value - req0))
          .withColumn("physical_second",
            lit(stats.physicalRequests.value - phys0))
          .orderBy("doc_id")
      }
    }),

    "usage_ledger" -> ((s, dir) => {
      // Usage + pricing accounting (reference lotus/models/lm.py:497-529,
      // lotus/pricing.py:10-34) as a HARD gate: an Echo sem_map under the
      // Json serializer makes every byte of the ledger SQL-derivable —
      // prompt chars = per-doc json rendering + a constant per-request
      // prompt scaffold (computed from the real formatter and baked into
      // the oracle SQL), output chars = the echoed rendering, tokens =
      // chars/4, cost = the static price table's default rate. Any drift in
      // recording, token estimation, or pricing hash-mismatches.
      import graft.core.{SerializationFormat => SF}
      import s.implicits._
      Sem.withSettings(Sem.settings.copy(
          lm = FakeLM(FakeBehavior.Echo), serializationFormat = SF.Json)) {
        val stats = graft.llm.UsageTracker.forSession(s)
        val (req0, p0, o0) =
          (stats.requests.value, stats.promptChars.value, stats.outputChars.value)
        read(s, dir, "documents").semMap(usageLedgerInstr).count()
        val requests = stats.requests.value - req0
        val promptChars = stats.promptChars.value - p0
        val outputChars = stats.outputChars.value - o0
        val (pt, ot) = (promptChars / 4, outputChars / 4)
        val cost = graft.llm.Pricing.costUsd(
          FakeLM(FakeBehavior.Echo).modelName, pt, ot)
        Seq((requests, promptChars, outputChars, pt, ot, cost))
          .toDF("requests", "prompt_chars", "output_chars",
            "prompt_tokens", "output_tokens", "cost_usd")
      }
    }),

    "rate_limit_schedule" -> ((s, dir) => {
      // The RPM/TPM sliding-window rate limiter (#39, reference
      // lm.py:304-436 — the last spec-only runtime surface) as pure math:
      // RateGovernor.schedule computes the exact grant times acquire()
      // enforces (spec-matched under a VirtualClock in
      // LongContextUsageSpec), with per-request token costs derived from
      // document lengths; the oracle reproduces the same recurrence with a
      // recursive CTE. rpm=7 and a 400-token headroom cap both bind on
      // this corpus, so RPM-release, TPM-release, and the no-wait branch
      // are all on the verified path. Driver-side by nature — the governor
      // is an executor-local runtime object, not a distributed operator.
      import s.implicits._
      val toks = read(s, dir, "documents").orderBy("doc_id").limit(40)
        .select(greatest(lit(1L), expr("CAST(length(text) AS BIGINT) div 4")))
        .as[Long].collect().map(_.toInt).toSeq
      val grants = graft.llm.RateGovernor.schedule(
        toks, rpm = 7, tpm = 422, windowMs = 60000L)
      toks.zip(grants).zipWithIndex
        .map { case ((t, g), i) => (i.toLong, t.toLong, g) }
        .toDF("req_idx", "tokens", "granted_ms")
    }),

    "agent_python_repl" -> ((s, dir) => {
      // The Python REPL tool (#26's in-env surface) through the REAL
      // AgentLoop: the scripted agent ships the corpus numbers to a
      // python3 SUBPROCESS and answers with its stdout — the aggregate
      // must round-trip driver → tool-call JSON → python → tool message →
      // final answer, so a broken argv, JSON parse, stream drain, or
      // trace step hash-mismatches. Driver-side by nature (an agent
      // runtime, not a data operator — same status as rate_limit_schedule).
      import s.implicits._
      val nums = read(s, dir, "documents").filter(col("doc_id") < 40)
        .orderBy("doc_id").select(col("n_chars")).as[Long].collect()
      val completer = new graft.agentic.Completer {
        override def complete(messages: Seq[(String, String)],
            toolsEnabled: Boolean): graft.agentic.AgentStep =
          messages.reverse.collectFirst { case ("tool", m) => m } match {
            case Some(m) => // answer with the subprocess's stdout, verbatim
              graft.agentic.AgentStep(m.stripPrefix("[python_repl]").trim)
            case None =>
              val code = s"print(sum([${nums.mkString(",")}]))"
              graft.agentic.AgentStep("", Seq(graft.agentic.ToolCall("1",
                "python_repl", s"""{"code": "${jsonEsc(code)}"}""")))
          }
      }
      val res = graft.agentic.AgentLoop.run(completer,
        Seq(graft.agentic.PythonReplTool()),
        "You are a calculator.", s"Sum these numbers: ${nums.mkString(",")}")
      require(res.steps == 2 && res.trace.map(_._1) == Seq("python_repl"),
        s"expected one python_repl round trip, got steps=${res.steps} trace=${res.trace}")
      Seq(res.output.trim.toLong).toDF("sum_nchars")
    }),

    "pipeline_agent_entry" -> ((s, dir) => {
      // The reference's flagship agentic entry (Corpus.agent: derive plan →
      // fold ops) END TO END: a scripted PLANNER answers the planning call
      // with the JSON plan draft (exercising the sample/stats prompt and
      // plan parse), the scripted op completer executes the planned
      // map → filter → reduce, and the reduce summary is SQL-expressible —
      // one gate hash-verifies planning + plan parse + the whole fold.
      import s.implicits._
      val docs = read(s, dir, "documents").filter(col("doc_id") < 40)
        .select(col("doc_id").cast("string").as("id"), col("text"))
        .as[(String, String)].map { case (i, c) => graft.agentic.CorpusUnit(i, c) }
      val planner = new graft.agentic.Completer {
        override def complete(messages: Seq[(String, String)],
            toolsEnabled: Boolean): graft.agentic.AgentStep =
          graft.agentic.AgentStep(
            """{"map_instruction": "Rewrite each unit as whitespace-collapsed uppercase.",
              | "filter_instruction": "Keep only units with at least 150 characters.",
              | "reduce_instruction": "Summarize the findings.",
              | "shard_size": 1, "parallelism": 4}""".stripMargin)
      }
      val res = graft.agentic.Planner.runAgentPipeline(docs, "normalize the corpus",
        Seq("map", "filter", "reduce"), ScriptedPipelineCompleter,
        planner = Some(planner))
      Seq(res.output.get).toDF("final")
    }),

    "serialize_formats" -> ((s, dir) => {
      // The JSON and XML row renderers through the full LLM stage: the Echo
      // fake returns the serialized doc verbatim, so the oracle reproduces
      // the exact rendering in SQL (plain-word corpus → escaping is
      // identity; DEFAULT is already transited by every semantic gate).
      import graft.core.{SerializationFormat => SF}
      val d = read(s, dir, "documents")
      val js = Sem.withSettings(Sem.settings.copy(
          lm = FakeLM(FakeBehavior.Echo), serializationFormat = SF.Json)) {
        d.semMap("describe {text}")
          .select(col("doc_id"), col("_map").as("json_doc"))
      }
      val xml = Sem.withSettings(Sem.settings.copy(
          lm = FakeLM(FakeBehavior.Echo), serializationFormat = SF.Xml)) {
        d.semMap("describe {text}")
          .select(col("doc_id"), col("_map").as("xml_doc"))
      }
      js.join(xml, "doc_id").orderBy("doc_id")
    }),

    "source_dir_html" -> ((s, dir) => {
      // The DirectoryReader surface on its html path, end to end and
      // DISTRIBUTED: docs are materialized as .html files, read back via
      // the binaryFile source + extractor dispatch on executors, and the
      // tag-strip + whitespace-collapse must reproduce the original text
      // (md5-pinned; the synthetic corpus has no markup metacharacters, so
      // the wrap → extract round-trip is exact).
      val tmp = java.nio.file.Files.createTempDirectory("graft_verify_dir")
      read(s, dir, "documents").filter(col("doc_id") < 50)
        .select("doc_id", "text").collect().foreach { r =>
          java.nio.file.Files.write(
            tmp.resolve(s"${r.getLong(0)}.html"),
            s"<html><body><p>${r.getString(1)}</p></body></html>"
              .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
      graft.connectors.DirectoryReaderLite.toDf(s, tmp.toString + "/*.html")
        .select(regexp_extract(col("path"), "(\\d+)\\.html$", 1)
            .cast("long").as("doc_id"),
          col("page"), md5(col("content")).as("content_md5"))
        .orderBy("doc_id")
    }),

    "source_dir_office" -> ((s, dir) => {
      // The remaining DirectoryReader CONTAINER formats — docx, xlsx,
      // epub, pptx — all ZIP+XML (public ECMA-376 / IDPF structures) —
      // end to end and distributed: one mixed directory (format = doc_id
      // mod 4), extension-dispatched extraction on executors, extracted
      // text md5-pinned against the corpus. Together with source_dir_html
      // and source_dir_pdf this puts EVERY DirectoryReader extractor
      // under an oracle gate.
      def zipOf(entries: (String, String)*): Array[Byte] = {
        val bos = new java.io.ByteArrayOutputStream()
        val z = new java.util.zip.ZipOutputStream(bos)
        entries.foreach { case (n, c) =>
          z.putNextEntry(new java.util.zip.ZipEntry(n))
          z.write(c.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          z.closeEntry()
        }
        z.close(); bos.toByteArray
      }
      val tmp = java.nio.file.Files.createTempDirectory("graft_verify_office")
      read(s, dir, "documents").filter(col("doc_id") < 30)
        .select("doc_id", "text").collect().foreach { r =>
          val (id, t) = (r.getLong(0), r.getString(1))
          val (name, bytes) = (id % 4) match {
            case 0 => (s"$id.docx", zipOf("word/document.xml" ->
              s"<w:document><w:body><w:p><w:r><w:t>$t</w:t></w:r></w:p></w:body></w:document>"))
            case 1 => (s"$id.xlsx", zipOf("xl/worksheets/sheet1.xml" ->
              s"""<worksheet><sheetData><row><c t="inlineStr"><is><t>$t</t></is></c></row></sheetData></worksheet>"""))
            case 2 => (s"$id.epub", zipOf("mimetype" -> "application/epub+zip",
              "OEBPS/ch1.xhtml" -> s"<html><body><p>$t</p></body></html>"))
            case _ => (s"$id.pptx", zipOf("ppt/slides/slide1.xml" ->
              s"<p:sld><p:txBody><a:p><a:r><a:t>$t</a:t></a:r></a:p></p:txBody></p:sld>"))
          }
          java.nio.file.Files.write(tmp.resolve(name), bytes)
        }
      graft.connectors.DirectoryReaderLite.toDf(s, tmp.toString + "/*.*")
        .select(
          regexp_extract(col("path"), "(\\d+)\\.(docx|xlsx|epub|pptx)$", 1)
            .cast("long").as("doc_id"),
          regexp_extract(col("path"), "\\.(docx|xlsx|epub|pptx)$", 1).as("fmt"),
          col("page"), md5(col("content")).as("content_md5"))
        .orderBy("doc_id")
    }),

    "sink_warc_segments" -> ((s, dir) => {
      // The distributed WET EXPORT path: corpus → range-partitioned
      // gzip-member segments (pinned WARC-Date + pinned gzip header:
      // re-export is byte-identical) → distributed read-back; per-doc
      // payload md5 must equal the corpus.
      import graft.connectors.WarcLite
      val tmp = java.nio.file.Files.createTempDirectory("graft_verify_wet")
      val d = read(s, dir, "documents").filter(col("doc_id") < 50)
        .withColumn("uri", concat(lit("http://docs/"), col("doc_id")))
      WarcLite.writeWetSegments(d, "doc_id", "uri", "text",
        tmp.toString, numSegments = 4, date = "2026-01-01T00:00:00Z")
      WarcLite.toDf(s, tmp.toString + "/*.warc.gz")
        .select(regexp_extract(col("target_uri"), "(\\d+)$", 1)
            .cast("long").as("doc_id"),
          md5(col("text")).as("content_md5"))
        .orderBy("doc_id")
    }),

    "stream_warc_ingest" -> ((s, dir) => withShufflePartitions(s, 8) {
      // Continuous crawl ingestion: gzip-member WARC segments LAND in a
      // directory across two real microbatches; the streaming twin of the
      // batch parser (same executor-side parse — they cannot drift) emits
      // every conversion record exactly once. Oracle: per-doc payload md5
      // equals the corpus.
      import graft.connectors.WarcLite
      import graft.connectors.WarcLite.WarcRecord
      val tmp = java.nio.file.Files.createTempDirectory("graft_stream_warc")
      val docs = read(s, dir, "documents").filter(col("doc_id") < 40)
        .select("doc_id", "text").orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      def seg(part: Array[(Long, String)]) =
        WarcLite.writeGzipMembers(part.map { case (id, t) =>
          WarcRecord("conversion", s"http://docs/$id",
            "2026-01-01T00:00:00Z", "text/plain", t.getBytes("UTF-8")) }.toSeq)
      java.nio.file.Files.write(tmp.resolve("seg-000.warc.gz"), seg(docs.take(20)))
      val sink = "stream_warc_sink"
      s.catalog.dropTempView(sink)
      val q = WarcLite.toStreamDf(s, tmp.toString)
        .select(regexp_extract(col("target_uri"), "(\\d+)$", 1)
            .cast("long").as("doc_id"),
          md5(col("text")).as("content_md5"))
        .writeStream.outputMode("append").format("memory")
        .queryName(sink).start()
      q.processAllAvailable()
      java.nio.file.Files.write(tmp.resolve("seg-001.warc.gz"), seg(docs.drop(20)))
      q.processAllAvailable(); q.stop()
      s.table(sink).orderBy("doc_id")
    }),

    "stream_crawl_pipeline" -> ((s, dir) => withShufflePartitions(s, 8) {
      // The flagship 100 TB workflow END TO END as ONE streaming query —
      // every stage individually gated, composed here because
      // composition is where cross-stage drift hides (the ccnet_pipeline
      // lesson): WARC segments land across two real microbatches →
      // DOM-density main-content extraction (the web_main_content
      // construction: pages built around corpus text must give back
      // exactly that text) → Gopher-style quality gate (Table-A1 rules;
      // the stopword floor is 1 rather than the published 2 because this
      // synthetic corpus averages 0.8 distinct hits — the published
      // composition itself is pinned by gopher_quality_filter) →
      // language route (pretrained char-ngram NB, the CCNet
      // lang_margin >= 2.0 confidence cut) → per-microbatch dedup
      // against the SAVED index (exact fingerprint + LSH near-dup,
      // batch 2 cleans against corpus ∪ batch-1 survivors) → survivors
      // append to the index through the exactly-once mark protocol. The
      // oracle replays the whole cascade batch-wise from scratch; the
      // final corpus id set must hash-match the streamed one.
      import graft.connectors.WarcLite
      import graft.connectors.WarcLite.WarcRecord
      val tmp = java.nio.file.Files.createTempDirectory("graft_stream_crawl")
      val idx = s"$tmp/idx"
      val d = read(s, dir, "documents").filter(col("doc_id") < 240)
      Dedup.saveDedupIndex(d.filter(col("doc_id") % 2 === 0),
        "text", "doc_id", idx)
      val langM = graft.operators.QualityClassifier.trainLangNB(
        read(s, dir, "documents"), "text", "lang")
      val docs = d.select("doc_id", "text").orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      def seg(part: Array[(Long, String)]) =
        WarcLite.writeGzipMembers(part.map { case (id, t) =>
          val html = "<html><head><style>body{margin:0}</style>" +
            "<script>var x='<p>decoy</p>';</script></head><body>" +
            "<nav><a href='/'>home</a> <a href='/about'>about this site</a>" +
            "</nav><div><a href='/1'>first sidebar link text</a> " +
            "<a href='/2'>second sidebar link with longer text padding " +
            "padding padding padding padding padding</a></div><p>" + t +
            "</p><div>short</div><footer><a href='/tos'>terms</a>" +
            "</footer></body></html>"
          WarcRecord("conversion", s"http://docs/$id",
            "2026-01-01T00:00:00Z", "text/html", html.getBytes("UTF-8"))
        }.toSeq)
      val warcDir = tmp.resolve("segments")
      java.nio.file.Files.createDirectories(warcDir)
      java.nio.file.Files.write(warcDir.resolve("seg-000.warc.gz"),
        seg(docs.filter(_._1 < 120)))
      val extracted = WarcLite.toStreamDf(s, warcDir.toString)
        .select(regexp_extract(col("target_uri"), "(\\d+)$", 1)
            .cast("long").as("doc_id"),
          TF.mainContent(col("text")).as("text"))
      val gopherStops = Seq("the", "be", "to", "of", "and", "that",
        "have", "with")
      val t = col("text")
      val qualityKeep =
        TF.tokenCount(t).cast("long").between(50L, 100000L) &&
          TF.meanWordLen(t).between(3.0, 10.0) &&
          TF.symbolWordRatio(t) <= 0.1 && TF.alphaWordFraction(t) >= 0.8 &&
          coalesce(TF.bulletLineFraction(t) <= 0.9, lit(true)) &&
          coalesce(TF.ellipsisLineFraction(t) <= 0.3, lit(true)) &&
          size(array_intersect(array_distinct(split(lower(trim(t)), "\\s+")),
            typedlit(gopherStops))).cast("long") >= 1L
      val routed = graft.operators.QualityClassifier.scoreLangNB(
          extracted.filter(qualityKeep), "text", langM)
        .filter(col("lang_margin") >= 2.0)
        .select("doc_id", "text")
      val q = routed.writeStream.outputMode("append")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          // Plan built per microbatch: the dedup reads the index as
          // grown by every PRIOR batch, and the survivors' append runs
          // the exactly-once mark protocol (an at-least-once foreachBatch
          // replay short-circuits on the content token).
          val survivors = Dedup.dropAgainstIndex(
            batch, "text", "doc_id", idx, threshold = 0.5)
          Dedup.appendToDedupIndex(survivors, "text", "doc_id", idx)
          ()
        }.start()
      q.processAllAvailable()
      java.nio.file.Files.write(warcDir.resolve("seg-001.warc.gz"),
        seg(docs.filter(_._1 >= 120)))
      q.processAllAvailable(); q.stop()
      graft.core.BatchCommit.readData(s, idx, "docs")
        .select(col("id").as("doc_id")).orderBy("doc_id")
    }),

    "stream_crawl_winnow" -> ((s, dir) => withShufflePartitions(s, 8) {
      // The quoted-passage stage INSIDE the streaming crawl loop — the
      // locality case whole-doc LSH provably misses (a 40-word quote
      // moves whole-set Jaccard by ~nothing, so dropAgainstIndex keeps
      // the quoting doc): the index is saved WITH winnow prints; each
      // microbatch LSH-dedups against the index as grown so far, then
      // screens survivors' passages against the SAME index
      // (flagPassagesAgainstIndex) and drops flagged quoters; clean
      // survivors append — prints included, from the sidecar params —
      // through the exactly-once mark protocol. Batch 1 plants quotes
      // from the INDEXED corpus (odd doc%10==1 quotes its even
      // neighbor); batch 2 plants the CROSS-BATCH case — doc%10==3
      // quotes its doc_id−120 sibling, a batch-1 survivor whose prints
      // exist in the index ONLY because batch 1 appended them. The
      // oracle replays both batches from scratch (LSH exclusion, then
      // the winnow print algebra vs the growing index); the final index
      // id set hash-matches.
      val tmp = java.nio.file.Files.createTempDirectory("graft_stream_winnow")
      val idx = s"$tmp/idx"
      val d = read(s, dir, "documents").filter(col("doc_id") < 240)
      Dedup.saveDedupIndex(d.filter(col("doc_id") % 2 === 0), "text",
        "doc_id", idx, winnowK = 5, winnowW = 4)
      val evens = d.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id").as("src_id"),
          array_join(slice(split(trim(col("text")), "\\s+"), 1, 40), " ")
            .as("quote"))
      val odds40 = d.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id").as("osrc_id"),
          array_join(slice(split(trim(col("text")), "\\s+"), 1, 40), " ")
            .as("oquote"))
      val planted = d.filter(col("doc_id") % 2 === 1)
        .join(evens, col("doc_id") - 1 === col("src_id"), "left")
        .join(odds40, col("doc_id") - 120 === col("osrc_id"), "left")
        .select(col("doc_id"),
          when(col("doc_id") % 10 === 1,
            concat(col("text"), lit(" "), col("quote")))
            .when(col("doc_id") % 10 === 3 && col("doc_id") >= 120 &&
              col("oquote").isNotNull,
              concat(col("text"), lit(" "), col("oquote")))
            .otherwise(col("text")).as("text"))
      val inDir = tmp.resolve("in")
      java.nio.file.Files.createDirectories(inDir)
      def writeBatch(name: String, lines: Array[String]): Unit =
        java.nio.file.Files.write(inDir.resolve(name),
          lines.mkString("\n").getBytes("UTF-8"))
      val stream = s.readStream.schema("doc_id LONG, text STRING")
        .json(inDir.toString)
      val q = stream.writeStream.outputMode("append")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val lsh = Dedup.dropAgainstIndex(batch, "text", "doc_id", idx,
            threshold = 0.5)
          val clean = Dedup.flagPassagesAgainstIndex(lsh, "text", "doc_id",
              idx, minShared = 2)
            .filter(col("passage_src").isNull)
            .select("doc_id", "text")
          Dedup.appendToDedupIndex(clean, "text", "doc_id", idx)
          ()
        }.start()
      writeBatch("b1.json",
        planted.filter(col("doc_id") < 120).orderBy("doc_id").collect()
          .map(r => s"""{"doc_id":${r.getLong(0)},"text":"${jsonEsc(r.getString(1))}"}"""))
      q.processAllAvailable()
      writeBatch("b2.json",
        planted.filter(col("doc_id") >= 120).orderBy("doc_id").collect()
          .map(r => s"""{"doc_id":${r.getLong(0)},"text":"${jsonEsc(r.getString(1))}"}"""))
      q.processAllAvailable(); q.stop()
      graft.core.BatchCommit.readData(s, idx, "docs")
        .select(col("id").as("doc_id")).orderBy("doc_id")
    }),

    "sink_tar_shards" -> ((s, dir) => {
      // WebDataset export end to end: docs → 4 POSIX ustar shards (txt +
      // json per sample, pinned headers) → distributed read-back → per-
      // sample md5 of BOTH modalities. GNU-tar interop is spec-pinned;
      // here the oracle pins that the bytes that came back out of the
      // tar containers are exactly the corpus bytes.
      import graft.connectors.TarShards
      val tmp = java.nio.file.Files.createTempDirectory("graft_verify_tar")
      val d = read(s, dir, "documents").filter(col("doc_id") < 50)
        .withColumn("key", format_string("%06d", col("doc_id")))
        .withColumn("meta", concat(lit("{\"doc_id\":"),
          col("doc_id").cast("string"), lit(",\"lang\":\""), col("lang"),
          lit("\"}")))
      TarShards.writeShards(d, "key",
        Map("txt" -> col("text"), "json" -> col("meta")),
        tmp.toString, numShards = 4)
      TarShards.readShards(s, tmp.toString + "/*.tar")
        .select(col("key").cast("long").as("doc_id"),
          md5(col("parts")("txt").cast("string")).as("txt_md5"),
          md5(col("parts")("json").cast("string")).as("json_md5"))
        .orderBy("doc_id")
    }),

    "source_warc" -> ((s, dir) => {
      // WARC/WET ingestion end to end and DISTRIBUTED: the corpus is
      // materialized as real ISO-28500 archives — a plain .warc of WET
      // conversion records and a CommonCrawl-layout .warc.gz (one gzip
      // member per record) whose first 10 docs ALSO appear as HTTP
      // response records — read back via binaryFile + the length-framed
      // executor-side parser; payload text is md5-pinned per record type.
      import graft.connectors.WarcLite
      import graft.connectors.WarcLite.WarcRecord
      val tmp = java.nio.file.Files.createTempDirectory("graft_verify_warc")
      val docs = read(s, dir, "documents").filter(col("doc_id") < 40)
        .select("doc_id", "text").orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      val conv = docs.map { case (id, t) =>
        WarcRecord("conversion", s"http://docs/$id", "2026-01-01T00:00:00Z",
          "text/plain", t.getBytes("UTF-8")) }
      val resp = docs.take(10).map { case (id, t) =>
        WarcRecord("response", s"http://docs/$id", "2026-01-01T00:00:00Z",
          "application/http; msgtype=response",
          ("HTTP/1.1 200 OK\r\nContent-Type: text/plain; charset=UTF-8\r\n\r\n" + t)
            .getBytes("UTF-8")) }
      java.nio.file.Files.write(tmp.resolve("wet0.warc"),
        WarcLite.writeRecords(conv.take(20).toSeq))
      java.nio.file.Files.write(tmp.resolve("seg1.warc.gz"),
        WarcLite.writeGzipMembers((conv.drop(20) ++ resp).toSeq))
      WarcLite.toDf(s, tmp.toString + "/*")
        .select(regexp_extract(col("target_uri"), "(\\d+)$", 1)
            .cast("long").as("doc_id"),
          col("warc_type"), md5(col("text")).as("content_md5"))
        .orderBy("doc_id", "warc_type")
    }),

    "source_dir_pdf" -> ((s, dir) => {
      // The DirectoryReader pdf path end to end and DISTRIBUTED: docs are
      // materialized as REAL single-page PDFs (PdfLite.writeSimplePdf —
      // valid xref'd PDF 1.4 with FlateDecode content streams), read back
      // via the binaryFile source + extractor dispatch on executors; the
      // Inflater + text-operator scan must reproduce the original text
      // (md5-pinned against the corpus).
      val tmp = java.nio.file.Files.createTempDirectory("graft_verify_pdf")
      read(s, dir, "documents").filter(col("doc_id") < 50)
        .select("doc_id", "text").collect().foreach { r =>
          java.nio.file.Files.write(
            tmp.resolve(s"${r.getLong(0)}.pdf"),
            graft.connectors.PdfLite.writeSimplePdf(Seq(r.getString(1))))
        }
      graft.connectors.DirectoryReaderLite.toDf(s, tmp.toString + "/*.pdf")
        .select(regexp_extract(col("path"), "(\\d+)\\.pdf$", 1)
            .cast("long").as("doc_id"),
          col("page"), md5(col("content")).as("content_md5"))
        .orderBy("doc_id")
    }),

    "sem_search_rerank" -> ((s, dir) => {
      // The n_rerank tail of sem_search: top-20 cosine candidates
      // re-ordered by the deterministic LexicalReranker (the in-env
      // cross-encoder stand-in; overlap/√len is exactly reproducible in
      // SQL), keep 5. The rank column pins the ORDER the reranker chose,
      // not just the surviving set.
      val docs = read(s, dir, "documents")
      val e = read(s, dir, "embeddings")
      val qv = e.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0)
      // The text rides in column "emb" (the rerank path reads the doc text
      // from c itself); its precomputed vector in vecCol("emb").
      val joined = docs.join(e, col("doc_id") === col("vec_id"))
        .select(col("doc_id"), col("text").as("emb"),
          col("embedding").as(EmbedOps.vecCol("emb")))
      val out = EmbedOps.semSearchVec(joined, "emb", qv, 20, scoreCol = "raw",
          tieBreak = Seq(col("doc_id")), nRerank = 5,
          queryText = Some("spark data pipeline"))
        .select("doc_id")
      // ≤5 driver-materialized rows: rank = reranked position.
      s.createDataFrame(
        out.rdd.zipWithIndex.map { case (r, i) =>
          org.apache.spark.sql.Row(r.getLong(0), i) },
        org.apache.spark.sql.types.StructType(out.schema.fields :+
          org.apache.spark.sql.types.StructField("rank",
            org.apache.spark.sql.types.LongType)))
    }),

    "web_main_content" -> ((s, dir) => {
      // DOM-density boilerplate removal (jusText family) at corpus scale:
      // pages are CONSTRUCTED around each doc's text with nav / link-
      // saturated sidebar / short / footer blocks and a script subtree,
      // and the block classifier must give back exactly the article text
      // — one narrow map over the corpus, zero UDFs, no collect. The
      // oracle is the corpus itself (construction-based, no formula
      // replay).
      val pages = read(s, dir, "documents")
        .filter(col("doc_id") < 40 && col("n_chars") >= 100)
        .select(col("doc_id"), concat(
          lit("<html><head><style>body{margin:0}</style>" +
            "<script>var x='<p>decoy</p>';</script></head><body>" +
            "<nav><a href='/'>home</a> <a href='/about'>about this site</a>" +
            "</nav><div><a href='/1'>first sidebar link text</a> " +
            "<a href='/2'>second sidebar link with longer text padding " +
            "padding padding padding padding padding</a></div><p>"),
          col("text"),
          lit("</p><div>short</div><footer><a href='/tos'>terms</a>" +
            "</footer></body></html>")).as("html"))
      pages.select(col("doc_id"),
          TF.mainContent(col("html")).as("text"))
        .orderBy("doc_id")
    }),

    "web_extract" -> ((s, dir) => {
      // webExtract end to end through the replay transport: pages built
      // around document text (tags, a style block, entities) must strip
      // back to exactly the whitespace-collapsed text.
      val ids = read(s, dir, "documents").filter(col("doc_id") < 30)
        .select("doc_id", "text").orderBy("doc_id").collect()
      val pages = ids.map(r => s"http://docs/${r.getLong(0)}" ->
        (s"<html><head><style>body{margin:0}</style></head><body>" +
          s"<h1>Title</h1><p>${xmlEsc(r.getString(1))}</p>&nbsp;</body></html>")).toMap
      val fetch: graft.connectors.WebSearchEngines.Fetch =
        (url, _, _) => pages(url)
      graft.connectors.WebSearchEngines.webExtract(
          s, ids.map(r => s"http://docs/${r.getLong(0)}").toSeq, fetch)
        .select(regexp_extract(col("url"), "(\\d+)$", 1).cast("long").as("doc_id"),
          col("text"))
    }),

    "source_path_formats" -> ((s, dir) => {
      // The format-dispatched path loader (the reference's load_from_s3
      // shape on any hadoop fs): the same 50 docs round-trip through CSV
      // (header + schema inference) and JSON lines, unioned with a format
      // tag — both branches must reproduce the table exactly.
      val tmp = java.nio.file.Files.createTempDirectory("graft_verify_paths").toString
      val d = read(s, dir, "documents").filter(col("doc_id") < 50)
        .select("doc_id", "lang", "text")
      d.coalesce(1).write.mode("overwrite").option("header", "true").csv(s"$tmp/c")
      d.coalesce(1).write.mode("overwrite").json(s"$tmp/j")
      d.coalesce(1).write.mode("overwrite").orc(s"$tmp/o")
      val csv = DataConnectors.loadPath(s, s"$tmp/c", "csv")
      val js = DataConnectors.loadPath(s, s"$tmp/j", "json")
      val orc = DataConnectors.loadPath(s, s"$tmp/o", "orc")
      csv.select(col("doc_id").cast("long").as("doc_id"), col("lang"),
          col("text"), lit("csv").as("fmt"))
        .unionByName(js.select(col("doc_id").cast("long").as("doc_id"),
          col("lang"), col("text"), lit("json").as("fmt")))
        .unionByName(orc.select(col("doc_id").cast("long").as("doc_id"),
          col("lang"), col("text"), lit("orc").as("fmt")))
    }),

    "source_jsonl_quarantine" -> ((s, dir) => {
      // Corrupt-record quarantine on JSONL ingestion — the WARC
      // quarantine's sibling on the other crawl interchange format,
      // expressed through Spark's NATIVE permissive mode (explicit
      // schema + columnNameOfCorruptRecord): 50 good docs round-trip,
      // three planted malformed lines (truncated object, bare garbage,
      // wrong-type field) surface as rows carrying the raw line with
      // typed fields null (doc_id survives where only ONE field was
      // uncastable — permissive keeps what parses), and NOTHING is
      // silently dropped. The oracle reconstructs the expected union
      // from the documents table plus the planted literals.
      val tmp = java.nio.file.Files.createTempDirectory("graft_jsonl_q").toString
      val d = read(s, dir, "documents").filter(col("doc_id") < 50)
        .select("doc_id", "lang", "text")
      d.coalesce(1).write.mode("overwrite").json(s"$tmp/j")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(tmp, "j", "part-corrupt.json"),
        ("""{"doc_id": 9001, "lang": "xx", "text": """ + "\n" +
          "not json at all\n" +
          """{"doc_id": "NaN-ish", "lang": "yy", "text": "t"}""" + "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("lang",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("_bad",
          org.apache.spark.sql.types.StringType)))
      s.read.schema(schema).option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .json(s"$tmp/j")
        .select(col("doc_id"), col("lang"),
          col("_bad").isNotNull.as("quarantined"),
          md5(coalesce(col("_bad"), lit(""))).as("bad_md5"))
        .orderBy(col("doc_id").asc_nulls_last, col("bad_md5"))
    }),

    // ------------- Structured Streaming surface as oracle gates ----------
    // (The FILE STREAM source requires a DIRECTORY; the test tables are
    // single parquet files, so streamDir symlinks one into a temp dir.)
    // The same parquet the batch gates read, replayed through a FILE
    // STREAM source into the real streaming operators and a memory sink:
    // one micro-batch delivers everything, so complete-mode aggregation
    // emits every window exactly once and the result is a plain frame the
    // oracle can hash — the streaming plan (watermark, stateful dedup,
    // foreachBatch sink) is what executed, not a batch stand-in.

    "stream_windowed_counts" -> ((s, dir) => withShufflePartitions(s, 8) {
      // windowedEventCounts over a streamed events table. value is
      // cents-scaled BEFORE the agg so the windowed sum is integral
      // (partition-order-independent); window start compares as epoch
      // seconds (pure epoch arithmetic on both engines, tz-free).
      // events.ts is TIMESTAMP_NTZ; watermarks need LTZ, so cast under a
      // pinned UTC session (matches DuckDB's naive-as-UTC epoch()).
      s.conf.set("spark.sql.session.timeZone", "UTC")
      val schema = s.read.parquet(s"$dir/events.parquet").schema
      val stream = s.readStream.schema(schema).parquet(streamDir(dir, "events"))
        .withColumn("ts", col("ts").cast("timestamp"))
        .withColumn("value", cents(col("value")))
      val agg = graft.streaming.StreamingOps.windowedEventCounts(
        stream, tsCol = "ts", window_ = "1 hour", watermark = "10 minutes")
      val sink = "stream_win_sink"
      s.catalog.dropTempView(sink)
      val q = agg.writeStream.outputMode("complete").format("memory")
        .queryName(sink).start()
      q.processAllAvailable(); q.stop()
      s.table(sink)
        .select(col("window.start").cast("long").as("w_start"),
          col("event_type"), col("n"), col("total_value"))
        .orderBy("w_start", "event_type")
    }),

    "stream_dedup_keys" -> ((s, dir) => withShufflePartitions(s, 8) {
      // streamingDedup (dropDuplicatesWithinWatermark state) over the
      // streamed events table. Which ROW survives per key is arrival-order
      // dependent, so the gate projects the key columns — the surviving
      // KEY SET is exact and equals DISTINCT. events.ts is TIMESTAMP_NTZ;
      // watermarks need LTZ, so cast under a pinned UTC session.
      s.conf.set("spark.sql.session.timeZone", "UTC")
      val schema = s.read.parquet(s"$dir/events.parquet").schema
      val stream = s.readStream.schema(schema).parquet(streamDir(dir, "events"))
        .withColumn("ts", col("ts").cast("timestamp"))
      val deduped = graft.streaming.StreamingOps.streamingDedup(
        stream, Seq("user_id", "event_type"), tsCol = "ts")
      val sink = "stream_dedup_sink"
      s.catalog.dropTempView(sink)
      val q = deduped.writeStream.outputMode("append").format("memory")
        .queryName(sink).start()
      q.processAllAvailable(); q.stop()
      s.table(sink).select("user_id", "event_type")
        .orderBy("user_id", "event_type")
    }),

    "stream_sessionize" -> ((s, dir) => withShufflePartitions(s, 8) {
      // Event-time gap sessionization (flatMapGroupsWithState under
      // EventTimeTimeout — the custom-state streaming API) through a REAL
      // two-batch stream: batch 1 delivers every event of the gate's
      // users, batch 2 a far-future sentinel whose watermark closes all
      // open sessions, so the emitted sessions equal the batch gap
      // sessionization the oracle computes. Deterministic: MemoryStream
      // batch boundaries are explicit, and value is cents-scaled BEFORE
      // the fold so per-session sums are integral (equal-ts reordering
      // cannot change them).
      implicit val sqlCtx = s.sqlContext
      import s.implicits._
      // events.ts is TIMESTAMP_NTZ; the Event model and the event-time
      // watermark need LTZ, so cast under a pinned UTC session (session
      // bounds then compare as DuckDB epoch_ms on the naive ts).
      s.conf.set("spark.sql.session.timeZone", "UTC")
      val rows = read(s, dir, "events").filter(col("user_id") < 50)
        .select(col("ts").cast("timestamp").as("ts"), col("user_id"),
          col("event_type"), cents(col("value")).cast("double").as("value"))
        .as[(java.sql.Timestamp, Long, String, Double)].collect()
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(java.sql.Timestamp, Long, String, Double)]
      val events = input.toDF().toDF("ts", "user_id", "event_type", "value")
        .withWatermark("ts", "0 seconds")
        .as[graft.streaming.StreamingOps.Event]
      val gapMs = 3600L * 1000
      val sessions = graft.streaming.StreamingOps.sessionizeEventTime(events, gapMs)
      val sink = "stream_sess_sink"
      val q = sessions.writeStream.outputMode("append").format("memory")
        .queryName(sink).start()
      input.addData(rows.toSeq)
      q.processAllAvailable()
      val maxTs = rows.iterator.map(_._1.getTime).max
      input.addData(Seq((new java.sql.Timestamp(maxTs + 10L * gapMs), -1L, "flush", 0.0)))
      q.processAllAvailable()
      q.stop()
      s.table(sink).filter(col("user_id") >= 0)
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("n_events"), col("total_value").cast("long").as("total_cents"))
        .orderBy("user_id", "session_start")
    }),

    "stream_sem_filter" -> ((s, dir) => {
      // sem_filter over a REAL file-stream source (beyond-reference — the
      // reference is batch-only): the streamed documents table flows
      // through the same serializer/prompt/postprocess plumbing as the
      // batch gate, and the oracle is literally sem_filter_kw's SQL —
      // stream ≡ batch semantics, proven on the wire.
      val schema = s.read.parquet(s"$dir/documents.parquet").schema
      Sem.withLM(FakeLM(FakeBehavior.KeywordFilter("spark"))) {
        val stream = s.readStream.schema(schema)
          .parquet(streamDir(dir, "documents"))
        val kept = graft.streaming.StreamingOps.semFilterStream(
          stream, "the {text} mentions a certain data engine")
        val sink = "stream_semf_sink"
        s.catalog.dropTempView(sink)
        val q = kept.writeStream.outputMode("append").format("memory")
          .queryName(sink).start()
        q.processAllAvailable(); q.stop()
        s.table(sink).orderBy("doc_id")
      }
    }),

    "stream_sem_map" -> ((s, dir) => {
      // sem_map over the same file-stream source; oracle = the batch
      // sem_map_first3 SQL. Stateless transform — no watermark, no state
      // store; the LLM call rides inside the micro-batch's mapPartitions.
      val schema = s.read.parquet(s"$dir/documents.parquet").schema
      Sem.withLM(FakeLM(FakeBehavior.FirstWords("Text", 3))) {
        val stream = s.readStream.schema(schema)
          .parquet(streamDir(dir, "documents"))
        val mapped = graft.streaming.StreamingOps.semMapStream(
          stream, "give the first three words of {text}")
        val sink = "stream_semm_sink"
        s.catalog.dropTempView(sink)
        val q = mapped.writeStream.outputMode("append").format("memory")
          .queryName(sink).start()
        q.processAllAvailable(); q.stop()
        s.table(sink).select(col("doc_id"), col("_map")).orderBy("doc_id")
      }
    }),

    "stream_neardup_drop" -> ((s, dir) => {
      // End-to-end STREAMING near-dedup (the incremental-crawl hot path):
      // the corpus half (even doc_ids) is indexed once; the incoming half
      // STREAMS through streamDropAgainstIndex — exact duplicates drop
      // in-stream via the fingerprint anti-join, near-dup CANDIDATES are
      // flagged by the Bloom band prefilter — and only flagged rows pay
      // the batch exact verify (dropAgainstIndex). The Bloom flag has no
      // false negatives (fpp bounds false POSITIVES only) AS LONG AS ALL
      // 16 bands are probed — the oracle identity also leans on batch
      // dropAgainstIndex using the same 16-band candidate join (band
      // recall 1.0 on this corpus), so degradeBands is pinned FALSE here:
      // if the Bloom budget ever can't fit all bands this gate fails
      // loudly instead of silently keeping rows the oracle drops. With
      // that, the kept set is exactly "not an exact dup and max-Jaccard
      // < 0.5 vs the corpus" — the definition the oracle computes from
      // scratch.
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_verify_streamdd").toString
      val d = read(s, dir, "documents")
      Dedup.saveDedupIndex(d.filter(col("doc_id") % 2 === 0),
        "text", "doc_id", s"$tmp/idx")
      d.filter(col("doc_id") % 2 === 1).write.parquet(s"$tmp/staging")
      val schema = s.read.parquet(s"$tmp/staging").schema
      val stream = s.readStream.schema(schema).parquet(s"$tmp/staging")
      val out = graft.streaming.StreamingOps.streamDropAgainstIndex(
        stream, "text", s"$tmp/idx", degradeBands = false)
      val sink = "stream_neardup_sink"
      s.catalog.dropTempView(sink)
      val q = out.writeStream.outputMode("append").format("memory")
        .queryName(sink).start()
      q.processAllAvailable(); q.stop()
      val arrived = s.table(sink)
      val clean = arrived.filter(!col("maybe_near_dup"))
      val verified = Dedup.dropAgainstIndex(
        arrived.filter(col("maybe_near_dup")).drop("maybe_near_dup"),
        "text", "doc_id", s"$tmp/idx")
      clean.select("doc_id").union(verified.select("doc_id"))
        .orderBy("doc_id")
    }),

    "stream_interval_join" -> ((s, dir) => withShufflePartitions(s, 8) {
      // Watermarked stream-stream interval join (clicks ⋈ views within the
      // preceding hour per user) through TWO file-stream sources and the
      // symmetric hash join — the bounded-state attribution join. One
      // micro-batch delivers both sides, inner pairs emit on match, and the
      // pair set equals the batch interval join the oracle runs.
      s.conf.set("spark.sql.session.timeZone", "UTC")
      val schema = s.read.parquet(s"$dir/events.parquet").schema
      def src = s.readStream.schema(schema).parquet(streamDir(dir, "events"))
        .withColumn("ts", col("ts").cast("timestamp"))
      val clicks = src.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("cts"))
      val views = src.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id").as("v_user_id"),
          col("ts").as("vts"))
      val joined = graft.streaming.StreamingOps.streamIntervalJoin(
        clicks, views, Seq("user_id"), Seq("v_user_id"), "cts", "vts",
        before = "1 hour", after = "0 seconds", watermark = "1 hour")
      val sink = "stream_ij_sink"
      s.catalog.dropTempView(sink)
      val q = joined.writeStream.outputMode("append").format("memory")
        .queryName(sink).start()
      q.processAllAvailable(); q.stop()
      s.table(sink).select("click_id", "view_id")
        .orderBy("click_id", "view_id")
    }),

    "ann_ivf_stream_ingest" -> ((s, dir) => {
      // Streaming ingestion growing a SAVED ANN index (the foreachBatch
      // sink with two-phase batch marks), then an exhaustive-probe search
      // over the grown index: base index on even vec_ids, odd vec_ids
      // STREAMED in — the result equals exact cosine top-k over ALL
      // vectors, so the streamed rows hash-verify alongside the originals.
      val tmp = java.nio.file.Files.createTempDirectory("graft_verify_ivfstream").toString
      val path = s"$tmp/idx"
      val e = read(s, dir, "embeddings")
      val qv = e.filter(col("vec_id") === 5).select("embedding")
        .head().getSeq[Float](0)
      val withVec = e.withColumnRenamed("embedding", EmbedOps.vecCol("emb"))
      val (indexed, model) = graft.embed.IvfIndex.build(
        withVec.filter(col("vec_id") % 2 === 0), "emb", nCells = 8)
      graft.embed.IvfIndex.save(indexed, model, "emb", "vec_id", path)
      indexed.unpersist()
      withVec.filter(col("vec_id") % 2 === 1).write.parquet(s"$tmp/staging")
      val schema = s.read.parquet(s"$tmp/staging").schema
      val stream = s.readStream.schema(schema).parquet(s"$tmp/staging")
      val q = graft.streaming.StreamingOps
        .streamAppendToIndex(stream, "emb", "vec_id", path)
        .option("checkpointLocation", s"$tmp/ckpt").start()
      q.processAllAvailable(); q.stop()
      val (loaded, lModel) = graft.embed.IvfIndex.load(s, path)
      graft.embed.IvfIndex.search(loaded, lModel, "emb", qv, k = 12, nProbe = 8,
          scoreCol = "raw", tieBreak = Seq(col("vec_id")))
        .orderBy(col("raw").desc, col("vec_id"))
        .select(col("vec_id"), round(col("raw"), 3).as("score"))
    }),

    "web_search_pubmed" -> ((s, dir) => {
      // The TWO-call engine chain (esearch JSON ids → efetch article XML)
      // through one dispatching replay transport; PMID/title/abstract/
      // authors/journal/doi recovery oracle-verified from the documents
      // table like the other engine gates.
      val docs = read(s, dir, "documents").filter(col("doc_id") < 8)
        .select("doc_id", "text", "lang").orderBy("doc_id").collect()
      val idList = docs.map(r => "\"" + r.getLong(0) + "\"").mkString(",")
      val articles = docs.map { r =>
        val words = wsNorm(r.getString(1)).split(" ")
        s"""  <PubmedArticle>
           |    <PMID>${r.getLong(0)}</PMID>
           |    <ArticleTitle>${xmlEsc(words.take(4).mkString(" "))}</ArticleTitle>
           |    <AbstractText>${xmlEsc(words.take(12).mkString(" "))}</AbstractText>
           |    <PubDate>2024</PubDate>
           |    <Author><ForeName>A</ForeName><LastName>${r.getString(2)}</LastName></Author>
           |    <Title>Journal of ${r.getString(2)}</Title>
           |    <ArticleId IdType="doi">10.1000/${r.getLong(0)}</ArticleId>
           |  </PubmedArticle>""".stripMargin
      }.mkString("\n")
      val fetch: graft.connectors.WebSearchEngines.Fetch = (url, _, _) =>
        if (url.contains("esearch.fcgi"))
          s"""{"esearchresult":{"idlist":[$idList]}}"""
        else
          "<?xml version=\"1.0\"?>\n<PubmedArticleSet>\n" + articles +
            "\n</PubmedArticleSet>"
      graft.connectors.WebSearchEngines.search(s,
          graft.connectors.WebSearchEngines.PubMed,
          Seq("corpus engineering"), k = 8, fetch = fetch)
        .select(col("id").cast("long").as("doc_id"), col("title"),
          col("abstract"), col("published"), col("authors"),
          col("journal"), col("doi"), col("query"))
    }),

    "web_search_google" -> ((s, dir) => {
      // The SerpApi JSON branch (arxiv covers the XML branch): canned
      // organic_results built from the documents table through the real
      // parser — position/title/link/snippet recovery plus null-field
      // handling (no date/author in the payload) oracle-verified.
      val docs = read(s, dir, "documents").filter(col("doc_id") < 10)
        .select("doc_id", "text").orderBy("doc_id").collect()
      val results = docs.zipWithIndex.map { case (r, i) =>
        val words = wsNorm(r.getString(1)).split(" ")
        s"""{"position":${i + 1},"title":"${jsonEsc(words.take(4).mkString(" "))}",
           |"link":"http://docs/${r.getLong(0)}",
           |"displayed_link":"docs/${r.getLong(0)}",
           |"snippet":"${jsonEsc(words.take(12).mkString(" "))}"}""".stripMargin
      }.mkString("""{"organic_results":[""", ",", "]}")
      val fetch: graft.connectors.WebSearchEngines.Fetch = (_, _, _) => results
      graft.connectors.WebSearchEngines.search(s,
          graft.connectors.WebSearchEngines.Google,
          Seq("corpus engineering"), k = 10, apiKey = "replay", fetch = fetch)
        .select(col("position"), col("title"), col("link"),
          col("displayed_link"), col("date"), col("author"),
          col("snippet"), col("query"))
    }),

    "web_search_arxiv" -> ((s, dir) => {
      // The web-search surface through the injectable transport: an arXiv
      // Atom feed BUILT FROM the documents table round-trips through the
      // real parser into the engine's column contract — entry extraction,
      // author concatenation, category terms, and id-from-link derivation
      // all oracle-verified relationally. Zero egress: the transport is
      // the replay convention, not a live endpoint.
      val docs = read(s, dir, "documents").filter(col("doc_id") < 10)
        .select("doc_id", "text", "lang").orderBy("doc_id").collect()
      val entries = docs.map { r =>
        val words = wsNorm(r.getString(1)).split(" ")
        s"""  <entry>
           |    <id>http://arxiv.org/abs/${r.getLong(0)}</id>
           |    <title>${xmlEsc(words.take(4).mkString(" "))}</title>
           |    <summary>${xmlEsc(words.take(12).mkString(" "))}</summary>
           |    <published>2024-01-01T00:00:00Z</published>
           |    <author><name>author_${r.getString(2)}</name></author>
           |    <category term="${r.getString(2)}"/>
           |  </entry>""".stripMargin
      }.mkString("\n")
      val feed = "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n" +
        s"<feed xmlns=\"http://www.w3.org/2005/Atom\">\n$entries\n</feed>"
      val fetch: graft.connectors.WebSearchEngines.Fetch = (_, _, _) => feed
      graft.connectors.WebSearchEngines.search(s,
          graft.connectors.WebSearchEngines.Arxiv,
          Seq("corpus engineering"), k = 10, fetch = fetch)
        .select(col("id").cast("long").as("doc_id"), col("title"),
          col("abstract"), col("authors"), col("categories"), col("query"))
    }),

    "web_search_scholar" -> ((s, dir) => {
      // GoogleScholar shares the SerpApi parser with Google, so what this
      // gate pins is the DISPATCH — the transport refuses any request not
      // carrying engine=google_scholar — plus the date/author fields the
      // google gate leaves null. Distinct fixture slice (doc_id 10..19) so
      // the two gates can't mask each other.
      val docs = read(s, dir, "documents")
        .filter(col("doc_id") >= 10 && col("doc_id") < 20)
        .select("doc_id", "text", "lang").orderBy("doc_id").collect()
      val results = docs.zipWithIndex.map { case (r, i) =>
        val words = wsNorm(r.getString(1)).split(" ")
        s"""{"position":${i + 1},"title":"${jsonEsc(words.take(4).mkString(" "))}",
           |"link":"http://docs/${r.getLong(0)}",
           |"displayed_link":"docs/${r.getLong(0)}",
           |"date":"2024","author":"A ${r.getString(2)}",
           |"snippet":"${jsonEsc(words.take(12).mkString(" "))}"}""".stripMargin
      }.mkString("""{"organic_results":[""", ",", "]}")
      val fetch: graft.connectors.WebSearchEngines.Fetch = (url, _, _) => {
        require(url.contains("engine=google_scholar"),
          s"scholar dispatch must request engine=google_scholar: $url")
        results
      }
      graft.connectors.WebSearchEngines.search(s,
          graft.connectors.WebSearchEngines.GoogleScholar,
          Seq("corpus engineering"), k = 10, apiKey = "replay", fetch = fetch)
        .select(col("position"), col("title"), col("link"),
          col("displayed_link"), col("date"), col("author"),
          col("snippet"), col("query"))
    }),

    "web_search_tavily" -> ((s, dir) => {
      // The JSON POST branch of the engine family (arxiv = XML GET,
      // google = JSON GET): the Tavily parser through the replay
      // transport, which REFUSES a GET — the gate hash-verifies that the
      // engine actually posts a body carrying the query. One result omits
      // its content field, pinning the missing→null contract.
      val docs = read(s, dir, "documents").filter(col("doc_id") < 10)
        .select("doc_id", "text").orderBy("doc_id").collect()
      val results = docs.map { r =>
        val words = wsNorm(r.getString(1)).split(" ")
        val content =
          if (r.getLong(0) == 3L) ""
          else s""","content":"${jsonEsc(words.take(12).mkString(" "))}""""
        s"""{"title":"${jsonEsc(words.take(4).mkString(" "))}",
           |"url":"http://docs/${r.getLong(0)}"$content}""".stripMargin
      }.mkString("""{"results":[""", ",", "]}")
      val fetch: graft.connectors.WebSearchEngines.Fetch = (_, _, body) => {
        val b = body.getOrElse(throw new IllegalStateException(
          "Tavily engine must POST a JSON body"))
        require(b.contains("\"corpus engineering\""),
          "POST body must carry the query")
        results
      }
      graft.connectors.WebSearchEngines.search(s,
          graft.connectors.WebSearchEngines.Tavily,
          Seq("corpus engineering"), k = 10, apiKey = "replay", fetch = fetch)
        .select(col("title"), col("url"), col("content"), col("query"))
    }),

    "web_search_you" -> ((s, dir) => {
      // The You.com engine: TWO result buckets (web + news) flattened in
      // bucket order, snippet ARRAYS newline-joined, and the news bucket
      // omitting description (missing→null) — all through the real parser
      // against the replay transport, oracle-rebuilt relationally.
      val docs = read(s, dir, "documents").filter(col("doc_id") < 10)
        .select("doc_id", "text").orderBy("doc_id").collect()
      def entry(r: org.apache.spark.sql.Row, withDesc: Boolean): String = {
        val words = wsNorm(r.getString(1)).split(" ")
        val snips = Seq(words.take(4).mkString(" "),
          words.slice(4, 8).mkString(" "))
        val desc =
          if (withDesc) s""","description":"${jsonEsc(words.take(6).mkString(" "))}""""
          else ""
        s"""{"title":"${jsonEsc(words.take(4).mkString(" "))}",
           |"url":"http://docs/${r.getLong(0)}",
           |"snippets":[${snips.map(x => "\"" + jsonEsc(x) + "\"").mkString(",")}]$desc}""".stripMargin
      }
      val (webDocs, newsDocs) = docs.partition(_.getLong(0) < 5)
      val feed =
        s"""{"results":{"web":[${webDocs.map(entry(_, withDesc = true)).mkString(",")}],
           |"news":[${newsDocs.map(entry(_, withDesc = false)).mkString(",")}]}}""".stripMargin
      val fetch: graft.connectors.WebSearchEngines.Fetch = (_, _, _) => feed
      graft.connectors.WebSearchEngines.search(s,
          graft.connectors.WebSearchEngines.You,
          Seq("corpus engineering"), k = 10, apiKey = "replay", fetch = fetch)
        .select(col("url"), col("title"), col("snippets"),
          col("description"), col("query"))
    }),

    "ann_qdrant_vs" -> ((s, dir) => {
      // The REMOTE vector-store surface, driver-verified: QdrantLikeVS
      // speaks the Qdrant REST contract (PUT collection, executor-side
      // batched upserts, POST points/search) against the in-process replay
      // server — the same request-build/response-parse code a live
      // endpoint exercises, zero egress. Exhaustive search, so the truth
      // is plain cosine top-k like every ANN gate.
      graft.embed.FakeQdrant.clear()
      val vs = graft.embed.QdrantLikeVS("http://fake", graft.embed.FakeQdrant.fetch)
      val e = read(s, dir, "embeddings")
      val qv = e.filter(col("vec_id") === 4).select("embedding")
        .head().getSeq[Float](0)
      vs.index(e, "vec_id", "embedding", "gate_q")
      vs.search(s, "gate_q", qv, 12)
        .orderBy(col("score").desc, col("id"))
        .select(col("id").as("vec_id"), round(col("score"), 3).as("score"))
    }),

    "ann_weaviate_vs" -> ((s, dir) => {
      // The Weaviate-contract sibling: schema create, deterministic-UUID
      // batch upserts, GraphQL nearVector search, and the distance →
      // similarity conversion — all through the replay transport.
      graft.embed.FakeWeaviate.clear()
      val vs = graft.embed.WeaviateLikeVS("http://fake", graft.embed.FakeWeaviate.fetch)
      val e = read(s, dir, "embeddings")
      val qv = e.filter(col("vec_id") === 4).select("embedding")
        .head().getSeq[Float](0)
      vs.index(e, "vec_id", "embedding", "GateW")
      vs.search(s, "GateW", qv, 12)
        .orderBy(col("score").desc, col("id"))
        .select(col("id").as("vec_id"), round(col("score"), 3).as("score"))
    }),

    "source_jdbc" -> ((s, dir) => {
      // The JDBC connector end to end through a REAL embedded database
      // (Derby ships with Spark): nation round-trips driver → Derby →
      // PARTITIONED JDBC read (4 range partitions on n_nationkey — the
      // parallel path; Spark refuses `query`+partitionColumn, which is
      // exactly the dbtable-subquery rewrite this gate protects). The
      // in-memory DB is one-JVM-visible — fine under local[n]; against a
      // remote server the same code parallelizes across executors.
      System.setProperty("derby.system.home", "/tmp")
      val url = "jdbc:derby:memory:graftjdbc;create=true"
      val conn = java.sql.DriverManager.getConnection(url)
      try {
        val st = conn.createStatement()
        try st.execute("DROP TABLE nation") catch { case _: java.sql.SQLException => () }
        st.execute("CREATE TABLE nation (n_nationkey BIGINT PRIMARY KEY, " +
          "n_name VARCHAR(64), n_regionkey BIGINT)")
        val ps = conn.prepareStatement("INSERT INTO nation VALUES (?, ?, ?)")
        read(s, dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
          .collect().foreach { r =>
            ps.setLong(1, r.getInt(0).toLong)
            ps.setString(2, r.getString(1))
            ps.setLong(3, r.getInt(2).toLong)
            ps.addBatch()
          }
        ps.executeBatch()
      } finally conn.close()
      DataConnectors.loadFromDb(s, url,
          "SELECT n_nationkey, n_name, n_regionkey FROM nation",
          partitionOn = Some(("n_nationkey", 0L, 32L, 4)))
        // Derby reports uppercase identifiers; realign with the oracle.
        .select(col("N_NATIONKEY").as("n_nationkey"),
          col("N_NAME").as("n_name"),
          col("N_REGIONKEY").as("n_regionkey"))
    }),

    "pipeline_saved" -> ((s, dir) => {
      // Pipeline save → load → run: the JSON-serialized SemPlan (semantic
      // filter + trailing classical filter) round-trips through disk, the
      // pushdown optimizer reorders the LOADED copy (classical predicate
      // below the LLM stage), and the result still hash-matches SQL — the
      // save/load surface graduates from spec-only to the oracle gate.
      Sem.withLM(FakeLM(FakeBehavior.KeywordFilter("spark"))) {
        val plan = graft.plan.SemPlan(Seq(
          graft.plan.SemFilterOp("the {text} mentions a certain data engine"),
          graft.plan.ClassicalFilter("lang IN ('en', 'de')")))
        val path = java.nio.file.Files.createTempDirectory("graft_verify_plan")
          .resolve("plan.json").toString
        graft.plan.SemPlan.save(plan, path)
        val loaded = graft.plan.SemPlan.load(path).optimized
        loaded.run(read(s, dir, "documents"))
          .groupBy("lang").agg(count(lit(1)).as("n_docs"))
          .orderBy("lang")
      }
    }),

    "pipeline_agentic" -> ((s, dir) => {
      // The agentic corpus pipeline (map → filter over Dataset[CorpusUnit],
      // one agent loop per shard inside executor tasks) under a scripted
      // deterministic completer whose semantics are SQL-expressible — so
      // the full plumbing (corpus model, shard prompt assembly, agent loop,
      // batched-verdict JSON parse, KEEP filtering) is hash-verified.
      import s.implicits._
      val docs = read(s, dir, "documents").filter(col("doc_id") < 40)
        .select(col("doc_id").cast("string").as("id"), col("text"))
        .as[(String, String)].map { case (i, c) => graft.agentic.CorpusUnit(i, c) }
      val mapped = graft.agentic.Pipeline.agenticMap(docs,
        "Rewrite each unit as whitespace-collapsed uppercase.", ScriptedPipelineCompleter)
      val kept = graft.agentic.Pipeline.agenticFilter(mapped,
        "Keep only units with at least 150 characters.", ScriptedPipelineCompleter,
        shardSize = 4)
      kept.toDF().select(col("id").cast("long").as("doc_id"), col("content"))
        .orderBy("doc_id")
    }),

    "pipeline_agentic_reduce" -> ((s, dir) => {
      // The terminal agentic reduce over the same map → filter output: the
      // scripted reducer emits "UNITS=<n> CHARS=<Σ finding lengths>" — a
      // pure function of the surviving unit multiset (findings join in
      // unit-id order), so the FULL map → filter → reduce chain, including
      // the driver-side reduce prompt assembly and agent call, is
      // hash-verified against SQL.
      import s.implicits._
      val docs = read(s, dir, "documents").filter(col("doc_id") < 40)
        .select(col("doc_id").cast("string").as("id"), col("text"))
        .as[(String, String)].map { case (i, c) => graft.agentic.CorpusUnit(i, c) }
      val mapped = graft.agentic.Pipeline.agenticMap(docs,
        "Rewrite each unit as whitespace-collapsed uppercase.", ScriptedPipelineCompleter)
      val kept = graft.agentic.Pipeline.agenticFilter(mapped,
        "Keep only units with at least 150 characters.", ScriptedPipelineCompleter,
        shardSize = 4)
      val out = graft.agentic.Pipeline.agenticReduce(kept,
        "Summarize the findings.", ScriptedPipelineCompleter)
      Seq(out).toDF("final")
    }),

    "q10_rollup" -> ((s, dir) => {
      // OLAP subtotal surface: ROLLUP over region → nation. Subtotal rows'
      // null group keys are coalesced to a sentinel BOTH engines render
      // identically (a raw NULL stringifies differently in the compare).
      val li = read(s, dir, "lineitem")
      val o = read(s, dir, "orders")
      val c = read(s, dir, "customer")
      val n = read(s, dir, "nation")
      val r = read(s, dir, "region")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .select(col("r_name"), col("n_name"),
          cents(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("__cents"))
        // Rollup via SQL: Dataset.rollup over join-tagged columns trips the
        // DetectAmbiguousSelfJoin false positive (the dataset-id tags ride
        // the attribute metadata into rollup's Expand); the SQL path
        // resolves by name and lowers to the identical Expand + Aggregate.
        .createOrReplaceTempView("q10_rollup_src")
      s.sql(
        """SELECT coalesce(r_name, '(all)') AS r_name,
          |  coalesce(n_name, '(all)') AS n_name,
          |  sum(__cents) AS revenue_c, count(*) AS n_rows
          |FROM q10_rollup_src
          |GROUP BY ROLLUP (r_name, n_name)
          |ORDER BY r_name, n_name""".stripMargin)
    }),

    "q11_percentiles" -> ((s, dir) => {
      // EXACT interpolated percentiles on integer cents: Spark's
      // percentile() and DuckDB's quantile_cont share the linear-
      // interpolation definition, and interpolating between integers is
      // IEEE-exact — so the hash matches at round-2. Scale note: exact
      // percentile sorts per group; at 100 TB reach for approx_percentile
      // (t-digest) instead — this gate pins the exact tier's semantics.
      read(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
          round(expr("percentile(CAST(round(o_totalprice*100) AS BIGINT), 0.5)"), 2).as("p50_c"),
          round(expr("percentile(CAST(round(o_totalprice*100) AS BIGINT), 0.95)"), 2).as("p95_c"))
        .orderBy("o_orderpriority")
    }),

    "q11_approx_percentiles" -> ((s, dir) => {
      // The SCALE tier of q11: approx_percentile (Greenwald-Khanna summary
      // — one pass, bounded memory, no per-group sort) with its rank
      // guarantee ENCODED as gated booleans. No SQL engine pins the
      // sketch's raw value, so the gate verifies the guarantee instead: the
      // returned value's exact rank interval (computed by a second narrow
      // pass over the same scan) must overlap the target rank ±(n/accuracy
      // + 1). Deterministically true for a correct sketch, false for a
      // broken one — hash-stable either way. At 100 TB this is the
      // percentile tier you run; q11_percentiles pins the exact tier.
      val acc = 10000
      val o = read(s, dir, "orders")
        .select(col("o_orderpriority"),
          expr("CAST(round(o_totalprice*100) AS BIGINT)").as("c"))
      val ap = o.groupBy("o_orderpriority").agg(
        expr(s"approx_percentile(c, 0.5, $acc)").as("a50"),
        expr(s"approx_percentile(c, 0.95, $acc)").as("a95"),
        count(lit(1)).as("n"))
      val ranks = o.join(broadcast(ap), "o_orderpriority")
        .groupBy(col("o_orderpriority"), col("n"), col("a50"), col("a95"))
        .agg(
          sum(when(col("c") < col("a50"), 1L).otherwise(0L)).as("lt50"),
          sum(when(col("c") <= col("a50"), 1L).otherwise(0L)).as("le50"),
          sum(when(col("c") < col("a95"), 1L).otherwise(0L)).as("lt95"),
          sum(when(col("c") <= col("a95"), 1L).otherwise(0L)).as("le95"))
      def within(p: Double, lt: org.apache.spark.sql.Column,
          le: org.apache.spark.sql.Column) = {
        val tol = col("n").cast("double") / acc + 1.0
        val target = col("n").cast("double") * p
        // value's rank interval is [lt+1, le]; require overlap with
        // [target - tol, target + tol]
        !(le < target - tol || (lt + lit(1L)) > target + tol)
      }
      ranks.select(col("o_orderpriority"), col("n"),
        within(0.5, col("lt50"), col("le50")).as("p50_within_tol"),
        within(0.95, col("lt95"), col("le95")).as("p95_within_tol"))
        .orderBy("o_orderpriority")
    }),

    "q12_approx_distinct" -> ((s, dir) => {
      // The distinct-count SCALE tier: approx_count_distinct (HLL++, one
      // pass, fixed sketch memory per group — exact countDistinct keeps
      // every key as aggregation state) with its error guarantee encoded
      // as a gated boolean against the exact pass, which itself pins
      // exact-distinct semantics vs DuckDB. HLL++ is hash-based and
      // rng-free, so the boolean is deterministic for a given corpus;
      // tolerance 4×rsd + 1 sits far beyond the 1σ relative error.
      val rsd = 0.02
      read(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(countDistinct(col("o_custkey")).as("n_cust"),
          approx_count_distinct(col("o_custkey"), rsd).as("__approx"))
        .select(col("o_orderpriority"), col("n_cust"),
          (abs(col("__approx") - col("n_cust")).cast("double") <=
            col("n_cust").cast("double") * (4 * rsd) + 1.0).as("approx_within_tol"))
        .orderBy("o_orderpriority")
    }),

    "join_salted" -> ((s, dir) => {
      // The explicit skew lever, oracled for SEMANTICS: an 8-way salted
      // inner equi-join must equal the plain join — the salt only reroutes
      // rows across reducers (lineitem plays the skewed side, orders the
      // replicated dim). SkewMediaSpec pins the distribution behavior; this
      // gate pins that salting never changes the result.
      val li = read(s, dir, "lineitem")
        .select(col("l_orderkey").as("o_orderkey"),
          col("l_extendedprice"), col("l_discount"))
      val o = read(s, dir, "orders").select("o_orderkey", "o_orderpriority")
      graft.operators.Skew.saltedEquiJoin(li, o, "o_orderkey")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue_c"))
        .orderBy("o_orderpriority")
    }),

    "agg_skew_distinct" -> ((s, dir) => {
      // Skew-safe COUNT(DISTINCT): the two-shuffle rewrite (distinct on
      // (key, value), then a partial-aggregated count on the key) must
      // equal the naive countDistinct — the rewrite only reroutes shuffle
      // traffic away from the hot key's reducer. The gate computes BOTH
      // routes and requires set equality before emitting the skew-safe one.
      val e = read(s, dir, "events")
      val safe = graft.operators.Skew.skewSafeDistinctCount(
        e, Seq("event_type"), "user_id", alias = "n_users")
      val naive = e.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_users"))
      requireSameRows(safe, naive,
        "skewSafeDistinctCount diverged from countDistinct")
      safe.orderBy("event_type")
    }),

    "zorder_value" -> ((s, dir) => {
      // The Morton clustering key over (ts, user_id): linear min/max
      // quantization to 8 bits per dimension + bit interleave — every step
      // exact double/integer arithmetic, so DuckDB reproduces the key
      // bit-for-bit. This is the sort key writeCorpus(zOrderBy=...) lays
      // files out by; hashing it end to end pins quantization bounds,
      // clamping, and the interleave pattern.
      s.conf.set("spark.sql.session.timeZone", "UTC")
      val e = read(s, dir, "events")
        .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
      graft.functions.ZOrder.withZValue(e, Seq("ts_us", "user_id"),
          bits = 8, outCol = "zval")
        .select(col("event_id"), col("zval"))
        .orderBy("event_id")
    }),

    "corpus_compact" -> ((s, dir) => {
      // The small-files answer for INGESTED data: fragment documents into
      // 32 shuffle-sized files (what a streaming sink or over-parallel
      // writer leaves), compact into the layout-aware form, assert the
      // file-count collapse, and hash-verify the compacted corpus —
      // compaction must be byte-lossless.
      val tmp = java.nio.file.Files.createTempDirectory("graft_compact").toString
      val frag = s"$tmp/frag"
      val dest = s"$tmp/compacted"
      read(s, dir, "documents").repartition(32).write.parquet(frag)
      val (before, after, _) = CorpusPrep.compact(s, frag, dest,
        Seq("lang"), 256, 1, Seq("doc_id"))
      require(before >= 32, s"fragmentation setup wrote only $before files")
      require(after < before && after <= 8,
        s"compaction must collapse $before files to ≤1 per lang partition, got $after")
      s.read.parquet(dest).select("doc_id", "lang", "source", "n_chars", "text")
        .orderBy("doc_id")
    }),

    "corpus_merge_evolve" -> ((s, dir) => {
      // Schema-evolution read: snapshot 0 carries an early three-column
      // crawl schema, snapshot 1 the full later schema — written as two
      // REAL parquet directories with different footers, then merged by
      // column name with the missing columns null-filled
      // (CorpusPrep.mergeSnapshots). The oracle reconstructs the null-fill
      // from the id parity that routed rows to snapshots.
      val tmp = java.nio.file.Files.createTempDirectory("graft_evolve").toString
      val d = read(s, dir, "documents")
      d.filter(col("doc_id") % 2 === 0)
        .select("doc_id", "lang", "text").write.parquet(s"$tmp/snap0")
      d.filter(col("doc_id") % 2 === 1)
        .select("doc_id", "lang", "source", "n_chars", "text")
        .write.parquet(s"$tmp/snap1")
      CorpusPrep.mergeSnapshots(s, Seq(s"$tmp/snap0", s"$tmp/snap1"))
        .select("doc_id", "lang", "source", "n_chars", "text")
        .orderBy("doc_id")
    }),

    "sample_reservoir_key" -> ((s, dir) => {
      // Deterministic per-key reservoir: 5 docs per language, ranked by
      // md5("r8|" || doc_id) — membership is a pure function of (salt, id),
      // so DuckDB reproduces the exact sample; WindowGroupLimit bounds the
      // shuffle at k rows per key per map task.
      CorpusPrep.reservoirByKey(read(s, dir, "documents"), "lang", "doc_id",
          k = 5, salt = "r8")
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }),

    "split_train_holdout" -> ((s, dir) => {
      // Deterministic 80/10/10 train/val/test assignment from the shared
      // md5(salt|key) membership hash — a pure per-row expression, stable
      // as the corpus grows (new rows never move old ones between splits).
      // The oracle mirrors the cumulative hex cuts exactly.
      CorpusPrep.assignSplits(read(s, dir, "documents"), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "split")
        .select("doc_id", "split")
        .orderBy("doc_id")
    }),

    "split_leakage_safe" -> ((s, dir) => {
      // Leakage-safe splitting: near-dup CLUSTERS are the split unit —
      // the train/eval contamination guard (a near-duplicate of a
      // holdout doc left in train leaks the eval; the GPT-3 report's
      // appendix documents exactly this failure). Every doc inherits its
      // duplicate-cluster representative's md5(salt|rep) draw, so a
      // cluster can NEVER straddle the split; singletons split exactly
      // like split_train_holdout. Same pair math as dedup_minhash
      // (pinned bands = 16), same component-min rep as dedup_clusters,
      // same hex-cut membership as split_train_holdout — the oracle
      // composes all three.
      // The shared-graph composition: ONE pair frame feeds the split (and
      // would feed dropDuplicatesByPairs in the same pipeline), so the
      // cluster unit and the dedup unit cannot drift — the auto-tier
      // stability of that sharing is spec-pinned (CorpusPrepSpec); the
      // gate pins the bands = 16 geometry for the oracle.
      val d = read(s, dir, "documents")
      val pairs = Dedup.minhashPairs(d, "text", "doc_id", threshold = 0.5,
        bands = 16)
      CorpusPrep.leakageSafeSplits(d.select(col("doc_id")), "doc_id", pairs,
          Seq("train" -> 0.9, "holdout" -> 0.1), salt = "lsafe")
        .select("doc_id", "rep_id", "split").orderBy("doc_id")
    }),

    "corpus_budget_select" -> ((s, dir) => {
      // "Assemble the best 10k-token corpus": histogram-threshold
      // selection over a rounded quality score — equivalent to the flat
      // ORDER BY quality DESC, doc_id cumulative-sum cut (the oracle), but
      // executed as one narrow histogram + a pure filter, with only the
      // boundary score bucket paying an ordered window.
      val d = read(s, dir, "documents")
        .withColumn("q", round(TF.qualityScore(col("text")), 2))
        .withColumn("n_tok", TF.tokenCount(col("text")).cast("long"))
      CorpusPrep.selectByTokenBudget(d, "q", "n_tok", "doc_id", budget = 10000L)
        .select("doc_id", "q", "n_tok")
        .orderBy("doc_id")
    }),

    "corpus_shard_tokens" -> ((s, dir) => {
      // Token-balanced export shards: every doc takes the shard its
      // cumulative START offset falls in (runningTotal's
      // range-partitioned prefix sum — never a corpus-wide window), so
      // docs never split and each shard's token sum lands within one
      // max-doc of the 5000-token budget. Exact integer running sums
      // replay in the oracle's ordered window.
      val d = read(s, dir, "documents")
        .withColumn("n_tok", TF.tokenCount(col("text")).cast("long"))
      CorpusPrep.shardByTokenBudget(d, "doc_id", col("n_tok"),
          tokensPerShard = 5000L)
        .select(col("doc_id"), col("n_tok"), col("shard"))
        .orderBy("doc_id")
    }),

    "corpus_quantiles_group" -> ((s, dir) => {
      // Per-language length quantiles from the deterministic per-key
      // reservoir (64 smallest md5(salt|id) per lang — the
      // sample_reservoir_key convention), nearest-rank picks over the
      // bounded per-group samples. The per-slice corpus-monitoring read.
      val d = read(s, dir, "documents")
      CorpusPrep.sampleQuantilesByGroup(d, "lang", "n_chars", "doc_id",
          probs = Seq(0.5, 0.9), kPerGroup = 64, salt = "qg12")
        .select(col("lang"), col("prob"),
          col("value").cast("long").as("value"),
          col("sample_rank"), col("sample_n"))
        .orderBy("lang", "prob")
    }),

    "corpus_quantiles_sample" -> ((s, dir) => {
      // Deterministic-sample quantiles — the one-pass p50/p90/p99 for
      // high-cardinality columns where the exact histogram route
      // (corpus_score_pctrank) would blow its distinct cap. The sample
      // is the 256 smallest md5(salt|id) rows (pure function of ids —
      // hash-checkable where a t-digest/KLL sketch, whose merge order
      // follows partitioning, never is); each quantile is the
      // nearest-rank pick over the sample sorted by (value, id). The
      // oracle replays the same draw, rank and pick.
      val d = read(s, dir, "documents")
      CorpusPrep.sampleQuantiles(d, "n_chars", "doc_id",
          probs = Seq(0.1, 0.5, 0.9, 0.99), sampleK = 256, salt = "q12")
        .select(col("prob"), col("value").cast("long").as("value"),
          col("sample_rank").cast("long").as("sample_rank"),
          col("sample_n"))
        .orderBy("prob")
    }),

    "corpus_release_pipeline" -> ((s, dir) => {
      // The release-cut pipeline as ONE plan over this round's operators:
      // exact dedup keeping the HIGHEST-QUALITY member per fingerprint
      // group (longest text, tie min id — the keep-best policy), then
      // deterministic 90/10 train/holdout assignment, then per-(lang,
      // split) doc and token counts. Every stage native; composition
      // oracle-checked end to end.
      val d = read(s, dir, "documents")
      val ranked = d.withColumn("__fp", TF.fingerprint(col("text")))
        .withColumn("__rn", row_number().over(
          Window.partitionBy(col("__fp"))
            .orderBy(col("n_chars").desc, col("doc_id"))))
        .filter(col("__rn") === 1).drop("__fp", "__rn")
      CorpusPrep.assignSplits(ranked, "doc_id",
          Seq("train" -> 0.9, "holdout" -> 0.1), salt = "rel")
        .withColumn("n_tok", TF.tokenCount(col("text")))
        .groupBy("lang", "split")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok").cast("long")).as("sum_tok"))
        .orderBy("lang", "split")
    }),

    "corpus_fineweb_recipe" -> ((s, dir) => {
      // The FULL published batch release recipe composed as ONE plan —
      // the FineWeb/RefinedWeb shape (arXiv 2406.17557 / 2306.01116)
      // run end to end where the per-stage gates pin each operator
      // alone: url dedup → PSL registrable-domain cap → Gopher/C4
      // quality → CCNet lang-NB route → minhash dedup (recall-aware
      // auto bands) → ExactSubstr strip → n-gram decontamination vs an
      // eval set → leakage-safe splits on the SAME pair graph the dedup
      // used → token-balanced shards. Composition is where cross-stage
      // drift hides: the lang NB and every threshold recompute on
      // exactly what upstream left behind, and the oracle replays all
      // nine stages from scratch over the same shrinking corpora.
      // Plants (both engines): the 31-word warranty span on doc%7
      // (makes ExactSubstr live and pushes some docs over the Gopher
      // word floor — a deliberate cross-stage interaction), a curly
      // brace on doc%9 and a lorem-ipsum line on doc%11 (the C4 page
      // rules), URL variants where doc%20 ∈ {0,1} pairs collide after
      // normalization (url dedup) while every row exercises the
      // normalizer (case/port/fragment/utm/param-order decorations by
      // doc%4), and doc%19 == 1 docs take their lower neighbor's text
      // (+ a tail marker) and lang — near-dup pairs that survive the
      // funnel TOGETHER so the minhash stage provably bites.
      val span = "this document is provided as is without warranty of any " +
        "kind either express or implied including but not limited to the " +
        "implied warranties of merchantability and fitness for a " +
        "particular purpose"
      val d0raw = read(s, dir, "documents")
      val shifted = d0raw.select((col("doc_id") + 1).as("doc_id"),
        col("text").as("__ntext"), col("lang").as("__nlang"))
      val d0 = d0raw.join(shifted, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("doc_id") % 19 === 1 && col("__ntext").isNotNull,
            col("__nlang")).otherwise(col("lang")).as("lang"),
          when(col("doc_id") % 19 === 1 && col("__ntext").isNotNull,
            concat(col("__ntext"), lit(" near dup tail marker")))
            .otherwise(col("text")).as("text"))
      val base = d0.select(col("doc_id"), col("lang"),
        concat(col("text"),
          when(col("doc_id") % 7 === 0, lit(" " + span)).otherwise(lit("")),
          when(col("doc_id") % 9 === 0, lit(" template { artifact"))
            .otherwise(lit("")),
          when(col("doc_id") % 11 === 0, lit(" lorem ipsum dolor placeholder"))
            .otherwise(lit(""))).as("t2"),
        when(col("doc_id") % 20 === 1, col("doc_id") - 1)
          .otherwise(col("doc_id")).as("__pid"))
      // Stage 1: synthesized crawl URLs (skewed domains — freq(dom = k)
      // ∝ 2k+1 — so the cap below bites the heavy tail like a real SEO
      // domain), urlNormalize, keep the min doc per normal form.
      val dom = floor(sqrt((col("__pid") % 100).cast("double"))).cast("long")
      val host = concat(
        element_at(typedlit(Seq("www.", "blog.", "shop.", "")),
          ((col("__pid") / 20).cast("long") % 4).cast("int") + 1),
        lit("site"), dom.cast("string"),
        when(dom % 3 === 2, lit(".co.uk")).otherwise(lit(".com")))
      val path = concat(lit("/p"), col("__pid").cast("string"))
      val v = col("doc_id") % 4
      val url = when(v === 0,
          concat(lit("http://"), host, path, lit("?b=2&a=1")))
        .when(v === 1, concat(lit("HTTP://"), upper(host), lit(":80"),
          path, lit("?a=1&b=2#frag")))
        .when(v === 2, concat(lit("http://"), host, lit(":80"), path,
          lit("?utm_source=x&a=1&b=2")))
        .otherwise(concat(lit("http://"), host, path,
          lit("?a=1&fbclid=zz&b=2")))
      val withUrl = base.withColumn("__url", url)
      val keep1 = withUrl
        .select(graft.functions.UrlExpr.urlNormalize(col("__url"))
          .as("__norm"), col("doc_id"))
        .groupBy("__norm").agg(min("doc_id").as("doc_id"))
      val s1 = withUrl.join(keep1.select("doc_id"), Seq("doc_id"))
      // Stage 2: registrable-domain cap at the even-share quota
      // ceil(n/|domains|) — data-dependent, so the stage stays
      // proportionally live at every scale (a literal cap tuned at
      // sf0.01 would either starve or no-op elsewhere). The PSL chain
      // runs once over the staged frame; the two counts are driver
      // scalars the oracle recomputes.
      val withDom = graft.core.Persist.stage(
        CorpusPrep.withRegistrableDomain(s1, "__url", "domain"))
      // Both driver scalars in ONE aggregate job over the staged frame
      // (was a count job plus a distinct().count() job).
      val cRow = withDom.agg(count(lit(1)), count_distinct(col("domain"))).head()
      val (n1, nDom) = (cRow.getLong(0), cRow.getLong(1))
      val quota = math.ceil(n1.toDouble / nDom.toDouble).toInt
      val s2 = CorpusPrep.quotaPerGroup(withDom, "domain", "doc_id", quota)
      // Stage 3: Gopher page rules (the Table-A1 subset live on this
      // corpus — word count, mean word length, symbol ratio, alpha
      // fraction; the line rules and stopword rule are pinned by
      // gopher_quality_filter on its reshaped adapter) + C4's page
      // rules (lorem ipsum, curly bracket — planted above). Signals
      // staged once, filtered after (the ccnet_pipeline discipline:
      // a filter on live kernel lineage re-evaluates per predicate).
      val sig = graft.core.Persist.stage(s2.select(col("doc_id"),
        col("lang"), col("t2"), col("domain"),
        TF.tokenCount(col("t2")).cast("long").as("__nw"),
        TF.meanWordLen(col("t2")).as("__mwl"),
        TF.symbolWordRatio(col("t2")).as("__sym"),
        TF.alphaWordFraction(col("t2")).as("__alpha")))
      val s3 = sig.filter(col("__nw").between(50L, 100000L) &&
          col("__mwl").between(3.0, 10.0) && col("__sym") <= 0.1 &&
          col("__alpha") >= 0.8 &&
          !lower(col("t2")).contains("lorem ipsum") &&
          !col("t2").contains("{"))
        .select("doc_id", "lang", "t2", "domain")
      // Stage 4: the CCNet lang route — NB REFIT on the stage-3
      // survivors, keep agreeing high-margin docs (ccnet_pipeline's
      // stage 2, retrained on this pipeline's corpus).
      val langM = graft.operators.QualityClassifier.trainLangNB(
        s3, "t2", "lang")
      val s4 = graft.core.Persist.stage(
          graft.operators.QualityClassifier.scoreLangNB(s3, "t2", langM))
        .filter(col("lang_pred") === col("lang") &&
          col("lang_margin") >= 1.0)
        .select("doc_id", "lang", "t2", "domain")
      // Stage 5: minhash dedup through the PRODUCTION auto-band route
      // (bounded estimator, targetRecall = 1.0). The pair frame is
      // staged because the leakage-safe split REUSES it — the
      // shared-graph contract: dedup unit ≡ split unit.
      val pairs = graft.core.Persist.stage(Dedup.minhashPairs(
        s4, "t2", "doc_id", threshold = 0.5, targetRecall = 1.0))
      val s5 = Dedup.dropDuplicatesByPairs(s4, "doc_id", pairs)
      // Stage 6: ExactSubstr strip (Lee et al. 2022) of cross-doc
      // ≥25-word spans — the planted warranty span, still shared among
      // the stage-5 SURVIVORS, must come out of each of them.
      val s6 = Dedup.exactSubstrClean(s5, "t2", "doc_id",
        minMatchWords = 25)
      // Stage 7: n-gram decontamination of the CLEANED text against
      // the eval set (every 20th RAW doc): a doc whose span was just
      // stripped no longer flags on the span an eval doc carries — a
      // cross-stage interaction only the composition pins.
      val evalSet = base.filter(col("doc_id") % 20 === 0)
        .select("doc_id", "t2")
      val s7 = Decontaminate.flagContaminated(s6, "doc_id", "clean_text",
          evalSet, "t2", n = 5)
        .filter(!col("contaminated"))
      // Stages 8–9: leakage-safe split on the SAME pair graph, then
      // token-balanced shards over the release in id order.
      val splits = CorpusPrep.leakageSafeSplits(s7.select("doc_id"),
        "doc_id", pairs, Seq("train" -> 0.9, "holdout" -> 0.1),
        salt = "fineweb")
      val withTok = s7.join(splits.select("doc_id", "split"), Seq("doc_id"))
        .withColumn("n_tok", TF.tokenCount(col("clean_text")).cast("long"))
      CorpusPrep.shardByTokenBudget(withTok, "doc_id", col("n_tok"),
          tokensPerShard = 500L)
        .select(col("doc_id"), col("domain"), col("lang"), col("split"),
          col("shard"), col("n_tok"),
          md5(to_binary(col("clean_text"), lit("utf-8"))).as("clean_md5"))
        .orderBy("doc_id")
    }),

    "corpus_diff_snapshots" -> ((s, dir) => {
      // Snapshot diff by content fingerprint: old drops every 10th id and
      // mutates every 7th's text; new drops every 9th. The full-outer
      // fingerprint join must classify each id added / removed / changed /
      // unchanged exactly as the constructing arithmetic predicts.
      val d = read(s, dir, "documents")
      val old = d.filter(col("doc_id") % 10 =!= 0)
        .withColumn("text", when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      val neu = d.filter(col("doc_id") % 9 =!= 0)
      CorpusPrep.diffSnapshots(old, neu, "doc_id", "text")
        .orderBy("doc_id")
    }),

    "corpus_bucketed_join" -> ((s, dir) => {
      // Bucketed snapshot layout: two document snapshots written as
      // 8-bucket external parquet tables on doc_id (one file per bucket,
      // bucket-sorted), then joined bucket-against-bucket.
      // CorpusPrep.bucketedJoin REFUSES any plan containing an Exchange,
      // so a green row here certifies the shuffle-free co-located join
      // the layout buys — at 100 TB that deletes the dominant cost (a
      // full shuffle of both sides) from every repeated join on the key.
      val tmp = java.nio.file.Files.createTempDirectory("graft_verify_bkt").toString
      val d = read(s, dir, "documents")
      val old = d.select(col("doc_id"), col("lang"), col("n_chars"))
      val neu = d.select(col("doc_id"),
        when(col("doc_id") % 5 === 0, col("n_chars") + 7)
          .otherwise(col("n_chars")).as("n_chars"))
      CorpusPrep.writeBucketed(old, "graft_bkt_old", s"$tmp/old", "doc_id", 8)
      CorpusPrep.writeBucketed(neu, "graft_bkt_new", s"$tmp/new", "doc_id", 8)
      CorpusPrep.bucketedJoin(s, "graft_bkt_old", "graft_bkt_new", "doc_id")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("n_chars_r"),
          (col("n_chars_r") =!= col("n_chars")).as("changed"))
        .orderBy("doc_id")
    }),

    "embed_incremental_refresh" -> ((s, dir) => {
      // Incremental re-embedding, end to end: diff two vector snapshots by
      // content fingerprint, tombstone the removed+changed ids, COMPACT
      // (frees the tombstoned ids — append refuses shadowed ids by
      // contract), then append only the changed+added vectors. nProbe =
      // nCells makes the final probe exhaustive, so the refreshed index's
      // top-k must equal exact cosine top-k over the NEW snapshot (the
      // oracle) — refresh ≡ full rebuild without re-embedding the
      // unchanged bulk of a 100 TB corpus. Snapshot 2 is pure arithmetic:
      // %7==1 removed, %7==2 REVERSED (a direction change — scaling would
      // leave cosine invariant), a +100000-shifted reversed copy of %7==3
      // added.
      val tmp = java.nio.file.Files.createTempDirectory("graft_verify_refresh").toString
      val e = read(s, dir, "embeddings")
      val v = EmbedOps.vecCol("emb")
      val withVec = e.withColumnRenamed("embedding", v)
      val changed = withVec.filter(col("vec_id") % 7 === 2)
        .withColumn(v, reverse(col(v)))
      val added = withVec.filter(col("vec_id") % 7 === 3)
        .withColumn("vec_id", col("vec_id") + 100000)
        .withColumn(v, reverse(col(v)))
      val snap2 = withVec
        .filter(col("vec_id") % 7 =!= 1 && col("vec_id") % 7 =!= 2)
        .unionByName(changed).unionByName(added)
      // Pinned-sample centroids (the bring-your-own-quantizer path): the
      // refresh ≡ rebuild proof only needs nProbe = nCells, so skip the
      // k-means fit — it's the expensive part of build() and irrelevant
      // here (and at 100 TB a refresh REUSES the previous generation's
      // quantizer anyway, exactly this call).
      val cents = e.filter(col("vec_id") % 10 === 0 && col("vec_id") < 80)
        .orderBy("vec_id").select("embedding").collect()
        .map(_.getSeq[Float](0).toArray)
      val (indexed, model) =
        graft.embed.IvfIndex.buildWithCentroids(withVec, "emb", cents)
      graft.embed.IvfIndex.save(indexed, model, "emb", "vec_id", s"$tmp/idx")
      def printable(df: DataFrame) =
        df.withColumn("__emb_str", col(v).cast("string"))
      val diff = CorpusPrep.diffSnapshots(
        printable(withVec), printable(snap2), "vec_id", "__emb_str")
      val stale = diff.filter(col("status").isin("removed", "changed"))
        .select("vec_id")
      val n = graft.embed.IvfIndex.delete(stale, "vec_id", s"$tmp/idx")
      require(n > 0, "refresh gate tombstoned no ids")
      graft.embed.IvfIndex.compactDeletes(s, s"$tmp/idx", s"$tmp/idx2")
      val freshIds = diff.filter(col("status").isin("added", "changed"))
        .select("vec_id")
      graft.embed.IvfIndex.append(
        snap2.join(freshIds, Seq("vec_id"), "left_semi"), "emb", "vec_id",
        s"$tmp/idx2")
      val qv = e.filter(col("vec_id") === 11).select("embedding")
        .head().getSeq[Float](0)
      val (loaded, m) = graft.embed.IvfIndex.load(s, s"$tmp/idx2")
      graft.embed.IvfIndex.search(loaded, m, "emb", qv, k = 12, nProbe = 8,
          scoreCol = "raw", tieBreak = Seq(col("vec_id")))
        .orderBy(col("raw").desc, col("vec_id"))
        .select(col("vec_id"), round(col("raw"), 3).as("score"))
    }),

    "dedup_minhash_keepbest" -> ((s, dir) => {
      // Quality keep policy over the same minhash pair graph as
      // dedup_minhash: per duplicate cluster keep the LONGEST member
      // (ties → min doc_id) — the published-pipeline policy — instead of
      // the arbitrary min id. Same recursive-CTE component oracle, with
      // the argmax pick reproduced via QUALIFY row_number.
      val d = read(s, dir, "documents")
      val pairs = Dedup.minhashPairs(d, "text", "doc_id", threshold = 0.5, bands = 16)
      Dedup.dropDuplicatesByPairsKeepBest(d, "doc_id", pairs, col("n_chars"))
        .select("doc_id").orderBy("doc_id")
    }),

    "dedup_paragraphs" -> ((s, dir) => {
      // C4-style CROSS-document paragraph dedup: keep only the
      // globally-first occurrence (lowest (doc_id, position)) of each
      // normalized paragraph, reassemble survivors in original order.
      // The gate corpus is single-sentence, so the adapter deterministically
      // sentence-izes it (period after every 7th word — the text_line_stats
      // reshaping convention) and prepends a SHARED boilerplate sentence to
      // every doc: only doc 0 may keep it, every other doc must lose it —
      // the keep-first shuffle (WindowGroupLimit: a boilerplate paragraph
      // repeated a billion times costs one row per map task, not a hot
      // reducer) is exercised on a real cross-corpus duplicate.
      val d = read(s, dir, "documents")
        .select(col("doc_id"), concat(lit("Common header sentence. "),
          array_join(transform(split(trim(col("text")), "\\s+"),
            (w, i) => when(i % 7 === 6, concat(w, lit(".")))
              .otherwise(w)), " ")).as("text"))
      Dedup.dedupParagraphs(d, "doc_id", "text")
        .orderBy("doc_id")
    }),

    "events_dpp_join" -> ((s, dir) => {
      // Dynamic partition pruning: the events fact table hive-partitioned
      // by event_type, star-joined to a tiny dim FILTERED on a non-key
      // column. Static pruning cannot see through the dim filter, so the
      // optimizer must inject the runtime DPP subquery into the scan's
      // PartitionFilters — REQUIRED here, a silent full scan fails the
      // gate. This is the 100 TB star-join read-path contract: only the
      // dim's surviving partitions are listed and read.
      val tmp = java.nio.file.Files.createTempDirectory("graft_verify_dpp").toString
      read(s, dir, "events").write.mode("overwrite")
        .partitionBy("event_type").parquet(s"$tmp/ev")
      val facts = s.read.parquet(s"$tmp/ev")
      import s.implicits._
      // The dim must be a STORED table: a literal Seq constant-folds to a
      // LocalRelation with the filter pre-applied, and DPP requires a live
      // selective predicate on the filtering side (exactly the deployed
      // star-schema shape — dims live in storage).
      Seq(("click", 1.0), ("view", 0.5), ("error", 0.0),
        ("purchase", 2.0), ("signup", 0.9)).toDF("event_type", "weight")
        .write.mode("overwrite").parquet(s"$tmp/dim")
      val dim = s.read.parquet(s"$tmp/dim")
      // The DPP cost model compares the fact scan saved against the
      // broadcast overhead — on the MB-sized gate fixture the saving
      // rounds to nothing, so pin the decision to the filter-ratio
      // fallback for the assertion (at real scale the stats path fires on
      // its own; the conf is restored either way).
      val useStatsKey = "spark.sql.optimizer.dynamicPartitionPruning.useStats"
      val old = s.conf.get(useStatsKey)
      val joined =
        try {
          s.conf.set(useStatsKey, "false")
          val j = facts.join(dim.filter(col("weight") >= 1.0), Seq("event_type"))
          val plan = j.queryExecution.executedPlan.toString
          require(plan.contains("dynamicpruning"),
            "expected a dynamicpruningexpression on the partitioned scan — " +
              s"DPP did not trigger:\n${plan.take(2000)}")
          j
        } finally s.conf.set(useStatsKey, old)
      joined.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("value_c"))
        .orderBy("event_type")
    }),

    "corpus_write_roundtrip" -> ((s, dir) => {
      // The layout-aware corpus writer end to end: write documents hive-
      // partitioned by lang with 2 content-hash shards per partition and
      // doc_id sorted within tasks, ASSERT the written file layout (≤1 file
      // per partition×shard — AQE may coalesce under-advisory shards, never
      // multiply them), then read the corpus back for the oracle hash. The
      // hash proves the write is lossless AND deterministic; the layout
      // check proves one writing task per partition×shard (the 100 TB
      // small-files answer).
      val tmp = java.nio.file.Files.createTempDirectory("graft_corpus_write").toString
      val path = s"$tmp/corpus"
      val shards = 2
      CorpusPrep.writeCorpus(read(s, dir, "documents"), path, Seq("lang"),
        shardsPerPartition = shards, sortBy = Seq("doc_id"),
        maxRecordsOverride = Some(1000000L))
      val langDirs = new java.io.File(path).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("lang="))
      require(langDirs.nonEmpty, s"writeCorpus produced no lang= partitions under $path")
      langDirs.foreach { d =>
        val files = d.listFiles().filter(_.getName.endsWith(".parquet"))
        require(files.nonEmpty && files.length <= shards,
          s"${d.getName}: ${files.length} files for $shards shards — " +
            "layout-aware write must emit at most one file per partition×shard")
      }
      s.read.parquet(path).select("doc_id", "lang", "source", "n_chars", "text")
        .orderBy("doc_id")
    }),

    "corpus_clean_pipeline" -> ((s, dir) => {
      // The training-data cleaning pipeline as ONE plan: exact dedup (keep
      // min-id per text) → quality-score filter → per-language doc/token
      // stats. Every stage is native/codegen and the whole composition is
      // oracle-checked end to end.
      val d = read(s, dir, "documents")
      val keep = d.groupBy("text").agg(min("doc_id").as("doc_id"))
      val deduped = d.join(keep.select("doc_id"), Seq("doc_id"), "left_semi")
      deduped
        .withColumn("quality", TF.qualityScore(col("text")))
        .filter(col("quality") >= 0.5)
        .withColumn("n_tok", TF.tokenCount(col("text")))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok").cast("long")).as("sum_tok"))
        .orderBy("lang")
    }),

    // ---------------- text analysis ---------------------------------------
    "events_sessionize" -> ((s, dir) => {
      // Gap sessionization (30-min gap; events.ts is TIMESTAMP_NTZ, so the
      // gate derives epoch micros via an LTZ cast under a pinned UTC
      // session — Temporal.sessionize is numeric-generic): 0-based session
      // ids per user. One shuffle on user_id; (user_id, ts) is unique in
      // the data so the ordering is total.
      s.conf.set("spark.sql.session.timeZone", "UTC")
      Temporal.sessionize(
          read(s, dir, "events")
            .withColumn("ts_us", unix_micros(col("ts").cast("timestamp"))),
          "user_id", "ts_us", maxGap = 30L * 60 * 1000000L)
        .select(col("event_id"), col("user_id"), col("session_id"))
        .orderBy("event_id")
    }),

    "events_asof_join" -> ((s, dir) => {
      // As-of join: each click picks up the most recent prior-or-same-ts
      // view's (event_id, value) for the same user — the union-window
      // single-shuffle form, no |L|×|R| range product.
      val e = read(s, dir, "events")
      val clicks = e.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val views = e.filter(col("event_type") === "view")
        .select("event_id", "user_id", "ts", "value")
      Temporal.asofJoin(clicks, views, Seq("user_id"), "ts",
          rightCols = Seq("event_id", "value"), suffix = "_view")
        .select(col("event_id"), col("user_id"),
          col("event_id_view"), col("value_view"))
        .orderBy("event_id")
    }),

    "events_asof_forward_tol" -> ((s, dir) => {
      // merge_asof(direction="forward", tolerance=30 min): each click picks
      // the EARLIEST view at-or-after it within 30 minutes per user —
      // epoch-micros arithmetic, so tolerance math is identical on both
      // engines. Same single-shuffle union-window shape as backward.
      s.conf.set("spark.sql.session.timeZone", "UTC")
      val e = read(s, dir, "events")
        .withColumn("tsu", unix_micros(col("ts").cast("timestamp")))
      val clicks = e.filter(col("event_type") === "click")
        .select("event_id", "user_id", "tsu")
      val views = e.filter(col("event_type") === "view")
        .select("event_id", "user_id", "tsu", "value")
      Temporal.asofJoin(clicks, views, Seq("user_id"), "tsu",
          rightCols = Seq("event_id", "value"), suffix = "_view",
          direction = "forward", tolerance = Some(1800L * 1000000L))
        .select(col("event_id"), col("user_id"),
          col("event_id_view"), col("value_view"))
        .orderBy("event_id")
    }),

    "events_asof_nearest" -> ((s, dir) => {
      // merge_asof(direction="nearest"): closest view either side, equal
      // distances prefer backward. Exercises both window passes over ONE
      // exchange (the descending pass is a second sort, not a second
      // shuffle).
      s.conf.set("spark.sql.session.timeZone", "UTC")
      val e = read(s, dir, "events")
        .withColumn("tsu", unix_micros(col("ts").cast("timestamp")))
      val clicks = e.filter(col("event_type") === "click")
        .select("event_id", "user_id", "tsu")
      val views = e.filter(col("event_type") === "view")
        .select("event_id", "user_id", "tsu", "value")
      Temporal.asofJoin(clicks, views, Seq("user_id"), "tsu",
          rightCols = Seq("event_id", "value"), suffix = "_view",
          direction = "nearest")
        .select(col("event_id"), col("user_id"),
          col("event_id_view"), col("value_view"))
        .orderBy("event_id")
    }),

    "events_range_join" -> ((s, dir) => {
      // Pure range join (NO equality key — the shape that lowers to a
      // nested-loop product in naive Spark): every event against the
      // sliding 1-hour windows (every 30 min) covering the event span,
      // through the bucketized equi-join form; the oracle is the plain
      // non-equi containment join. Window len = 2×step, so interior
      // events land in exactly two windows.
      import s.implicits._
      s.conf.set("spark.sql.session.timeZone", "UTC")
      val e = read(s, dir, "events")
        .select(unix_micros(col("ts").cast("timestamp")).as("pt"))
      val hr = 3600L * 1000000L
      val step = hr / 2
      val r = e.agg(min("pt"), max("pt")).head()
      val (lo, hi) = (r.getLong(0), r.getLong(1))
      val w0 = Math.floorDiv(lo, step) * step
      val windows = Iterator.iterate(w0)(_ + step).takeWhile(_ <= hi)
        .map(t => (t, t + hr - 1)).toSeq.toDF("w_start", "w_end")
      Temporal.rangeJoin(e, "pt", windows, "w_start", "w_end", bucketWidth = hr)
        .groupBy("w_start").agg(count(lit(1)).as("n_events"))
        .orderBy("w_start")
    }),

    "corpus_sample_det" -> ((s, dir) => {
      // Deterministic content-hash sampling: membership is a pure function
      // of (salt, key) — same surviving rows on any cluster/partitioning/
      // engine. A pure filter: pushes to the scan, no shuffle.
      CorpusPrep.deterministicSample(read(s, dir, "documents"), "doc_id", 0.25, salt = "s1")
        .select(col("doc_id"), col("lang")).orderBy("doc_id")
    }),

    "corpus_quota_lang" -> ((s, dir) => {
      // Data mixing: cap each language at 50 docs (lowest doc_id first).
      // One shuffle on lang; the rank filter lowers to WindowGroupLimit so
      // only ≤ quota rows per group survive the partial stage.
      CorpusPrep.quotaPerGroup(read(s, dir, "documents"), "lang", "doc_id", 50)
        .select(col("doc_id"), col("lang")).orderBy("doc_id")
    }),

    "corpus_pack_seq" -> ((s, dir) => {
      // Training-sequence packing: within each language (doc_id order),
      // pack_id = floor(exclusive running token total / 512) — consecutive
      // docs share a pack until the token budget rolls over.
      val d = read(s, dir, "documents")
        .withColumn("n_tokens", TF.tokenCount(col("text")).cast("long"))
      CorpusPrep.packSequences(d, "lang", "doc_id", "n_tokens", maxTokens = 512)
        .select(col("doc_id"), col("lang"), col("n_tokens"), col("pack_id"))
        .orderBy("doc_id")
    }),

    "corpus_profile" -> ((s, dir) => {
      // Per-(lang, source) corpus health profile: docs, exact-dup count via
      // fingerprints, token totals, mean quality/length. Integer-sum
      // determinism makes the doubles reproducible across engines.
      CorpusPrep.corpusProfile(read(s, dir, "documents"), "text",
          Seq("lang", "source"))
        .select(col("lang"), col("source"), col("n_docs"), col("n_unique_docs"),
          col("total_tokens"), col("avg_quality"), col("avg_chars"))
        .orderBy("lang", "source")
    }),

    "corpus_profile_merge" -> ((s, dir) => {
      // Profile ALGEBRA: profile(A ∪ B) must equal merge(profile(A),
      // profile(B)) — the property that lets a year of per-snapshot
      // profiles fold into a corpus profile without rescanning 100 TB.
      // The adapter REQUIRES merged ≡ full-scan on every additive column
      // AND requires the HLL unique-docs estimates to agree within 2%
      // (DataSketches union is exact in coupon range, approximate after);
      // the oracle hash-checks the additive columns.
      val d = read(s, dir, "documents")
      val p1 = CorpusPrep.mergeableProfile(
        d.filter(col("doc_id") % 2 === 0), "text", Seq("lang"))
      val p2 = CorpusPrep.mergeableProfile(
        d.filter(col("doc_id") % 2 === 1), "text", Seq("lang"))
      val merged = CorpusPrep.finalizeProfile(
        CorpusPrep.mergeProfiles(p1, p2, Seq("lang")))
      val full = CorpusPrep.finalizeProfile(
        CorpusPrep.mergeableProfile(d, "text", Seq("lang")))
      val addCols = Seq("lang", "n_docs", "total_tokens", "avg_quality", "avg_chars")
      // ONE evaluation per profile serves BOTH cross-checks (additive
      // equality + sketch drift): the per-lang result is tiny, so a single
      // collect per side replaces the except job plus two further collects
      // that each re-ran the full profile aggregation.
      val allCols = (addCols :+ "n_unique_docs_est").map(col)
      val mRows = merged.select(allCols: _*).collect()
      val fRows = full.select(allCols: _*).collect()
      // -0.0 → 0.0 before the boxed-Double set equality, as SQL's float
      // normalization does (java.lang.Double.equals tells the zeros apart).
      def additive(r: org.apache.spark.sql.Row) =
        r.toSeq.take(5).map { case d: Double => d + 0.0; case v => v }
      require(mRows.map(additive).toSet == fRows.map(additive).toSet,
        "merged profile diverged from the full-scan profile")
      val est = mRows.map(r => r.getString(0) -> r.getLong(5)).toMap
      fRows.foreach { r =>
        val (m, f) = (est(r.getString(0)), r.getLong(5))
        require(math.abs(m - f) <= 0.02 * math.max(f.toDouble, 1.0),
          s"sketch union drifted: lang ${r.getString(0)} merged $m vs full $f")
      }
      merged.select(addCols.map(col): _*).orderBy("lang")
    }),

    "corpus_global_rank" -> ((s, dir) => {
      // Scale-correct global dense rank: offsets-plus-local-position over
      // a range repartition — NOT the single-partition window that
      // row_number() OVER (ORDER BY key) collapses to. The oracle IS that
      // window (affordable at oracle scale), so the two-pass form is
      // hash-verified against the textbook definition.
      CorpusPrep.globalRank(read(s, dir, "documents").select("doc_id"), "doc_id")
        .orderBy("doc_id")
    }),

    "corpus_negative_samples" -> ((s, dir) => {
      // Deterministic contrastive negatives: 2 pseudo-random non-self
      // partners per anchor, a pure function of (salt, id, j) — same
      // pairs on any cluster/partitioning/engine (md5-derived offset over
      // the dense rank ring; the 1 + mod(n-1) step can never return the
      // anchor itself). Oracle reproduces rank, offset and ring walk.
      CorpusPrep.negativeSamples(
          read(s, dir, "documents").select("doc_id"), "doc_id",
          k = 2, salt = "ep1")
        .orderBy("doc_id", "j")
    }),

    "corpus_score_pctrank" -> ((s, dir) => {
      // Percent-rank quality calibration at scale: histogram of DISTINCT
      // scores + bounded cumulative pass + broadcast join back — never
      // the corpus-wide single-partition window. The oracle IS that
      // window (percent_rank() OVER), so tie handling and the /(n-1)
      // normalization are verified against the textbook definition.
      CorpusPrep.scorePercentRank(
          read(s, dir, "documents").select(col("doc_id"), col("n_chars")),
          "n_chars")
        .select(col("doc_id"), col("n_chars"),
          round(col("score_pct"), 6).as("score_pct"))
        .orderBy("doc_id")
    }),

    "corpus_score_pctrank_group" -> ((s, dir) => {
      // WITHIN-SOURCE percent-rank — multi-source mixing calibrates
      // quality inside each source/language before comparing across them
      // (a raw score is only meaningful against its own distribution).
      // Same bounded shape as corpus_score_pctrank but the histogram,
      // cumulative pass and join all carry the group key; the oracle is
      // the PARTITION BY window, so per-group ties and the per-group
      // /(n_g−1) denominator are textbook-verified.
      CorpusPrep.scorePercentRankByGroup(
          read(s, dir, "documents").select(
            col("doc_id"), col("lang"), col("n_chars")),
          "lang", "n_chars")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          round(col("score_pct"), 6).as("score_pct"))
        .orderBy("doc_id")
    }),

    "embed_group_centroid" -> ((s, dir) => {
      // Group centroids via the custom partial-merge aggregate
      // (VectorAvg): ONE (dim doubles + count) buffer per group per map
      // task crosses the wire — not the 64× shuffle amplification of
      // posexplode + groupBy(key, dim). The oracle computes the same
      // means through unnest + per-dimension avg. The centroid serializes
      // to comma-joined ×10⁴-scaled ints — the driver compare can't hash
      // array cells, and integer text is formatting-stable across engines.
      read(s, dir, "embeddings")
        .groupBy(col("label"))
        .agg(graft.functions.VectorAvg.vectorAvg(col("embedding")).as("__m"),
          count(lit(1)).as("n_vecs"))
        .select(col("label"), col("n_vecs"),
          array_join(transform(col("__m"),
            x => round(x * 10000).cast("long").cast("string")), ",")
            .as("centroid"))
        .orderBy("label")
    }),

    "corpus_quota_tokens" -> ((s, dir) => {
      // Token-budget mixing cap: each language keeps docs (doc_id order)
      // until 20k tokens; the budget-crossing doc is kept, the rest drop.
      val d = read(s, dir, "documents")
        .withColumn("n_tokens", TF.tokenCount(col("text")).cast("long"))
      CorpusPrep.quotaPerGroupTokens(d, "lang", "doc_id", "n_tokens", maxTokens = 20000)
        .select(col("doc_id"), col("lang"), col("n_tokens"))
        .orderBy("doc_id")
    }),

    "sample_weighted_k" -> ((s, dir) => {
      // Efraimidis–Spirakis weighted sampling without replacement,
      // derandomized via md5(salt|id): token counts as weights (longer
      // docs proportionally likelier), k = 40. The oracle rebuilds the
      // 52-bit uniform from the same hex prefix (char-fold hex→int), the
      // ln-space key, and the (key desc, id) top-k.
      val d = read(s, dir, "documents")
        .withColumn("n_tokens", TF.tokenCount(col("text")).cast("long"))
      CorpusPrep.weightedSampleK(d, "doc_id", "n_tokens", k = 40,
          salt = "ws1")
        .select(col("doc_id"), col("n_tokens"),
          round(col("sample_key"), 8).as("sample_key"))
        .orderBy("doc_id")
    }),

    "corpus_repeat_schedule" -> ((s, dir) => {
      // Data-constrained scaling (Muennighoff 2023): a 60k-token budget
      // over this ~27k-token corpus → 2 full epochs for every doc plus a
      // deterministic hash-ordered partial epoch absorbing the remainder
      // (the crossing doc kept) — so both the integer-epoch and the
      // partial-prefix paths are live. The oracle replays the integer
      // arithmetic, the md5|id order, and the exclusive-cumsum crossing.
      val d = read(s, dir, "documents")
        .withColumn("n_tokens", TF.tokenCount(col("text")).cast("long"))
      CorpusPrep.repeatSchedule(d, "doc_id", "n_tokens",
          budgetTokens = 60000L, maxEpochs = 4, salt = "rs1")
        .select("doc_id", "n_tokens", "n_repeats").orderBy("doc_id")
    }),

    "corpus_mix_weighted" -> ((s, dir) => {
      // Weighted mixture assembly: keep all English, half German, a quarter
      // Spanish, drop the rest — membership a pure function of
      // (salt, doc_id), so the same mixture materializes on any engine.
      CorpusPrep.mixByFractions(read(s, dir, "documents"), "lang",
          Map("en" -> 1.0, "de" -> 0.5, "es" -> 0.25), "doc_id", salt = "mix1")
        .select("doc_id", "lang").orderBy("doc_id")
    }),

    "corpus_mix_temperature" -> ((s, dir) => {
      // Temperature-scaled multilingual mixing (XLM §3.1) at alpha = 0.3
      // toward a 60% budget: the flattened shares EXCEED the smaller
      // languages' sizes, so the clamp path is LIVE in the gate.
      // redistribute = false pins the one-shot XLM form, which the oracle
      // replays closed-form (weight sum as a lang-ordered left fold, the
      // engine's exact float-op shape); the UniMax water-filling closure
      // is spec-covered — its fixpoint loop is not SQL-expressible.
      val d = read(s, dir, "documents")
      val t = math.round(0.6 * d.count())
      CorpusPrep.mixByTemperature(d, "lang", "doc_id", t, alpha = 0.3,
          salt = "temp1", redistribute = false)
        .select("doc_id", "lang").orderBy("doc_id")
    }),

    "tokenizer_fertility" -> ((s, dir) => {
      // Tokenizer-eval fertility table — the first number every tokenizer
      // report states (tokens-per-word a.k.a. fertility, and bytes-per-
      // token a.k.a. compression), per language: a multilingual vocab that
      // over-fragments one language starves it of effective context. Runs
      // under the PINNED BpeVocabM48 inventory (not a retrain) so the
      // oracle reuses the greedy-match CTE verbatim; bytes are the raw
      // text's UTF-8 octets (whitespace included — the corpus bytes a
      // budget pays for). One tokenize scan + one grouped aggregate.
      val d = read(s, dir, "documents")
      val vocab = graft.operators.Tokenizer.SubwordVocab(BpeVocabM48)
      graft.operators.Tokenizer.tokenize(d, "text", vocab, "pieces")
        .groupBy("lang").agg(
          count(lit(1)).as("n_docs"),
          sum(size(col("pieces")).cast("long")).as("__np"),
          sum(TF.tokenCount(col("text")).cast("long")).as("__nw"),
          sum(octet_length(col("text")).cast("long")).as("__nb"))
        .select(col("lang"), col("n_docs"),
          round(col("__np").cast("double") / col("__nw"), 4)
            .as("tokens_per_word"),
          round(col("__nb").cast("double") / col("__np"), 4)
            .as("bytes_per_token"))
        .orderBy("lang")
    }),

    "vocab_topk" -> ((s, dir) => {
      CorpusPrep.vocabTopK(read(s, dir, "documents"), "text", k = 50)
        .orderBy(col("n").desc, col("word"))
    }),

    "vocab_freq_items" -> ((s, dir) => {
      // The heavy-hitters scale tier next to vocab_topk's exact one:
      // frequentWords (single-pass fixed-memory Misra-Gries) may return
      // false positives but never misses a word above the support
      // threshold — so for the EXACTLY-counted frequent set (pinned vs
      // DuckDB) the sketch-containment boolean is deterministically true.
      val d = read(s, dir, "documents")
      val sketch = CorpusPrep.frequentWords(d, "text", support = 0.02)
      val counts = CorpusPrep.vocabCounts(d, "text")
      val total = counts.agg(sum(col("n"))).head().getLong(0)
      counts.filter(col("n") > lit(0.02) * lit(total))
        .withColumn("in_sketch", col("word").isInCollection(sketch))
        .select(col("word"), col("n"), col("in_sketch"))
        .orderBy("word")
    }),

    "unigram_surprisal" -> ((s, dir) => {
      // CCNet-style LM quality filtering with a unigram reference model:
      // the vocabulary fits on even doc_ids (the "reference corpus"), every
      // doc scores its mean -ln p(word). Vocab counts are integers
      // (engine-independent); the per-word ln terms fold left-to-right in
      // both engines, so round-4 scores hash-match (the bm25 convention).
      val d = read(s, dir, "documents")
      val counts = CorpusPrep.vocabCounts(d.filter(col("doc_id") % 2 === 0), "text")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      CorpusPrep.unigramSurprisal(d, "text", counts, counts.values.sum)
        .select(col("doc_id"), round(col("surprisal"), 4).as("surprisal"))
        .orderBy("doc_id")
    }),

    "quality_threshold_cut" -> ((s, dir) => {
      // Precision-targeted threshold calibration (the FineWeb-Edu step
      // between training a quality classifier and curating 100 TB with
      // it): labels are a deterministically NOISY version of "high
      // quality" ((q >= 0.5) xor doc_id%7==0 — top prefixes run ~6/7
      // precise), and the loosest score cut holding precision >= 0.8 is
      // picked over the bounded score histogram — exact long counts,
      // two closing divisions.
      val d = read(s, dir, "documents")
      val labeled = d.select(col("doc_id"),
          round(TF.qualityScore(col("text")), 2).as("q"))
        .withColumn("label", (col("q") >= 0.5) =!= (col("doc_id") % 7 === 0))
      graft.operators.QualityClassifier.thresholdForPrecision(
        labeled, "q", "label", targetPrecision = 0.8)
    }),

    "quality_nb_score" -> ((s, dir) => {
      // Model-based quality filtering (the CCNet/GPT-3 classifier stage,
      // fastText-style): a multinomial Naive Bayes is TRAINED on this
      // corpus — label = "mentions spark", the in-domain proxy — and every
      // doc is scored prior + Σ llr(token). Training is one vocab-bounded
      // aggregate (integer counts, engine-independent); scoring is one
      // per-row left-to-right fold, so round-4 scores hash-match the
      // from-scratch oracle, and the sign bit (nb_pred) matches exactly.
      val d = read(s, dir, "documents")
        .withColumn("label",
          array_contains(split(lower(trim(col("text"))), "\\s+"), "spark"))
      val m = graft.operators.QualityClassifier.trainNaiveBayes(
        d, "text", "label")
      graft.operators.QualityClassifier.scoreNaiveBayes(d, "text", m)
        .select(col("doc_id"), col("label"),
          round(col("nb_score"), 4).as("nb_score"), col("nb_pred"))
        .orderBy("doc_id")
    }),

    "lang_id_nb" -> ((s, dir) => {
      // TRAINED language ID (the fastText-langid shape, char 1+2-gram
      // multinomial NB): fit on the corpus's own lang labels in one
      // vocab-bounded (gram, class) aggregate, predict every doc with one
      // per-row fold that accumulates all k class scores vector-wise and
      // argmaxes in the finish lambda (ties → smallest class, the ORDER
      // BY score DESC, class the oracle replays). The oracle refits from
      // scratch in DuckDB with the same float-op shapes, so round-4
      // scores AND the argmax hash-match.
      val d = read(s, dir, "documents")
      val m = graft.operators.QualityClassifier.trainLangNB(
        d, "text", "lang")
      // Spread at the CALL SITE (the score fold itself is zero-shuffle,
      // spec-pinned): a one-file corpus otherwise folds on one task.
      graft.operators.QualityClassifier.scoreLangNB(
          graft.core.Parallelism.spread(d), "text", m)
        .select(col("doc_id"), col("lang"), col("lang_pred"),
          round(col("lang_score"), 4).as("lang_score"),
          // Confidence margin (best − runner-up posterior) — the signal a
          // confidence-gated route thresholds; a raw difference of the
          // same accumulators both engines already agree on.
          round(col("lang_margin"), 4).as("lang_margin"))
        .orderBy("doc_id")
    }),

    "ppl_bigram" -> ((s, dir) => {
      // LM-perplexity scoring (the CCNet stage the lang-id and dedup
      // gates bracket: KenLM perplexity against an in-domain LM): an
      // interpolated order-2 LM is fitted on this corpus — minCount = 2
      // folds the hapax words into <unk>, so the OOV path is LIVE — and
      // every doc scores Σ ln(λ·pml(cur|prev) + (1−λ)·p_uni(cur)) left
      // to right from BOS, ppl = exp(−ll/n). The oracle refits from
      // scratch in DuckDB keyed by the bigram STRINGS (the engine's gram
      // hash is internal; the counts are identical) with the same
      // float-op shapes (including (1 − 0.7), NOT the 0.3 literal — IEEE
      // 1−0.7 ≠ 0.3), so round-4 ll AND ppl hash-match.
      val d = read(s, dir, "documents")
      val m = graft.operators.NgramLm.fitNgramLM(
        d, "text", order = 2, minCount = 2L)
      graft.operators.NgramLm.perplexity(d, "text", m)
        .select(col("doc_id"), col("lm_tokens"),
          round(col("lm_ll"), 4).as("lm_ll"),
          round(col("ppl"), 4).as("ppl"))
        .orderBy("doc_id")
    }),

    "ppl_trigram" -> ((s, dir) => {
      // One order closer to CCNet's 5-gram KenLM: the two-level
      // Jelinek–Mercer trigram LM (λ₂ on the trigram ML term, the
      // bigram+unigram interpolation as its backoff), fitted with one
      // bounded aggregate of hashed gram keys for both orders and scored
      // in one compiled pass. The oracle refits unigram, bigram, AND
      // trigram tables from scratch in DuckDB and replays the per-token
      // dyadic float tree verbatim (literal (1 − λ) forms, ML divisions
      // at score time over the same integer counts), so ll and ppl
      // hash-match at round 4.
      val d = read(s, dir, "documents")
      val m = graft.operators.NgramLm.fitNgramLM(
        d, "text", order = 3, minCount = 2L)
      graft.operators.NgramLm.perplexity(d, "text", m)
        .select(col("doc_id"), col("lm_tokens"),
          round(col("lm_ll"), 4).as("lm_ll"),
          round(col("ppl"), 4).as("ppl"))
        .orderBy("doc_id")
    }),

    "ppl_5gram" -> ((s, dir) => {
      // CCNet's published order, reached: a 5-gram Jelinek–Mercer LM
      // over HASHED gram keys (KenLM's probing tables key grams by hash
      // the same way), the ppl_bigram and ppl_trigram model at order 5,
      // fitted with one bounded distinct-key aggregate for all orders
      // whose context totals come from the same aggregate, scored as
      // one compiled per-row fold. The oracle refits all four gram
      // tables from scratch in DuckDB keyed by the gram STRINGS — the
      // hash is engine-internal, the counts are identical (64-bit
      // collisions at gate scale ≈ 10⁻⁷) — and replays the nested
      // interpolation tree with per-position join lookups folded
      // left-to-right, so ll and ppl hash-match at round 4.
      val d = read(s, dir, "documents")
      val m = graft.operators.NgramLm.fitNgramLM(
        d, "text", order = 5, minCount = 2L)
      // Stage the scored frame BEFORE the multi-column projection: the
      // score is a struct-returning kernel, and through
      // collapsed projections every field reference re-runs the whole
      // order-5 fold (4 hashed-table lookups per token) — the
      // ccnet_pipeline discipline, measured 2-3× on this gate.
      graft.core.Persist.stage(
          graft.operators.NgramLm.perplexity(d, "text", m))
        .select(col("doc_id"), col("lm_tokens"),
          round(col("lm_ll"), 4).as("lm_ll"),
          round(col("ppl"), 4).as("ppl"))
        .orderBy("doc_id")
    }),

    "dsir_weights" -> ((s, dir) => {
      // DSIR data selection (arXiv 2302.03169): importance weights of raw
      // docs under target-vs-raw unigram LMs — target = the src0-4
      // "domain", raw = the whole corpus. Both models fit in one bounded
      // aggregate each; the per-doc log-weight is a fold over the shared
      // Laplace-smoothed vocabulary, reproduced exactly by the oracle.
      val d = read(s, dir, "documents")
      val m = graft.operators.QualityClassifier.fitDsir(
        d, d.filter(col("source").isin("src0", "src1", "src2", "src3", "src4")),
        "text")
      graft.operators.QualityClassifier.dsirLogWeights(d, "text", m)
        .select(col("doc_id"), round(col("dsir_logw"), 4).as("dsir_logw"))
        .orderBy("doc_id")
    }),

    "dsir_resample" -> ((s, dir) => {
      // The resample half of DSIR: acceptance exp(logw − logwMax) against
      // the deterministic md5-prefix uniform (corpus_sample_det's
      // convention) — the paper's importance resampling with zero RNG
      // state; the oracle replays weight fit, normalizer and draw.
      val d = read(s, dir, "documents")
      val m = graft.operators.QualityClassifier.fitDsir(
        d, d.filter(col("source").isin("src0", "src1", "src2", "src3", "src4")),
        "text")
      val w = graft.operators.QualityClassifier.dsirLogWeights(d, "text", m)
      graft.operators.QualityClassifier.importanceResample(
          w, "doc_id", "dsir_logw", salt = "s7")
        .select(col("doc_id")).orderBy("doc_id")
    }),

    "tokenize_subword" -> ((s, dir) => {
      // Real subword tokenization (not the regex estimate): an
      // SQL-replayable frequency vocab — top-8 whole words + every char
      // 1/2-gram — applied by the greedy longest-match kernel; pieces and
      // dense sorted-vocab ids emitted as joined strings (array outputs
      // stringify unstably through the compare). Frequent words match
      // whole, the rest decompose to bigrams/chars — longest-match
      // priority is live on every rare word.
      val d = read(s, dir, "documents")
      val vocab = graft.operators.Tokenizer.freqVocab(
        d, "text", topWords = 8, charNgramLens = Seq(1, 2))
      graft.operators.Tokenizer.tokenize(d, "text", vocab, "pieces")
        .select(col("doc_id"),
          size(col("pieces")).as("n_tokens"),
          concat_ws("|", col("pieces")).as("pieces_str"),
          concat_ws(",", transform(
            graft.operators.Tokenizer.tokenIds(col("pieces"), vocab),
            i => i.cast("string"))).as("token_ids_str"))
        .orderBy("doc_id")
    }),

    "tokenize_roundtrip" -> ((s, dir) => {
      // Losslessness of the greedy longest-match kernel: every character
      // of every (normalized) document is covered exactly once, in order
      // — detokenization is pure concatenation. freqVocab's char 1-grams
      // come from this corpus, so coverage is total and no <unk> can
      // hide a dropped span. A kernel that skipped, duplicated, or
      // reordered a span hash-mismatches the oracle's direct
      // whitespace-stripped normalization.
      val d = read(s, dir, "documents")
      val vocab = graft.operators.Tokenizer.freqVocab(
        d, "text", topWords = 8, charNgramLens = Seq(1, 2))
      graft.operators.Tokenizer.tokenize(d, "text", vocab, "pieces")
        .select(col("doc_id"),
          md5(concat_ws("", col("pieces"))).as("detok_md5"))
        .orderBy("doc_id")
    }),

    "tokenize_bpe" -> ((s, dir) => {
      // The BPE TRAINER on the wire (tokenize_subword gates freqVocab
      // only): train 48 merges from scratch on this corpus — the merge
      // loop is deterministic (count desc, pair asc) — then tokenize under
      // the learned inventory. The oracle tokenizes under the PINNED
      // BpeVocabM48 literal (OracleConstants), so a drifting merge
      // sequence, a wrong tie-break, or a piece that stopped/started
      // being learned all surface as hash mismatches on real documents.
      val d = read(s, dir, "documents")
      val vocab = graft.operators.Tokenizer.trainBpe(d, "text", numMerges = 48)
      graft.operators.Tokenizer.tokenize(d, "text", vocab, "pieces")
        .select(col("doc_id"),
          size(col("pieces")).as("n_tokens"),
          concat_ws("|", col("pieces")).as("pieces_str"),
          concat_ws(",", transform(
            graft.operators.Tokenizer.tokenIds(col("pieces"), vocab),
            i => i.cast("string"))).as("token_ids_str"))
        .orderBy("doc_id")
    }),

    "tokenize_unigram" -> ((s, dir) => {
      // The unigram-LM trainer + Viterbi decoder on the wire (Kudo 2018 —
      // the SentencePiece family; tokenize_bpe is the merge-based
      // sibling): train a 40-piece model from scratch — deterministic
      // hard-EM, every order-dependent step a total order — then
      // VITERBI-tokenize under the learned (piece, logprob) model. The
      // oracle enumerates every segmentation of every distinct word under
      // the PINNED UnigramVocabV40 literal and takes the (score desc,
      // path asc) argmax — the exact inference rule — so seed-scoring, EM
      // counting, pruning, smoothing, or tie-break drift in the trainer,
      // and any DP bug in the kernel, surface as hash mismatches.
      val d = read(s, dir, "documents")
      val vocab = graft.operators.Tokenizer.trainUnigram(d, "text", vocabSize = 40)
      graft.operators.Tokenizer.tokenizeUnigram(d, "text", vocab, "pieces")
        .select(col("doc_id"),
          size(col("pieces")).as("n_tokens"),
          concat_ws("|", col("pieces")).as("pieces_str"),
          concat_ws(",", transform(
            graft.operators.Tokenizer.tokenIdsUnigram(col("pieces"), vocab),
            i => i.cast("string"))).as("token_ids_str"))
        .orderBy("doc_id")
    }),

    "chunk_docs" -> ((s, dir) => {
      // Passage chunking for retrieval/training: 128-token windows with
      // 32-token overlap; trailing starts that add no new words are
      // skipped. The exact chunk text is pinned via md5.
      CorpusPrep.chunkDocuments(read(s, dir, "documents"), "text",
          chunkTokens = 128, overlap = 32)
        .select(col("doc_id"), col("chunk_id"), col("n_chunk_tokens"),
          md5(col("chunk_text")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_id")
    }),

    "text_script_mix" -> ((s, dir) => {
      // Unicode-script composition — the pre-language-ID routing signal
      // (a stopword langId is meaningless on CJK; script fractions say
      // which detector applies and catch mixed-script spam). The gate
      // corpus is Latin-only, so the adapter deterministically mixes it:
      // every 3rd doc gains a Cyrillic tail, 3rd+1 a CJK tail, 3rd+2 an
      // Arabic tail; the oracle mirrors construction and the per-class
      // codepoint counts exactly (literal RE2 ranges).
      // The tails also plant the classification edges: × ÷ are Latin-1
      // SIGNS (must count as "other", not latin) and NBSP / ideographic
      // space are whitespace (must not count at all).
      val mixed = read(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 3 === 0, lit(" Привет мир 3×4÷2"))
            .when(col("doc_id") % 3 === 1, lit(" 中文字符测试　汉"))
            .otherwise(lit(" مرحبا بالعالم"))).as("text"))
      mixed.select(col("doc_id"), TF.scriptFractions(col("text")).as("sf"))
        .select(col("doc_id"), col("sf.latin").as("latin"),
          col("sf.cyrillic").as("cyrillic"), col("sf.cjk").as("cjk"),
          col("sf.arabic").as("arabic"), col("sf.other").as("other"))
        .orderBy("doc_id")
    }),

    "chunk_sentences" -> ((s, dir) => {
      // Sentence-boundary chunking (the RAG chunker that never cuts
      // mid-sentence): consecutive sentences pack into ~14-token chunks
      // via the exclusive-cumsum bin id; the budget-crossing sentence
      // stays in the chunk it started. The gate corpus is single-sentence,
      // so the adapter sentence-izes it deterministically (period after
      // every 7th word) — real multi-chunk packing, and reassembly
      // restores '. ' so the chunk text itself is part of the hash.
      val d = read(s, dir, "documents")
        .select(col("doc_id"),
          array_join(transform(split(trim(col("text")), "\\s+"),
            (w, i) => when(i % 7 === 6, concat(w, lit(".")))
              .otherwise(w)), " ").as("text"))
      CorpusPrep.chunkBySentences(d, "doc_id", "text", maxTokens = 14)
        .orderBy("doc_id", "chunk_id")
    }),

    "dedup_incremental" -> ((s, dir) => {
      // Incremental corpus-growth dedup: even doc_ids are the "existing"
      // corpus whose narrow index (fingerprint + minhash sig + shingle
      // hashes) is persisted; odd doc_ids are the new crawl, dropped when
      // they exactly or nearly (J >= 0.5) duplicate an indexed doc. LSH
      // candidate recall on the gate corpus is 1 (the dedup_minhash
      // argument), so the exact all-pairs oracle matches.
      val path = java.nio.file.Files.createTempDirectory("graft_verify_incr")
        .toString + "/idx"
      val d = read(s, dir, "documents")
      Dedup.saveDedupIndex(d.filter(col("doc_id") % 2 === 0), "text", "doc_id", path)
      Dedup.dropAgainstIndex(d.filter(col("doc_id") % 2 === 1), "text", "doc_id",
          path, threshold = 0.5)
        .select("doc_id").orderBy("doc_id")
    }),

    "dedup_incremental_winnow" -> ((s, dir) => {
      // Passage screening of a new crawl batch against the indexed
      // corpus — the locality case global minhash structurally MISSES:
      // every doc_id % 10 == 1 batch doc gets a 40-word passage QUOTED
      // from its even neighbor (doc_id − 1) appended, which moves
      // whole-set Jaccard by ~nothing, so dropAgainstIndex keeps the doc
      // — and the winnow print set stored IN the index (winnowK = 5,
      // shared ≥ w+k−1-word runs must collide by the SWA window-minima
      // guarantee) flags it with its source, without re-reading any
      // corpus text. Near-dup odds still drop in the minhash stage
      // first; survivors carry (passage_src, passage_shared).
      val path = java.nio.file.Files.createTempDirectory("graft_verify_incrw")
        .toString + "/idx"
      val d = read(s, dir, "documents")
      Dedup.saveDedupIndex(d.filter(col("doc_id") % 2 === 0), "text",
        "doc_id", path, winnowK = 5, winnowW = 4)
      val evens = d.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id").as("src_id"),
          array_join(slice(split(trim(col("text")), "\\s+"), 1, 40), " ")
            .as("quote"))
      val batch = d.filter(col("doc_id") % 2 === 1)
        .join(evens, col("doc_id") - 1 === col("src_id"), "left")
        .select(col("doc_id"),
          when(col("doc_id") % 10 === 1,
            concat(col("text"), lit(" "), col("quote")))
            .otherwise(col("text")).as("text"))
      val kept = Dedup.dropAgainstIndex(batch, "text", "doc_id", path,
        threshold = 0.5)
      Dedup.flagPassagesAgainstIndex(kept, "text", "doc_id", path,
          minShared = 2)
        .select(col("doc_id"), col("passage_src"), col("passage_shared"))
        .orderBy("doc_id")
    }),

    "strip_repeated_windows" -> ((s, dir) => {
      // WITHIN-document repeated-span removal (Gopher's duplicated-content
      // cleaning): words covered by a 3-word window that already occurred
      // earlier in the same doc are dropped, first occurrence kept. Pure
      // per-row map (positional hashes → first-seen dup starts → the
      // difference-array rebuild); exact cleaned text pinned by md5.
      // 27 gate docs have internal repeats at w=3, so removal is exercised.
      Dedup.stripRepeatedWindows(read(s, dir, "documents"), "text", window = 3)
        .select(col("doc_id"), col("n_removed"),
          md5(col("clean_text")).as("clean_md5"))
        .orderBy("doc_id")
    }),

    "dedup_incremental_grow" -> ((s, dir) => {
      // The FULL incremental-crawl loop, two rounds deep: the corpus
      // (doc_id%4 ∈ {0,2}) is indexed; crawl B (%4=1) cleans against it and
      // its SURVIVORS append to the index (appendToDedupIndex — the write
      // half of the loop); crawl C (%4=3) then cleans against
      // corpus ∪ B-survivors. The exact all-pairs oracle replays both
      // rounds; LSH candidate recall is 1 on the gate corpus (the
      // dedup_minhash argument).
      val path = java.nio.file.Files.createTempDirectory("graft_verify_incrg")
        .toString + "/idx"
      val d = read(s, dir, "documents")
      Dedup.saveDedupIndex(d.filter(col("doc_id") % 2 === 0), "text", "doc_id", path)
      val bSurvivors = Dedup.dropAgainstIndex(d.filter(col("doc_id") % 4 === 1),
        "text", "doc_id", path, threshold = 0.5)
      Dedup.appendToDedupIndex(bSurvivors, "text", "doc_id", path)
      Dedup.dropAgainstIndex(d.filter(col("doc_id") % 4 === 3), "text", "doc_id",
          path, threshold = 0.5)
        .select("doc_id").orderBy("doc_id")
    }),

    "text_repetition" -> ((s, dir) => {
      // Gopher/C4-family repetition & gibberish signals: word repetition
      // ratio, top-bigram fraction, duplicate-trigram fraction, symbol-to-
      // word ratio, alphabetic-word fraction. All per-row HOF compositions —
      // work bounded by each doc's own length, no explode/shuffle (the shape
      // that keeps a corpus quality pass one narrow map at 100 TB).
      read(s, dir, "documents").select(
        col("doc_id"),
        round(TF.wordRepetitionRatio(col("text")), 4).as("rep_ratio"),
        round(TF.topNgramFraction(col("text"), 2), 4).as("top_bigram_frac"),
        round(TF.dupNgramFraction(col("text"), 3), 4).as("dup_trigram_frac"),
        round(TF.symbolWordRatio(col("text")), 4).as("symbol_ratio"),
        round(TF.alphaWordFraction(col("text")), 4).as("alpha_frac")
      ).orderBy("doc_id")
    }),

    "text_entropy" -> ((s, dir) => {
      // Word-distribution Shannon entropy (nats) per doc — the low-entropy
      // spam/template signal beside the Gopher repetition ratios. One
      // per-row kernel pass with a deterministic binary-ordered IEEE
      // accumulation (the oracle folds the identical term list in the
      // identical order — bit-equal by construction, not by rounding
      // luck), plus the filter flag a cleaning pipeline would gate on.
      read(s, dir, "documents").select(
        col("doc_id"),
        round(TF.wordEntropy(col("text")), 4).as("word_entropy"),
        (round(TF.wordEntropy(col("text")), 4) < 3.0).as("low_entropy")
      ).orderBy("doc_id")
    }),

    "ann_sq8_search" -> ((s, dir) => {
      // Int8 scalar quantization through the durable IVF-SQ8 lifecycle:
      // build → save codes+scale (~4× smaller index) → load → search with
      // dequantized cosine. nProbe = nCells makes the probe exhaustive, so
      // the result is exactly the quantized cosine top-k — which the oracle
      // reproduces with the same quantization math in DuckDB list SQL.
      val path = java.nio.file.Files.createTempDirectory("graft_verify_sq8").toString + "/idx"
      val e = read(s, dir, "embeddings")
      val qv = e.filter(col("vec_id") === 3).select("embedding")
        .head().getSeq[Float](0)
      val withVec = e.withColumnRenamed("embedding", EmbedOps.vecCol("emb"))
      val (indexed, model) = graft.embed.IvfIndex.build(withVec, "emb", nCells = 8)
      graft.embed.IvfIndex.save(indexed, model, "emb", "vec_id", path, sq8 = true)
      indexed.unpersist()
      val (loaded, lModel) = graft.embed.IvfIndex.load(s, path)
      graft.embed.IvfIndex.search(loaded, lModel, "emb", qv, k = 12, nProbe = 8,
          scoreCol = "raw", tieBreak = Seq(col("vec_id")))
        .orderBy(col("raw").desc, col("vec_id"))
        .select(col("vec_id"), round(col("raw"), 3).as("score"))
    }),

    "ann_ivfpq_search" -> ((s, dir) => {
      // IVF-PQ: coarse cells + per-subspace product codes through the full
      // durable lifecycle — build IVF → fit/encode PQ (m=8, ksub=16: the
      // 64-dim float vector becomes 8 small codes, ~16× less index IO) →
      // save cell-partitioned → load → probe and score on the
      // reconstruction cosine. With nProbe = nCells the probe is
      // exhaustive, so the result is exactly the quantized cosine top-k,
      // which the oracle reproduces from the pinned codebooks in DuckDB
      // list SQL; nProbe < nCells recall and the O(m) ADC lookup kernel
      // are covered by PqSpec.
      val path = java.nio.file.Files.createTempDirectory("graft_verify_pq").toString + "/idx"
      val e = read(s, dir, "embeddings")
      val qv = e.filter(col("vec_id") === 5).select("embedding")
        .head().getSeq[Float](0)
      val withVec = e.withColumnRenamed("embedding", EmbedOps.vecCol("emb"))
      val (indexed, ivf) = graft.embed.IvfIndex.build(withVec, "emb", nCells = 8)
      // fitSampleFraction = 1.0 pins the codebooks to the full vector
      // multiset — the same pure-function-of-testdata fit the oracle's
      // literal codebooks were generated from (OracleConstants).
      val pq = graft.embed.ProductQuantizer.fit(indexed, "emb", m = 8, ksub = 16,
        fitSampleFraction = 1.0)
      val quantized = graft.embed.ProductQuantizer.quantize(indexed, "emb", pq)
      graft.embed.ProductQuantizer.save(quantized, pq, Some(ivf), "emb", "vec_id", path)
      indexed.unpersist()
      val (loaded, lpq, livf) = graft.embed.ProductQuantizer.load(s, path)
      graft.embed.ProductQuantizer.search(loaded, "emb", lpq, qv, k = 12,
          ivf = livf, nProbe = 8, adc = false, scoreCol = "raw",
          tieBreak = Seq(col("vec_id")))
        .orderBy(col("raw").desc, col("vec_id"))
        .select(col("vec_id"), round(col("raw"), 3).as("score"))
    }),

    "text_stats" -> ((s, dir) => {
      read(s, dir, "documents").select(
        col("doc_id"),
        TF.tokenCount(col("text")).cast("long").as("n_tokens"),
        TF.bpeTokenEstimate(col("text")).cast("long").as("n_bpe"),
        round(TF.punctRatio(col("text")), 4).as("punct_ratio"),
        round(TF.stopwordRatio(col("text")), 4).as("stop_ratio"),
        TF.qualityScore(col("text")).as("quality"),
        TF.langId(col("text")).as("pred_lang"),
        TF.fingerprint(col("text")).as("fp")
      ).orderBy("doc_id")
    }),

    "text_normalize" -> ((s, dir) => {
      // Unicode canonicalization, gated bit-exactly: append a DECOMPOSED
      // tail (e+U+0301, u+U+0308, n+U+0303, plus Ø which neither engine
      // touches) to every doc, NFC-compose it, and strip accents — DuckDB
      // reproduces both via nfc_normalize / strip_accents over the
      // identical construction. The op the byte-level dedup/decontamination
      // stack needs FIRST, or composed and decomposed forms of the same
      // text count as different documents.
      val t2 = concat(col("text"), lit(decomposedTail))
      read(s, dir, "documents").select(col("doc_id"),
          UE.nfcNormalize(t2).as("nfc"),
          UE.stripAccents(t2).as("plain"))
        .orderBy("doc_id")
    }),

    "blocklist_filter" -> ((s, dir) => {
      // The C4 "bad words" content filter at list scale: ONE Aho–Corasick
      // pass per row reports the distinct blocklist terms present
      // (case-insensitive substrings, phrases included) — per-pattern
      // contains() scans are O(text·patterns) and a real list runs to
      // tens of thousands. The oracle replays the membership semantics
      // exactly: filter(patterns, p -> contains(lower(text), p)).
      val pats = Seq("spark", "slow query", "drop table", "scan merge",
        "customer")
      val d = read(s, dir, "documents")
      d.select(col("doc_id"),
          graft.functions.TextFunctions.blocklistMatches(col("text"), pats)
            .as("m"))
        .select(col("doc_id"), array_join(col("m"), ",").as("matched"),
          (size(col("m")) === 0).as("kept"))
        .orderBy("doc_id")
    }),

    "ccnet_pipeline" -> ((s, dir) => {
      // The CCNet cleaning cascade END TO END as one composition (arXiv
      // 1911.00359: content filter → language ID → LM perplexity cut),
      // pinning what the single-op gates cannot: every model RETRAINS on
      // the corpus its upstream stages left behind. Stage 1 drops docs
      // containing a blocklist term (one automaton pass); stage 2 refits
      // the char-ngram NB language classifier ON THE SURVIVORS and drops
      // docs whose predicted language disagrees with their metadata label
      // (the mislabel guard) OR whose prediction is LOW-CONFIDENCE
      // (lang_margin < 2.0 — the published cascade routes uncertain
      // language IDs out of the clean bucket, not just disagreements;
      // 2.0 log-points sits far above cross-engine float drift, the ppl
      // mean-cut convention); stage 3 refits the bigram LM ON THOSE and
      // keeps docs under a perplexity ceiling. The oracle replays all
      // three stages from scratch over the same shrinking corpora.
      val pats = Seq("spark", "slow query", "drop table", "scan merge",
        "customer")
      val d = read(s, dir, "documents")
      val s1 = d.filter(size(graft.functions.TextFunctions.blocklistMatches(
        col("text"), pats)) === 0)
      val langM = graft.operators.QualityClassifier.trainLangNB(
        s1, "text", "lang")
      // s2 is consumed by BOTH the LM refit and the perplexity scoring —
      // stage it once so each consumer doesn't replay the automaton +
      // NB-fold lineage (s1 is consumed only inside the one train/score
      // pair; staging it costs more than the replay saves).
      // Stage the SCORED frame, filter after: the NB fold is a
      // CodegenFallback kernel, and a filter referencing two of its
      // struct fields (pred AND margin) through live lineage would
      // re-evaluate the whole fold per field (predicate pushdown
      // substitutes the alias into each reference; no CSE outside
      // whole-stage codegen — measured ~2× this gate). Materializing
      // the three scalar columns once costs a row-width, not a fold.
      val s2 = graft.core.Persist.stage(
        graft.operators.QualityClassifier.scoreLangNB(s1, "text", langM))
        .filter(col("lang_pred") === col("lang") &&
          col("lang_margin") >= 2.0)
        .select(d.columns.map(col): _*)
      val lm = graft.operators.NgramLm.fitNgramLM(
        s2, "text", order = 2, minCount = 2L)
      val scored = graft.core.Persist.stage(
        graft.operators.NgramLm.perplexity(s2, "text", lm))
      // Keep the below-mean-perplexity half — CCNet's "head" cut with a
      // data-dependent threshold, live at every scale (a literal ceiling
      // tuned at sf0.01 dropped EVERYTHING at sf0.1: the refit LM's ppl
      // range shifts with corpus size). The mean is a driver scalar; the
      // boundary is safe because no real ppl sits within float-sum drift
      // of it.
      val thr = scored.agg(avg(col("ppl"))).head().getDouble(0)
      scored.filter(col("ppl") < thr)
        .select(col("doc_id"), round(col("ppl"), 4).as("ppl"))
        .orderBy("doc_id")
    }),

    "ccnet_ppl_buckets" -> ((s, dir) => {
      // CCNet's published head/middle/tail artifact (arXiv 1911.00359
      // §4.3): per-LANGUAGE perplexity tertiles — the released corpus
      // ships in exactly these buckets. Bigram-LM ppl (the KenLM
      // stand-in the ppl_bigram gate pins), rounded to 2 decimals for
      // bucket stability, then the bounded-histogram grouped
      // percent-rank (never a corpus-wide window) and the 1/3, 2/3
      // cuts. Low perplexity = head.
      val d = read(s, dir, "documents")
      val lm = graft.operators.NgramLm.fitNgramLM(
        d, "text", order = 2, minCount = 2L)
      // Staged before filter/round/rank — through collapsed projections
      // every struct-field reference re-runs the scoring fold (the
      // ccnet_pipeline discipline; measured 15x on the order-5 sibling).
      val scored = graft.core.Persist.stage(
          graft.operators.NgramLm.perplexity(d, "text", lm))
        .filter(col("ppl").isNotNull)
        .withColumn("ppl_r", round(col("ppl"), 2))
        .select("doc_id", "lang", "ppl_r")
      CorpusPrep.scorePercentRankByGroup(scored, "lang", "ppl_r")
        .withColumn("bucket",
          when(col("score_pct") < 1.0 / 3, "head")
            .when(col("score_pct") < 2.0 / 3, "middle")
            .otherwise("tail"))
        .select(col("doc_id"), col("lang"),
          round(col("score_pct"), 6).as("ppl_pct"), col("bucket"))
        .orderBy("doc_id")
    }),

    "ccnet_ppl_buckets_tri" -> ((s, dir) => {
      // The trigram OPTION of the CCNet head/middle/tail artifact: the
      // same tertile construction with the two-level Jelinek–Mercer
      // trigram LM (ppl_trigram) in place of the bigram — one order
      // closer to the published 5-gram KenLM stage, same bounded
      // grouped percent-rank, never a corpus-wide window.
      val d = read(s, dir, "documents")
      val lm = graft.operators.NgramLm.fitNgramLM(
        d, "text", order = 3, minCount = 2L)
      // Staged before filter/round/rank — through collapsed projections
      // every struct-field reference re-runs the scoring fold (the
      // ccnet_pipeline discipline; measured 15x on the order-5 sibling).
      val scored = graft.core.Persist.stage(
          graft.operators.NgramLm.perplexity(d, "text", lm))
        .filter(col("ppl").isNotNull)
        .withColumn("ppl_r", round(col("ppl"), 2))
        .select("doc_id", "lang", "ppl_r")
      CorpusPrep.scorePercentRankByGroup(scored, "lang", "ppl_r")
        .withColumn("bucket",
          when(col("score_pct") < 1.0 / 3, "head")
            .when(col("score_pct") < 2.0 / 3, "middle")
            .otherwise("tail"))
        .select(col("doc_id"), col("lang"),
          round(col("score_pct"), 6).as("ppl_pct"), col("bucket"))
        .orderBy("doc_id")
    }),

    "ccnet_ppl_buckets_5" -> ((s, dir) => {
      // The head/middle/tail artifact at CCNet's PUBLISHED order: the
      // same per-language perplexity tertiles with the 5-gram
      // hashed-key JM LM (ppl_5gram) as the KenLM stand-in — same
      // bounded grouped percent-rank, never a corpus-wide window.
      val d = read(s, dir, "documents")
      val lm = graft.operators.NgramLm.fitNgramLM(
        d, "text", order = 5, minCount = 2L)
      // Stage BEFORE filter/round/rank: unstaged, the filter + the
      // percent-rank's two consumers re-run the order-5 fold per struct
      // field reference — measured 15× this gate at sf0.1 (87 s → the
      // single-fold cost), the ccnet_pipeline discipline.
      val scored = graft.core.Persist.stage(
          graft.operators.NgramLm.perplexity(d, "text", lm))
        .filter(col("ppl").isNotNull)
        .withColumn("ppl_r", round(col("ppl"), 2))
        .select("doc_id", "lang", "ppl_r")
      CorpusPrep.scorePercentRankByGroup(scored, "lang", "ppl_r")
        .withColumn("bucket",
          when(col("score_pct") < 1.0 / 3, "head")
            .when(col("score_pct") < 2.0 / 3, "middle")
            .otherwise("tail"))
        .select(col("doc_id"), col("lang"),
          round(col("score_pct"), 6).as("ppl_pct"), col("bucket"))
        .orderBy("doc_id")
    }),

    "embed_hard_negatives" -> ((s, dir) => {
      // Hard-negative mining: per anchor, the 3 nearest embeddings with
      // a DIFFERENT (synthetic, vec_id % 3) label — filter BEFORE the
      // per-anchor top-k, so every anchor receives 3 true negatives.
      // Exact broadcast tier on 30 anchors; ties break on neg_id.
      val e = read(s, dir, "embeddings")
        .withColumnRenamed("embedding", graft.operators.EmbedOps.vecCol("emb"))
        .withColumn("label", col("vec_id") % 3)
      graft.operators.EmbedOps.hardNegatives(
          e.filter(col("vec_id") < 30), e, "emb", "vec_id", "label", k = 3)
        .select(col("anchor_id"), col("neg_id"), col("neg_label"),
          round(col("_score"), 3).as("score"))
        .orderBy(col("anchor_id"), col("score").desc, col("neg_id"))
    }),

    "embed_hard_negatives_ivf" -> ((s, dir) => {
      // The over-fetch ANN route for hard negatives: top-40 by cosine
      // through the IVF index at nProbe = nCells (exhaustive probes →
      // full-corpus candidate set → the two-stage truncation is
      // deterministic and SQL-replayable; the self-hit crowds one
      // fetched slot and the label filter removes it), then
      // label-filter, then top-3. Pins the over-fetch SEMANTICS the
      // approximate tiers inherit.
      val e = read(s, dir, "embeddings")
        .withColumnRenamed("embedding", graft.operators.EmbedOps.vecCol("emb"))
        .withColumn("label", col("vec_id") % 3)
      val (indexed, model) = graft.embed.IvfIndex.build(e, "emb", nCells = 8)
      graft.operators.EmbedOps.hardNegativesIvf(
          e.filter(col("vec_id") < 20), indexed, model, "emb", "vec_id",
          "label", k = 3, nFetch = 40, nProbe = 8)
        .select(col("anchor_id"), col("neg_id"), col("neg_label"),
          round(col("_score"), 3).as("score"))
        .orderBy(col("anchor_id"), col("score").desc, col("neg_id"))
    }),

    "embed_hard_negatives_ivf_auto" -> ((s, dir) => {
      // The recall-aware AUTO probe tier (nProbe = 0, the minhashPairs
      // bands-=-0 convention) live end to end: the cheapest tier whose
      // sampled fetch recall meets targetRecall = 1.0 runs the mining.
      // The tier choice is deterministic (lowest-id anchor sample,
      // exact per-tier recall at the real geometry), and at full sampled
      // recall the fetched candidates reproduce the exhaustive top-40
      // for every anchor on this corpus — so the SAME exhaustive oracle
      // applies. Pins the decision machinery: tier table, cheapest-pick,
      // the route at the picked tier.
      val e = read(s, dir, "embeddings")
        .withColumnRenamed("embedding", graft.operators.EmbedOps.vecCol("emb"))
        .withColumn("label", col("vec_id") % 3)
      val (indexed, model) = graft.embed.IvfIndex.build(e, "emb", nCells = 8)
      graft.operators.EmbedOps.hardNegativesIvf(
          e.filter(col("vec_id") < 20), indexed, model, "emb", "vec_id",
          "label", k = 3, nFetch = 40, targetRecall = 1.0)
        .select(col("anchor_id"), col("neg_id"), col("neg_label"),
          round(col("_score"), 3).as("score"))
        .orderBy(col("anchor_id"), col("score").desc, col("neg_id"))
    }),

    "url_dedup" -> ((s, dir) => {
      // URL canonicalization + dedup — the FIRST dedup key of a crawl
      // pipeline (before any content pass): raw URLs are synthesized
      // deterministically from doc_id in BOTH engines, six variants per
      // group covering scheme/host case, default :80/:443 ports,
      // fragments, tracking params (utm_* case-insensitive, fbclid,
      // ref), param order, bare-root paths, and a scheme-less opaque
      // passthrough. The kernel's normal form is replayed step for step
      // in SQL; keep = min doc_id per normalized URL.
      val d = read(s, dir, "documents")
      val g = (col("doc_id") % 25).cast("string")
      val v = col("doc_id") % 6
      val url = when(v === 0, concat(lit("http://www.Site"), g,
          lit(".com/article/"), g, lit("?b=2&a=1")))
        .when(v === 1, concat(lit("HTTP://WWW.SITE"), g,
          lit(".COM:80/article/"), g, lit("?a=1&b=2#frag")))
        .when(v === 2, concat(lit("http://www.site"), g,
          lit(".com:80/article/"), g, lit("?utm_source=x&a=1&UTM_Medium=y&b=2")))
        .when(v === 3, concat(lit("http://www.site"), g,
          lit(".com/article/"), g, lit("?a=1&fbclid=zz&b=2&ref=tw")))
        .when(v === 4, concat(lit("https://Site"), g, lit(".com:443/")))
        .otherwise(concat(lit("site"), g, lit(".com/article/"), g))
      d.select(col("doc_id"),
          graft.functions.UrlExpr.urlNormalize(url).as("url_norm"))
        .groupBy("url_norm").agg(min("doc_id").as("doc_id"))
        .select("doc_id", "url_norm").orderBy("doc_id")
    }),

    "domain_cap" -> ((s, dir) => {
      // Domain-level curation — the FineWeb/RefinedWeb stage a per-page
      // filter cannot express (an SEO-spam domain contributes millions of
      // near-identical pages): PSL registrable-domain keying (the full
      // algorithm over the pinned snapshot; this gate's planted .com /
      // .co.uk URLs key identically under the documented heuristic the
      // oracle replays — psl_domain pins the PSL-only families),
      // per-domain stats, and a deterministic cap of 5 docs/domain
      // (quotaPerGroup — WindowGroupLimit, not a full sort). Raw URLs are
      // synthesized from doc_id in BOTH engines: www/blog/shop subdomains
      // that must collapse to one registrable domain, a site.co.uk
      // 3-label case, mixed host case, and a scheme-less entry.
      val d = read(s, dir, "documents")
      val g = (col("doc_id") % 10).cast("string")
      val p = col("doc_id").cast("string")
      val v = col("doc_id") % 4
      val url = when(v === 0, concat(lit("http://www.Site"), g, lit(".com/p"), p))
        .when(v === 1, concat(lit("http://blog.site"), g, lit(".com/p"), p, lit("?x=1")))
        .when(v === 2, concat(lit("https://shop.site"), g, lit(".co.uk/p"), p))
        .otherwise(concat(lit("site"), g, lit(".com/p"), p))
      // Key once, stage, and feed BOTH the stats and the cap from the
      // staged frame — the PSL chain (the expensive per-row kernel here)
      // runs a single time over the corpus.
      val withDom = graft.core.Persist.stage(
        CorpusPrep.withRegistrableDomain(
            d.select(col("doc_id"), url.as("__url")), "__url", "domain")
          .select("doc_id", "domain"))
      val stats = CorpusPrep.domainStatsFromDomains(withDom, "domain")
      CorpusPrep.quotaPerGroup(withDom, "domain", "doc_id", quota = 5)
        .join(broadcast(stats), "domain")
        .select("doc_id", "domain", "n_docs", "share").orderBy("doc_id")
    }),

    "psl_domain" -> ((s, dir) => {
      // Public-Suffix-List registrable domains on planted edge cases —
      // the full PSL algorithm (exact/wildcard/exception rules,
      // longest-match) over the pinned snapshot resource, with the
      // DuckDB oracle's CASE expression GENERATED from the same parsed
      // snapshot, so both engines read one rule set. Cases: default
      // rule, .co.uk exact, .kyoto.jp prefecture, *.kobe.jp wildcard,
      // !city.kobe.jp exception, a host that IS a public suffix
      // (school.sch.uk, scheme-less), k12.ca.us 3-label rule behind a
      // port, and a deep subdomain chain.
      val d = read(s, dir, "documents")
      val g = (col("doc_id") % 10).cast("string")
      val p = col("doc_id").cast("string")
      val v = col("doc_id") % 8
      val url = when(v === 0, concat(lit("http://www.Site"), g, lit(".com/p"), p))
        .when(v === 1, concat(lit("https://shop.site"), g, lit(".co.uk/a?x=1")))
        .when(v === 2, concat(lit("http://blog.site"), g, lit(".kyoto.jp/p"), p))
        .when(v === 3, concat(lit("http://x.site"), g, lit(".kobe.jp/")))
        .when(v === 4, concat(lit("http://www.city.kobe.jp/ward"), g))
        .when(v === 5, concat(lit("school"), g, lit(".sch.uk/home")))
        .when(v === 6, concat(lit("https://my.school"), g, lit(".k12.ca.us:8080/x")))
        .otherwise(concat(lit("http://deep.a.b.site"), g, lit(".com/x")))
      CorpusPrep.withRegistrableDomain(
          d.select(col("doc_id"), url.as("__url")), "__url", "domain")
        .select("doc_id", "domain")
        .orderBy("doc_id")
    }),

    "text_markup_strip" -> ((s, dir) => {
      // Markdown + LaTeX normalization to prose (the arXiv/GitHub corpus
      // stage): deterministic markup is wrapped around the corpus text in
      // BOTH engines — fences, images, links, headings, emphasis,
      // blockquotes, rules on the markdown side; comments, inline and
      // display math, starred/optioned commands with kept brace args on
      // the TeX side — and the fixed-order regex chains must strip it
      // identically, md5-pinned.
      val g = (col("doc_id") % 5).cast("string")
      val md = concat(lit("# Heading "), g, lit("\n**bold"), g,
        lit("** and *ital* [link text](http://example.com/"), g,
        lit(") ![alt"), g, lit("](img.png)\n```\n"), col("text"),
        lit("\n```\n> quoted line\n---\n"), col("text"))
      val tex = concat(lit("\\section{Intro "), g, lit("}% trailing comment\n"),
        lit("\\textbf{"), col("text"), lit("} $x^2 + y_"), g,
        lit("$ and $$\\sum_i i$$ \\emph{end}\\\\"))
      read(s, dir, "documents").select(col("doc_id"),
          md5(to_binary(TF.markdownStrip(md), lit("utf-8"))).as("md_md5"),
          md5(to_binary(TF.latexStrip(tex), lit("utf-8"))).as("tex_md5"))
        .orderBy("doc_id")
    }),

    "gopher_quality_filter" -> ((s, dir) => {
      // Gopher's document-level quality rules (Rae et al., arXiv
      // 2112.11446 Table A1) as ONE keep/drop composition over the
      // line-reshaped corpus (the text_line_stats construction, so the
      // line rules bite): word count in [50, 100000], mean word length
      // in [3, 10], symbol-to-word ratio <= 0.1, >= 80% alphabetic
      // words, <= 90% bulleted lines, <= 30% ellipsis lines, and >= 2
      // distinct hits on Gopher's 8-word stopword set. The repetition
      // block of Table A1 is individually gated in text_repetition —
      // this pins the published composition plus every per-rule signal.
      val t2 = concat(
        regexp_replace(col("text"), "\\. ", ".\n"),
        when(col("doc_id") % 3 === 0,
          lit("\n- bullet item\nsnipped tail...")).otherwise(lit("")))
      val gopherStops = Seq("the", "be", "to", "of", "and", "that",
        "have", "with")
      val d = read(s, dir, "documents")
        .select(col("doc_id"), t2.as("t2"))
      val sig = d.select(col("doc_id"),
        TF.tokenCount(col("t2")).cast("long").as("n_words"),
        TF.meanWordLen(col("t2")).as("mwl"),
        TF.symbolWordRatio(col("t2")).as("sym"),
        TF.alphaWordFraction(col("t2")).as("alpha"),
        TF.bulletLineFraction(col("t2")).as("bullet"),
        TF.ellipsisLineFraction(col("t2")).as("ellip"),
        size(array_intersect(
          array_distinct(split(lower(trim(col("t2"))), "\\s+")),
          typedlit(gopherStops))).cast("long").as("n_stop_hits"))
      sig.withColumn("kept",
          col("n_words").between(50L, 100000L) &&
            col("mwl").between(3.0, 10.0) && col("sym") <= 0.1 &&
            col("alpha") >= 0.8 &&
            coalesce(col("bullet") <= 0.9, lit(true)) &&
            coalesce(col("ellip") <= 0.3, lit(true)) &&
            col("n_stop_hits") >= 2L)
        .select(col("doc_id"), col("n_words"),
          round(col("mwl"), 4).as("mean_word_len"),
          round(col("sym"), 4).as("symbol_ratio"),
          round(col("alpha"), 4).as("alpha_frac"),
          round(col("bullet"), 4).as("bullet_frac"),
          round(col("ellip"), 4).as("ellipsis_frac"),
          col("n_stop_hits"), col("kept"))
        .orderBy("doc_id")
    }),

    "c4_quality_filter" -> ((s, dir) => {
      // C4's published cleaning composition (arXiv 1910.10683 §2.2) as
      // one gated operator, the Gopher-gate sibling: line retention
      // (terminal punctuation, >= 5 words, no "javascript" mention —
      // TF.c4LineClean) and the page rules on top (>= 3 sentences in
      // the retained text, no "lorem ipsum", no curly bracket; the
      // production dirty-word pass is the gated blocklist automaton —
      // a lower-contains stand-in here keeps the oracle identical).
      // The corpus is period-less word soup, so the adapter CONSTRUCTS
      // sentences — 8-word chunks each terminated with '.' (a final
      // chunk under 5 words is dropped by the word floor: that rule is
      // live on real doc lengths) — then deterministic plants make the
      // other rules bite: doc%5 a javascript line (line-dropped), doc%7
      // a no-punct crumb (line-dropped), doc%9 a curly-bracket artifact
      // (page-dropped), doc%11 a Lorem Ipsum line (page-dropped),
      // doc%13 an unsafeword sentence that PASSES the line rules but
      // kills the page.
      val sent = array_join(transform(
        sequence(lit(0),
          ceil(size(col("__w")) / lit(8.0)).cast("int") - 1),
        i => concat(array_join(slice(col("__w"), i * 8 + 1, lit(8)), " "),
          lit("."))), "\n")
      val t2 = concat(
        sent,
        when(col("doc_id") % 5 === 0,
          lit("\nclick here to enable javascript support today."))
          .otherwise(lit("")),
        when(col("doc_id") % 7 === 0, lit("\nnav crumb")).otherwise(lit("")),
        when(col("doc_id") % 9 === 0,
          lit("\ntemplate artifact { unrendered block.")).otherwise(lit("")),
        when(col("doc_id") % 11 === 0,
          lit("\nLorem Ipsum dolor sit amet placeholder text here."))
          .otherwise(lit("")),
        when(col("doc_id") % 13 === 0,
          lit("\nthis sentence mentions unsafeword clearly and loudly."))
          .otherwise(lit("")))
      // __w and __clean each bound in their own projection: the word
      // array is read inside the chunking lambda, and __clean is
      // referenced three times below — inlined, either would re-evaluate
      // per use (the documented lambda re-evaluation hazard).
      read(s, dir, "documents")
        .select(col("doc_id"), split(trim(col("text")), "\\s+").as("__w"))
        .select(col("doc_id"), t2.as("t2"))
        .withColumn("__clean", TF.c4LineClean(col("t2")))
        .select(col("doc_id"),
          when(length(col("__clean")) === 0, 0L)
            .otherwise(size(split(col("__clean"), "\n")).cast("long"))
            .as("n_lines_kept"),
          size(regexp_extract_all(col("__clean"), lit("[.!?]"), lit(0)))
            .cast("long").as("n_sentences"),
          (size(regexp_extract_all(col("__clean"), lit("[.!?]"), lit(0))) >= 3 &&
            !lower(col("t2")).contains("lorem ipsum") &&
            !col("t2").contains("{") &&
            !lower(col("t2")).contains("unsafeword")).as("kept"),
          md5(to_binary(col("__clean"), lit("utf-8"))).as("clean_md5"))
        .orderBy("doc_id")
    }),

    "text_line_stats" -> ((s, dir) => {
      // Line-level Gopher/C4 rules (bulleted-line, ellipsis-line, and
      // short-line fractions). The gate corpus is single-line, so the
      // adapter deterministically reshapes it — sentence breaks become
      // newlines, every third doc gains a bullet line and a truncated
      // line — and the oracle performs the IDENTICAL construction, so the
      // fractions are hash-verified on genuinely multi-line text.
      val t2 = concat(
        regexp_replace(col("text"), "\\. ", ".\n"),
        when(col("doc_id") % 3 === 0,
          lit("\n- bullet item\nsnipped tail...")).otherwise(lit("")))
      read(s, dir, "documents").select(col("doc_id"),
          round(TF.bulletLineFraction(t2), 4).as("bullet_frac"),
          round(TF.ellipsisLineFraction(t2), 4).as("ellipsis_frac"),
          round(TF.shortLineFraction(t2, 3), 4).as("short_frac"))
        .orderBy("doc_id")
    }),

    "multimodal_prompt" -> ((s, dir) => {
      // Image column → LLM prompt end-to-end: tag the column as an image,
      // sem_map resolves refs into chat image parts (LMRequest.images); the
      // fake answers with the data-URI payload length, a pure function of
      // the source text → DuckDB-checkable.
      Sem.withLM(FakeLM(FakeBehavior.ImagePayloadLen)) {
        val d = read(s, dir, "documents")
          // Spark base64() emits RFC-2045 line breaks — strip to plain b64.
          .withColumn("img", regexp_replace(
            base64(to_binary(col("text"), lit("utf-8"))), "[\\r\\n]", ""))
        MultimodalOps.tagImage(d, "img")
          .semMap("describe the {img}")
          .select(col("doc_id"), col("_map").cast("long").as("n_img_chars"))
          .orderBy("doc_id")
      }
    }),

    "bm25_search" -> ((s, dir) => {
      // Sparse lexical retrieval beside the dense sem_search tier: ad-hoc
      // BM25 with per-row tf expressions + one broadcast stats row — no
      // corpus explode, no posting shuffle, TakeOrderedAndProject top-k.
      // The oracle reproduces the score double-for-double (same IEEE op
      // order), rounded to 3.
      Lexical.bm25Search(read(s, dir, "documents"), "text",
          "spark join window", k = 10, tieBreak = Seq(col("doc_id")))
        .select(col("doc_id"), round(col("bm25"), 3).as("score"))
    }),

    "bm25_delete" -> ((s, dir) => {
      // Deletion lifecycle of the durable inverted index: save on ALL
      // docs, tombstone every third doc_id (O(batch) write, zero index
      // IO), then search — deleted docs can never return and per-term df
      // is survivor-fresh, while (n, avgdl) stay stale until compaction:
      // the Lucene pre-merge contract, mirrored EXACTLY in the oracle
      // (stale totals × fresh df). The adapter then compacts to a fresh
      // path and requires the compacted search to equal a clean rebuild
      // on the survivors — stats recomputation is exact.
      val tmp = java.nio.file.Files.createTempDirectory("graft_verify_bm25del").toString
      val d = read(s, dir, "documents")
      LexIndex.save(d, "text", "doc_id", s"$tmp/idx")
      val ndel = LexIndex.delete(
        d.filter(col("doc_id") % 3 === 0), "doc_id", s"$tmp/idx")
      require(ndel > 0, "bm25_delete removed no ids")
      def run(p: String) = LexIndex.search(s, p, "spark join window", k = 10)
        .select(col("id").as("doc_id"), round(col("bm25"), 3).as("score"))
      val tombstoned = run(s"$tmp/idx")
      LexIndex.compactDeletes(s, s"$tmp/idx", s"$tmp/compacted")
      LexIndex.save(d.filter(col("doc_id") % 3 =!= 0), "text", "doc_id",
        s"$tmp/rebuild")
      val comp = run(s"$tmp/compacted")
      val reb = run(s"$tmp/rebuild")
      requireSameRows(comp, reb,
        "compacted index diverged from a clean rebuild on the survivors")
      tombstoned.orderBy(col("score").desc, col("doc_id"))
    }),

    "bm25_refresh" -> ((s, dir) => {
      // Incremental refresh of the lexical tier — the sparse sibling of
      // embed_incremental_refresh: diff two corpus snapshots by content
      // fingerprint, tombstone removed+changed, COMPACT (stats recompute
      // exactly; append refuses shadowed ids by contract), append only
      // changed+added. The refreshed search must equal BM25 over the NEW
      // snapshot — the oracle computes it from scratch, which IS the
      // clean-rebuild truth, so refresh ≡ rebuild without re-indexing
      // the unchanged bulk. Snapshot 2 is pure arithmetic: %10==1 removed,
      // %10==2 text-suffixed, suffixed copies of %10==3 added at +100000.
      // The save fixes 16 buckets; the compaction re-derives the count from
      // the data, so the append and search run on that count.
      val tmp = java.nio.file.Files.createTempDirectory("graft_verify_bm25ref").toString
      val d = read(s, dir, "documents").select("doc_id", "text")
      val changed = d.filter(col("doc_id") % 10 === 2)
        .withColumn("text", concat(col("text"), lit(" graft refreshed")))
      val added = d.filter(col("doc_id") % 10 === 3)
        .withColumn("doc_id", col("doc_id") + 100000)
        .withColumn("text", concat(col("text"), lit(" appended copy")))
      val snap2 = d.filter(col("doc_id") % 10 =!= 1 && col("doc_id") % 10 =!= 2)
        .unionByName(changed).unionByName(added)
      LexIndex.save(d, "text", "doc_id", s"$tmp/idx", nBuckets = 16)
      val diff = CorpusPrep.diffSnapshots(d, snap2, "doc_id", "text")
      val stale = diff.filter(col("status").isin("removed", "changed"))
        .select("doc_id")
      require(LexIndex.delete(stale, "doc_id", s"$tmp/idx") > 0,
        "bm25_refresh tombstoned no ids")
      LexIndex.compactDeletes(s, s"$tmp/idx", s"$tmp/idx2")
      val fresh = diff.filter(col("status").isin("added", "changed"))
        .select("doc_id")
      LexIndex.append(snap2.join(fresh, Seq("doc_id"), "left_semi"),
        "text", "doc_id", s"$tmp/idx2")
      // No engine-side rebuild cross-check: the oracle IS BM25 over
      // snapshot 2 — exactly what a clean rebuild computes — so building
      // a second index here would only double the gate's write cost.
      LexIndex.search(s, s"$tmp/idx2", "spark join window", k = 10)
        .select(col("id").as("doc_id"), round(col("bm25"), 3).as("score"))
        .orderBy(col("score").desc, col("doc_id"))
    }),

    "bm25_saved" -> ((s, dir) => {
      // The durable inverted-index lifecycle: build → save (term-bucket-
      // partitioned postings, pruned at query time like IVF cells) → search.
      // Same result as ad-hoc BM25, so the same oracle covers the index
      // build, pruning, df computation and score assembly end to end.
      val path = java.nio.file.Files.createTempDirectory("graft_verify_lex").toString + "/idx"
      LexIndex.save(read(s, dir, "documents"), "text", "doc_id", path, nBuckets = 16)
      LexIndex.search(s, path, "spark join window", k = 10)
        .select(col("id").as("doc_id"), round(col("bm25"), 3).as("score"))
    }),

    "bm25_batch_search" -> ((s, dir) => {
      // Batch retrieval over the saved inverted index: THREE queries in
      // ONE job — the postings scan prunes to the union of the queries'
      // term buckets, per-term df is computed once and shared, the
      // (query, term) table broadcasts into the postings join, and
      // per-query top-8 lowers to WindowGroupLimit. The oracle reproduces
      // each query's BM25 score assembly exactly (shared-term df reuse
      // included: q1 and q3 both probe 'spark').
      val path = java.nio.file.Files.createTempDirectory("graft_verify_lexb").toString + "/idx"
      LexIndex.save(read(s, dir, "documents"), "text", "doc_id", path, nBuckets = 16)
      LexIndex.searchBatch(s, path,
          Seq(1L -> "spark join", 2L -> "window filter", 3L -> "spark window"),
          k = 8)
        .orderBy(col("qid"), col("bm25").desc, col("id"))
        .select(col("qid"), col("id").as("doc_id"),
          round(col("bm25"), 3).as("score"))
    }),

    "bm25_append" -> ((s, dir) => {
      // Incremental sparse index growth: save on even doc_ids into a fixed
      // 16 buckets (the default would size the count from the data), APPEND
      // the odd ones (same hash buckets via the stats sidecar, dynamic-
      // partition postings append, n/Σdl updated), search the grown index.
      // Integer-valued stats make the updated totals exactly the fresh
      // build's, so the same full-corpus oracle hash-verifies the append.
      val path = java.nio.file.Files.createTempDirectory("graft_verify_lexapp").toString + "/idx"
      val d = read(s, dir, "documents")
      LexIndex.save(d.filter(col("doc_id") % 2 === 0), "text", "doc_id", path,
        nBuckets = 16)
      LexIndex.append(d.filter(col("doc_id") % 2 === 1), "text", "doc_id", path)
      LexIndex.search(s, path, "spark join window", k = 10)
        .select(col("id").as("doc_id"), round(col("bm25"), 3).as("score"))
    }),

    "hybrid_search_rrf" -> ((s, dir) => {
      // Hybrid retrieval: BM25 top-20 and dense-cosine top-20 fused by
      // reciprocal rank (k=60). Ranks are integers, 1/(60+r) is the same
      // double in any engine, and a two-element IEEE sum is order-exact —
      // so the fusion is hash-checkable on top of the two already-oracled
      // retrieval tiers (embeddings.vec_id aligns 1:1 with doc_id).
      val docs = read(s, dir, "documents")
      val lex = Lexical.bm25Search(docs, "text", "spark join window", k = 20,
          tieBreak = Seq(col("doc_id")))
        .select(col("doc_id").as("id"), col("bm25").as("score"))
      val e = read(s, dir, "embeddings")
      val qv = e.filter(col("vec_id") === 1).select("embedding")
        .head().getSeq[Float](0)
      val dense = EmbedOps.semSearchVec(
          e.withColumnRenamed("embedding", EmbedOps.vecCol("emb")), "emb", qv,
          k = 20, scoreCol = "score", tieBreak = Seq(col("vec_id")))
        .select(col("vec_id").as("id"), col("score"))
      Lexical.rrfFuse(Seq(lex, dense), "id", "score", k = 60, topK = 10)
        .select(col("id").as("doc_id"), round(col("rrf"), 6).as("score"))
    }),

    "hybrid_search_saved" -> ((s, dir) => {
      // Hybrid retrieval over the DURABLE tiers — the layout a 100 TB
      // deployment actually runs: BM25 from the term-bucket-pruned LexIndex
      // and dense cosine from the settings-routed IvfVS (nProbe = nCells →
      // exact), fused by reciprocal rank. Each tier's lifecycle is
      // individually oracled (bm25_saved, ann_ivf_vs); ranks are integers,
      // so the fusion is hash-exact on top — same truth as the ad-hoc
      // hybrid gate, reached through the saved indexes.
      val base = java.nio.file.Files.createTempDirectory("graft_verify_hyb").toString
      val docs = read(s, dir, "documents")
      LexIndex.save(docs, "text", "doc_id", base + "/lex", nBuckets = 16)
      val lex = LexIndex.search(s, base + "/lex", "spark join window", k = 20)
        .select(col("id"), col("bm25").as("score"))
      val e = read(s, dir, "embeddings")
      val qv = e.filter(col("vec_id") === 1).select("embedding")
        .head().getSeq[Float](0)
      val withVec = e.withColumnRenamed("embedding", EmbedOps.vecCol("emb"))
      val dense = Sem.withSettings(Sem.settings.copy(vs =
          Some(graft.embed.IvfVS(base + "/vs", nCells = 8, nProbe = 8)))) {
        EmbedOps.semIndexSave(withVec, "emb", "vec_id", "emb_idx")
        EmbedOps.semSearchStoreVec(s, "emb_idx", qv.toIndexedSeq, 20)
          .select(col("id"), col("score"))
      }
      Lexical.rrfFuse(Seq(lex, dense), "id", "score", k = 60, topK = 10)
        .select(col("id").as("doc_id"), round(col("rrf"), 6).as("score"))
    }),

    "decontaminate_ngram" -> ((s, dir) => {
      // Benchmark decontamination: every 20th document plays the eval set;
      // corpus rows are flagged with their distinct shared-5-gram count.
      // Hashed grams (tight-loop FNV kernel) vs the oracle's string grams —
      // identical counts up to 2^-64 collisions, the dedup_ngram_jaccard
      // convention. Eval docs flag themselves (full overlap), planted
      // near-dups of eval docs flag too.
      val d = read(s, dir, "documents")
      val eval = d.filter(col("doc_id") % 20 === 0)
      Decontaminate.flagContaminated(d, "doc_id", "text", eval, "text", n = 5)
        .select(col("doc_id"), col("contam_grams"), col("contaminated"))
        .orderBy("doc_id")
    }),

    "decontaminate_semantic" -> ((s, dir) => {
      // The EMBEDDING decontamination pass beside the n-gram one: corpus
      // vectors (even vec_ids) drop when within cosine 0.45 of ANY eval
      // vector (odd vec_ids) — the paraphrase-leakage guard. Eval
      // broadcasts; the anti-join is one short-circuiting nested-loop
      // probe per corpus row. Oracle = the exact NOT EXISTS.
      val e = read(s, dir, "embeddings")
      Decontaminate.dropContaminatedSemantic(
          e.filter(col("vec_id") % 2 === 0), "embedding",
          e.filter(col("vec_id") % 2 === 1), "embedding",
          threshold = 0.45)
        .select(col("vec_id")).orderBy("vec_id")
    }),

    "boilerplate_windows" -> ((s, dir) => {
      // Repeated-span boilerplate signal: per doc, distinct 8-word windows
      // shared with other docs + the boilerplate fraction. Hashed windows
      // in Spark vs string windows in the oracle (dedup_ngram_jaccard
      // convention). Planted near-dups light up; unique docs stay 0.
      Dedup.sharedWindowStats(read(s, dir, "documents"), "text", "doc_id",
          window = 8, minDocs = 2)
        .select(col("doc_id"), col("total_windows"), col("shared_windows"),
          col("boiler_frac"))
        .orderBy("doc_id")
    }),

    "boilerplate_strip" -> ((s, dir) => {
      // The cleaning counterpart: remove every word covered by an 8-word
      // window shared across >= 2 docs, keep the rest verbatim. The full
      // cleaned text is hash-verified (md5) so the oracle pins the exact
      // output string, not just counts.
      Dedup.stripSharedWindows(read(s, dir, "documents"), "text", "doc_id",
          window = 8, minDocs = 2)
        .select(col("doc_id"), col("n_removed"),
          md5(col("clean_text")).as("clean_md5"))
        .orderBy("doc_id")
    }),

    "dedup_exactsubstr" -> ((s, dir) => {
      // ExactSubstr dedup (Lee et al. 2022, arXiv 2107.06499) at
      // minMatchWords = 25: a deterministic 31-word boilerplate span is
      // appended to every 7th doc (the pii_redact injection convention —
      // the raw corpus has no cross-doc ≥25-word span, so the gate plants
      // the adversarial case in BOTH engines), and the cleaner must strip
      // exactly the repeated span — boundary windows straddling each doc's
      // distinct prefix are NOT shared and must survive — plus whatever
      // short exact-dup texts the corpus already carries (≤ w words form
      // one whole-doc window). Full cleaned text pinned by md5.
      val span = "this document is provided as is without warranty of any " +
        "kind either express or implied including but not limited to the " +
        "implied warranties of merchantability and fitness for a " +
        "particular purpose"
      val d = read(s, dir, "documents").withColumn("text",
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" " + span)))
          .otherwise(col("text")))
      Dedup.exactSubstrClean(d, "text", "doc_id", minMatchWords = 25)
        .select(col("doc_id"), col("n_removed"),
          md5(col("clean_text")).as("clean_md5"))
        .orderBy("doc_id")
    }),

    "dedup_exactsubstr_cs" -> ((s, dir) => {
      // The byte-exact (caseSensitive = true) ExactSubstr mode vs the
      // case-folding default, on spans that differ ONLY in casing: the
      // boilerplate span is planted in every 7th doc with a per-doc
      // UNIQUE case pattern (word i uppercased iff bit (i mod 13) of
      // doc_id — 13 bits > max doc_id's width repeated across the
      // 31-word span, so every 25-word window carries the full pattern
      // and no two docs ever share an in-span window byte-exactly).
      // Case-insensitive cleaning must strip the planted spans (they
      // fold to identical windows); case-sensitive cleaning must let
      // every planted span SURVIVE. Both modes' n_removed plus the
      // byte-exact cleaned text (md5) are pinned.
      val span = "this document is provided as is without warranty of any " +
        "kind either express or implied including but not limited to the " +
        "implied warranties of merchantability and fitness for a " +
        "particular purpose"
      val cased = concat_ws(" ",
        transform(split(lit(span), " "), (w, i) =>
          when(pmod(floor(col("doc_id") / pow(lit(2.0), pmod(i, lit(13)))),
              lit(2)) === 1, upper(w)).otherwise(w)))
      val d = read(s, dir, "documents").withColumn("text",
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" "), cased))
          .otherwise(col("text")))
      val ci = Dedup.exactSubstrClean(d, "text", "doc_id",
          minMatchWords = 25)
        .select(col("doc_id"), col("n_removed").as("n_removed_ci"))
      val cs = Dedup.exactSubstrClean(d, "text", "doc_id",
          minMatchWords = 25, caseSensitive = true)
        .select(col("doc_id"), col("n_removed").as("n_removed_cs"),
          md5(col("clean_text")).as("clean_cs_md5"))
      ci.join(cs, "doc_id")
        .select("doc_id", "n_removed_ci", "n_removed_cs", "clean_cs_md5")
        .orderBy("doc_id")
    }),

    "pii_redact" -> ((s, dir) => {
      // PII scrub: the corpus text carries no PII, so deterministic
      // synthetic PII (a function of doc_id) is injected identically in
      // Spark and the oracle, then counted and redacted. Counts + an md5 of
      // the redacted text hash-check all four patterns and the replacement
      // order end to end.
      val injected = concat(
        col("text"),
        lit(" reach me at user"), col("doc_id").cast("string"),
        lit("@example.com or +1-555-"),
        lpad(pmod(col("doc_id"), lit(1000)).cast("string"), 3, "0"),
        lit("-0199 ssn 987-65-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
        lit(" host 10.2."), pmod(col("doc_id"), lit(256)).cast("string"),
        lit(".77 done"))
      read(s, dir, "documents").select(
        col("doc_id"),
        TF.piiCount(injected, TF.EmailPattern).cast("long").as("n_email"),
        TF.piiCount(injected, TF.PhonePattern).cast("long").as("n_phone"),
        TF.piiCount(injected, TF.SsnPattern).cast("long").as("n_ssn"),
        TF.piiCount(injected, TF.Ipv4Pattern).cast("long").as("n_ip"),
        md5(to_binary(TF.redactPii(injected), lit("utf-8"))).as("red_md5")
      ).orderBy("doc_id")
    }),

    // ---------------- multimodal plumbing (stub decode) -------------------
    "image_embed_neardup" -> ((s, dir) => {
      // The image → embedding → near-dup COMPOSITION, real decode
      // included: 24 deterministic PNGs (ids from the documents table,
      // pixels from gridPng's integer formula) are ImageIO-decoded ON
      // EXECUTORS into luma-grid embeddings (MultimodalOps
      // .imageEmbedColumn) and pushed through the standard neardupPairs
      // kernel. Gray pixels make decoded luma == the gray level and
      // cosine is scale-invariant, so the oracle reproduces every score
      // from the raw integer grids — PNG encode, ImageIO decode, patch
      // averaging, normalization, and the pair kernel are all inside the
      // hash. Images sharing doc_id % 4 are near-dups (small per-doc
      // perturbation); cross-pattern cosines top out at 0.946 < 0.96.
      import s.implicits._
      val ids = read(s, dir, "documents").filter(col("doc_id") < 24)
        .select("doc_id").as[Long].collect().sorted.toSeq
      val imgs = ids.map(i => (i, gridPng(i))).toDF("doc_id", "img")
        .repartition(4)
      val emb = graft.functions.MultimodalOps.imageEmbedColumn(imgs, "img")
      graft.operators.EmbedOps.neardupPairs(emb, "img", "doc_id",
          threshold = 0.96, useLsh = Some(false))
        .select(col("id1"), col("id2"), round(col("score"), 3).as("score"))
        .orderBy("id1", "id2")
    }),

    "multimodal_meta" -> ((s, dir) => {
      val d = read(s, dir, "documents")
        .select(col("doc_id"), to_binary(col("text"), lit("utf-8")).as("img"))
      MultimodalOps.decodeMeta(d, "img")
        .select(col("doc_id"), col("media_bytes").cast("long").as("n_bytes"),
          col("media_width").cast("long").as("width"),
          col("media_frames").cast("long").as("frames"))
        .orderBy("doc_id")
    })
  )

  /** 64×64 PNG of 8×8 constant-gray blocks for the `image_embed_neardup`
    * gate: block c (row-major, matching lumaFeatures' cell order) of image
    * i has gray level ((17·((i%4)+1)·(c+3)) % 160) + 20 (cap 235 < 256 —
    * the perturbed level must stay a single byte), plus a per-doc
    * perturbation ((i·13 + c·7) % 60) for i ≥ 4. Deterministic, lossless
    * (PNG), and gray — so decoded luma == gray level and the oracle can
    * recompute the embedding geometry from this formula alone.
    */
  private def gridPng(i: Long): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(64, 64,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var c = 0
    while (c < 64) {
      val g = ((17 * ((i % 4) + 1) * (c + 3)) % 160 + 20 +
        (if (i < 4) 0L else (i * 13 + c * 7) % 60)).toInt
      val rgb = (g << 16) | (g << 8) | g
      val bx = (c % 8) * 8
      val by = (c / 8) * 8
      var y = by
      while (y < by + 8) {
        var x = bx
        while (x < bx + 8) { img.setRGB(x, y, rgb); x += 1 }
        y += 1
      }
      c += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** The seeded LSH hyperplanes as DuckDB VALUES rows — a pure function of
    * (dim, nBits, seed), identical to the planes the Spark operator builds,
    * so the oracle reproduces the production banding exactly.
    */
  private def lshPlaneValues(dim: Int, nBits: Int = 16, seed: Long = 42): String =
    EmbedOps.lshPlanes(dim, nBits, seed).zipWithIndex.map { case (p, i) =>
      s"($i, [${p.mkString(",")}]::DOUBLE[])"
    }.mkString(",")

  /** Fitted centroids at sf0.01 as DuckDB VALUES rows, pinned as constants.
    * Reproducible: collect the sf0.01 `embeddings.embedding` column and run
    * [[graft.embed.IvfIndex.fitCentroids]](vectors, k, seed = 42) — the fit
    * sorts its sample, so these are a pure function of the vector multiset
    * (regenerate with that one-liner if the testdata ever changes). Each
    * float centroid component is rendered as its exact double value, which
    * is what the NearestCentroid expression compares against.
    */
  private val ClusterCentroidsK8: String = "(0, [-0.056813620030879974,0.03819161653518677,0.0018416448729112744,-0.052146390080451965,-0.013410937041044235,0.049596548080444336,0.03319627419114113,-0.04184707626700401,0.00750187411904335,-0.05552356690168381,-0.004954146221280098,0.0021967673674225807,-0.008615118451416492,-0.01251065731048584,0.019086863845586777,-0.03851834312081337,0.03262615203857422,1.7872343596536666E-4,0.04760567471385002,0.002729102037847042,0.021401332691311836,0.00868538673967123,-0.010907205753028393,-0.03622452914714813,0.09193336963653564,-0.009189728647470474,0.026300977915525436,-0.04093268886208534,-0.016749782487750053,-0.03807772323489189,-0.02376287803053856,0.03265012800693512,0.052494484931230545,0.006756688468158245,-0.031844474375247955,0.024867704138159752,-0.004709223750978708,-0.011070207692682743,0.03468562290072441,-0.058845873922109604,0.002645657164976001,0.01010737381875515,0.03220216929912567,-0.02386981062591076,0.0010960762156173587,0.026144525036215782,0.03224608302116394,-0.0342516228556633,-0.0036053392104804516,-0.02524886466562748,-0.07074539363384247,0.02158943936228752,-0.014372722245752811,-0.032207686454057693,0.01487947441637516,-0.015826016664505005,0.008706391789019108,-0.0046893698163330555,-0.043178439140319824,-0.05499875918030739,0.0052770571783185005,0.06581710278987885,0.024278700351715088,-0.011678745038807392]::DOUBLE[]),(1, [-0.015486831776797771,-0.0769592896103859,0.012322898022830486,0.021646950393915176,0.029982149600982666,0.010945281013846397,-0.03146031126379967,-0.035984769463539124,0.013492004945874214,0.08354797214269638,0.023011675104498863,-0.006713754031807184,-0.01018979400396347,-0.007596760988235474,0.010721307247877121,-0.03792310878634453,0.08713188767433167,-0.03935479000210762,-0.023093704134225845,0.011835642158985138,0.011727501638233662,-0.025774624198675156,0.0014982126886025071,0.005484049208462238,-0.025258449837565422,0.030784131959080696,-0.005292391404509544,0.039919864386320114,-0.039286866784095764,0.019548611715435982,0.015386599116027355,-0.02278565801680088,0.0014586722245439887,-0.011286529712378979,0.06764265149831772,-0.05322257801890373,-0.007932247593998909,-0.007922199554741383,0.001962555106729269,0.030993420630693436,-0.017888851463794708,0.05295548960566521,0.0025786019396036863,0.02657635323703289,0.008944157510995865,-0.0017589039634913206,-0.00928523950278759,-0.007206357549875975,-0.003091343678534031,-0.024693621322512627,0.02746652439236641,-0.00771917263045907,0.028050953522324562,-1.2724775297101587E-4,-0.0012932001845911145,0.014322592876851559,-0.009869824163615704,0.034092966467142105,0.0707075297832489,-0.010063710622489452,0.018510987982153893,0.011500388383865356,-0.009353416971862316,-0.045505136251449585]::DOUBLE[]),(2, [-0.003860869212076068,0.0383075587451458,0.033509209752082825,0.023584572598338127,0.02142561785876751,0.028039779514074326,-0.020379675552248955,0.018397051841020584,-0.0034681069664657116,0.003790812101215124,-0.040434323251247406,0.07035049051046371,-0.0023300449829548597,0.04415993392467499,0.033771712332963943,0.04692336544394493,0.010976172983646393,0.00376605405472219,-0.010538932867348194,-0.011699586175382137,-0.01650456339120865,-0.04581817612051964,0.0064736949279904366,0.008757178671658039,0.012973284348845482,-0.005474440287798643,-0.026005033403635025,0.001536038238555193,0.009472454898059368,-0.008199669420719147,0.003229680936783552,-0.019380660727620125,-0.03164571896195412,-0.060960616916418076,-0.08560289442539215,-0.0043588969856500626,0.011506181210279465,0.051310569047927856,-0.06996437162160873,0.009373809210956097,0.011210495606064796,-0.023437177762389183,0.015635613352060318,0.02899758704006672,-0.049394551664590836,-0.030867133289575577,0.004708200227469206,-0.004025307483971119,1.2102143227821216E-4,-0.06097322702407837,0.06338287889957428,0.04063243046402931,0.004104710184037685,-0.008123353123664856,0.010447623208165169,0.04751494526863098,0.022362031042575836,0.048291053622961044,-0.01909748464822769,0.022159194573760033,0.05048919469118118,-0.07963576912879944,0.02773025445640087,0.047369182109832764]::DOUBLE[]),(3, [0.018572568893432617,0.0038703689351677895,0.06757928431034088,0.01796780154109001,-0.04564673826098442,-0.031255125999450684,0.004376361146569252,0.07677580416202545,-0.018204692751169205,0.09553656727075577,0.004013504832983017,0.033062927424907684,0.04222937673330307,-1.5756351058371365E-4,-0.011097174137830734,-0.016836926341056824,0.011956008151173592,0.015347383916378021,-0.053003665059804916,0.02258230932056904,-0.06940995156764984,-0.005343738943338394,0.018330788239836693,-0.029935721307992935,-0.024155154824256897,-0.010722784325480461,0.001528887078166008,0.012838516384363174,0.05321429669857025,0.011724274605512619,0.007894910871982574,1.9071267161052674E-4,-0.00489740539342165,-0.02008648030459881,0.013885372318327427,0.04281129315495491,-0.09079709649085999,-0.040762607008218765,0.07216423004865646,0.0027322047390043736,-2.0833764574490488E-4,-0.016087636351585388,-0.016427118331193924,0.003910453990101814,-0.04896293208003044,-0.05147368460893631,-0.04473307356238365,0.086729496717453,-0.04717409238219261,0.009683752432465553,0.011672217398881912,0.01827320270240307,-0.001028559636324644,-0.010934860445559025,0.06132015585899353,0.04104776307940483,-0.04826973378658295,-0.038538239896297455,-0.07948651164770126,-0.04552499204874039,-0.039850860834121704,0.04869589954614639,0.0033845221623778343,-0.017527002841234207]::DOUBLE[]),(4, [0.033983487635850906,-0.009829339571297169,-0.04239910468459129,0.0038325865752995014,-0.02757366932928562,-0.012495165690779686,0.0013518155319616199,0.04940713569521904,-0.05481939762830734,0.017738811671733856,0.0369395837187767,0.038270119577646255,-0.010390523821115494,0.04441721737384796,0.0020139908883720636,0.01825578138232231,-0.04458646476268768,-0.031154317781329155,0.0068979631178081036,-0.03038334660232067,-0.011128688231110573,0.05092620477080345,-0.05763280764222145,0.03580484166741371,0.02012667804956436,0.06097184494137764,-1.769120863173157E-4,0.04326418787240982,-0.001306510646827519,0.07301736623048782,0.03851395100355148,0.03860406577587128,0.03350839763879776,0.031965188682079315,-0.021053535863757133,0.029449064284563065,0.021557027474045753,-0.058766067028045654,0.01917100138962269,-0.052908755838871,-0.004359672777354717,-0.039985477924346924,-0.07181897014379501,7.120428199414164E-5,0.020682143047451973,0.010800772346556187,0.014650014229118824,0.01967839151620865,-0.010916611179709435,-0.037366271018981934,0.06282047927379608,-0.019885394722223282,0.0028837467543780804,0.025179006159305573,-0.048242583870887756,0.007072769105434418,0.013138272799551487,-0.03917429596185684,-0.01497625932097435,0.009067212231457233,0.026015600189566612,-0.007065202109515667,-0.044726207852363586,-0.04685280844569206]::DOUBLE[]),(5, [-0.0025973671581596136,-0.011309086345136166,0.014698675833642483,-0.04065698757767677,-0.008923282846808434,0.03425266966223717,-0.046430204063653946,0.05862041190266609,-0.006369896233081818,-0.04907930642366409,0.05931975692510605,-0.044179175049066544,-4.747985803987831E-4,-0.07722937315702438,-0.026767520233988762,-0.0063268342055380344,-0.04085570573806763,0.06533865630626678,0.03940247371792793,-0.017803436145186424,0.0065997145138680935,-0.030405940487980843,0.009718204848468304,-0.03630140423774719,-0.022338973358273506,0.02852547913789749,0.008263050578534603,0.04899889603257179,-0.030876507982611656,0.04495817422866821,-0.04536544904112816,-0.02680351212620735,0.03770831599831581,0.038031429052352905,0.04170982912182808,-0.013258107006549835,-0.004035215824842453,0.046638425439596176,0.005207214970141649,0.015895625576376915,-0.05637950822710991,-0.08031780272722244,0.02809651382267475,0.04513523727655411,-0.051631927490234375,0.049388252198696136,-0.02399987168610096,-0.0075065819546580315,-0.031182022765278816,0.03006814979016781,0.03725387156009674,0.03380031883716583,-0.038686543703079224,7.758010178804398E-4,0.03906678780913353,-0.029277021065354347,0.02730175293982029,0.009579605422914028,-0.001522089820355177,-0.003559252480044961,0.026268795132637024,-0.011751562356948853,-0.02719302475452423,0.006800349801778793]::DOUBLE[]),(6, [0.04789092764258385,-0.01960819400846958,-0.01808803342282772,7.686030003242195E-4,0.05196663737297058,-0.03453933447599411,-0.026096900925040245,-0.03395134210586548,-0.006728684064000845,-0.05342470109462738,0.006108762696385384,-0.009398645721375942,-0.010754962451756,0.03569396957755089,-0.03259093314409256,0.05890195816755295,-0.041039180010557175,0.07484040409326553,-0.008107241243124008,0.010450116358697414,-0.012521052733063698,0.029765238985419273,0.04056137055158615,-0.034354597330093384,-0.05501296743750572,-0.007465914823114872,-0.006652886513620615,-0.0421343632042408,0.014658008702099323,-0.04451058804988861,0.051871027797460556,-0.016758672893047333,-0.03169437125325203,-0.02464812807738781,0.002954543102532625,-0.001391618512570858,-0.0028455452993512154,-0.030927244573831558,-0.042685333639383316,0.022324632853269577,0.06823846697807312,-0.003791600465774536,0.04533291980624199,-0.011679055169224739,0.016815729439258575,0.03751835599541664,0.04091019183397293,-0.006092383526265621,0.03666903078556061,0.023769322782754898,-0.05665387213230133,0.002504310803487897,0.07145416736602783,0.01574162393808365,-0.010938179679214954,-0.012677619233727455,7.394266431219876E-4,-0.030957689508795738,0.02803611569106579,0.001947181997820735,-0.04897080734372139,0.006318665575236082,-0.0016152148600667715,-0.015877509489655495]::DOUBLE[]),(7, [-0.004175766836851835,0.021626712754368782,-0.0201752707362175,-0.010095085017383099,0.058027829974889755,0.010707372799515724,-0.05547129362821579,0.008602937683463097,0.05331238731741905,-0.029386142268776894,-0.04932280629873276,-0.05053270608186722,-0.006078961305320263,-0.011422612704336643,0.004721880424767733,0.020267771556973457,0.010838395915925503,-0.050180744379758835,-0.019131498411297798,0.03251325711607933,0.022065848112106323,0.03998439386487007,0.03238911181688309,0.02097362093627453,-0.010955958627164364,0.0026849706191569567,-0.011145989410579205,0.020663851872086525,0.027657387778162956,-0.0660700872540474,-0.009494790807366371,-0.031034350395202637,0.007722716778516769,-0.022008035331964493,0.050311051309108734,0.005425630137324333,0.011617397889494896,0.03797408193349838,-0.006437161937355995,0.01915557123720646,-0.020927753299474716,8.00411042291671E-4,-0.04826152324676514,-0.09079447388648987,-0.005541597492992878,-0.03741609305143356,-0.03989358991384506,0.029748912900686264,0.017336376011371613,0.007285870611667633,1.6854610294103622E-4,-0.11123376339673996,-0.0012137828161939979,-0.032229602336883545,-0.010427097789943218,-0.07866741716861725,0.011046605184674263,-0.01069730892777443,-0.018052654340863228,3.2347755040973425E-4,-0.059453025460243225,0.019880367442965508,0.029427003115415573,-0.018065961077809334]::DOUBLE[])"
  private val PartitionCentroidsK5: String = "(0, [0.03138384222984314,0.010149221867322922,-0.013528099283576012,-0.004126876126974821,-0.02792700193822384,0.0384419709444046,-0.028077924624085426,-0.04755480960011482,-0.002912450348958373,-0.015319614671170712,-0.0276701170951128,0.07840980589389801,0.017655573785305023,0.003989585675299168,-0.027239643037319183,0.020427502691745758,-0.01733313873410225,0.03455064073204994,0.056065741926431656,-0.020129090175032616,-0.03619538992643356,0.05648398399353027,-0.04956260323524475,-0.012366115115582943,0.04225565120577812,0.002169735496863723,0.03034757263958454,-0.013173999264836311,-0.0048497142270207405,0.04147496819496155,0.0021101171150803566,-0.01997285895049572,-0.01609046757221222,-0.0023305644281208515,-0.0210430845618248,0.004126362502574921,-0.019502835348248482,-0.05756991729140282,-0.0077813356183469296,-0.0452754907310009,0.006282101850956678,-0.01639280468225479,0.018035631626844406,-0.03029579296708107,0.012237590737640858,0.02145306020975113,-0.02326335571706295,0.02449991926550865,-0.002840386237949133,-0.024899248033761978,-0.020082686096429825,-0.04699070379137993,-0.0022891066037118435,0.01860298402607441,-0.010833317413926125,0.015654075890779495,0.024251101538538933,0.011700375936925411,0.010983350686728954,0.007175210397690535,-0.0032178775873035192,0.06264819949865341,-0.009565615095198154,-0.032320618629455566]::DOUBLE[]),(1, [-0.04486565664410591,-0.02436930686235428,0.0697861760854721,0.016819434240460396,-0.02052932046353817,-0.04432806000113487,0.030020030215382576,0.031767550855875015,0.006976161617785692,0.07146608829498291,0.0017328565008938313,0.0064125144854187965,0.007378096226602793,-0.02549990639090538,0.026612060144543648,-0.015194211155176163,0.049896687269210815,-0.022024864330887794,-0.001315355533733964,0.025533277541399002,-0.006189839448779821,-0.021248022094368935,0.005697277374565601,-0.002590279094874859,0.009110906161367893,0.017376365140080452,0.002178168622776866,0.027187373489141464,-0.011865070089697838,0.002180744893848896,0.021522503346204758,-0.006008809898048639,0.037094537168741226,-0.01651606895029545,0.005376349203288555,-0.022905662655830383,0.018410898745059967,-0.051397714763879776,-0.04843998700380325,0.014185618609189987,0.05260059982538223,-0.002575513208284974,-0.009652134031057358,0.04257642850279808,-0.038482386618852615,-0.01917203515768051,-0.005185076501220465,0.010879742912948132,-0.08040133863687515,-0.003543413942679763,0.02018367126584053,0.07049098610877991,0.036841847002506256,-0.002617663936689496,0.05004781484603882,0.02585907280445099,0.002723332494497299,0.017360270023345947,-0.024997733533382416,-0.0033161835744976997,-0.0024529555812478065,-0.021767346188426018,-0.013734114356338978,-0.02330300770699978]::DOUBLE[]),(2, [0.07852060347795486,0.005075829569250345,-0.013023880310356617,-0.03676403686404228,0.048007626086473465,0.007669585291296244,-0.05123500898480415,0.019197190180420876,0.037040457129478455,0.00634838966652751,-2.940633276011795E-4,-0.04147154092788696,0.033078402280807495,-0.052650660276412964,0.05226143077015877,0.01284121721982956,-0.036870792508125305,0.0038296987768262625,-0.025871185585856438,0.02260715700685978,0.03061281330883503,-0.025463789701461792,0.0060849557630717754,-0.007140466012060642,-0.0033345152623951435,0.03721974417567253,-0.013460194692015648,0.012725058011710644,-0.03375448286533356,0.01227736659348011,-0.03180263936519623,0.019797969609498978,0.016752395778894424,-0.005737395491451025,0.035175006836652756,-0.0238475538790226,-0.01855553314089775,0.04750145599246025,0.025957372039556503,-0.0385606475174427,-0.03227308765053749,-0.05496785417199135,0.01425125915557146,-0.005747783463448286,-0.0034472953993827105,0.016395611688494682,-0.005579482298344374,-0.020527850836515427,0.04617297649383545,0.01904323883354664,0.01765238121151924,-2.268559910589829E-5,-0.04157624766230583,-0.0028139471542090178,-0.010785152204334736,-3.234456817153841E-4,0.04974057152867317,0.015472479164600372,-0.003564790589734912,-0.049367088824510574,0.03831237927079201,-0.006631575990468264,0.0017955801449716091,-0.05252843722701073]::DOUBLE[]),(3, [-0.016107145696878433,-8.178418502211571E-4,-0.009530381299555302,0.01553407870233059,0.04102048650383949,0.018458275124430656,-0.014620369300246239,0.0644562840461731,-0.027403129264712334,0.006305772811174393,-0.0026909857988357544,0.04196862131357193,-7.074709283187985E-4,0.09053231030702591,-0.02353222854435444,0.033316757529973984,-0.010751434601843357,-0.04744548350572586,-0.034872304648160934,-0.0431419312953949,-0.019470777362585068,-0.0013528106501325965,0.027299195528030396,-0.01919681765139103,-0.03116328828036785,0.036008600145578384,-0.04034966230392456,0.0035826137755066156,0.01894536055624485,-0.06698745489120483,0.048958346247673035,0.00523859029635787,0.005771765485405922,0.015112306922674179,-0.0197500791400671,0.04420191049575806,0.006686989217996597,0.03470776602625847,0.018735099583864212,-0.003098636632785201,-0.023207422345876694,-0.014202657155692577,-0.036333583295345306,0.012810434214770794,-0.03543943911790848,-0.02957467921078205,0.020854445174336433,0.018769804388284683,0.004000836052000523,-0.03187674656510353,0.045041583478450775,-0.009136256761848927,-0.004565099254250526,0.02754623256623745,-0.01135203242301941,-0.049406085163354874,-0.026012539863586426,-0.029895717278122902,-0.010020431131124496,-0.02240266092121601,-0.007378575392067432,-0.0036533649545162916,-0.01431314181536436,0.03564576059579849]::DOUBLE[]),(4, [-0.028910651803016663,-0.011256253346800804,-0.013972694054245949,-0.01689082384109497,0.011655900627374649,0.017998971045017242,-0.029012005776166916,-0.0190084520727396,-0.021012794226408005,-0.0656287670135498,0.05578208714723587,-0.06521373242139816,-0.06227177008986473,-0.009425072930753231,-0.023179752752184868,-0.018906833603978157,0.0262447576969862,0.055846329778432846,0.0019978766795247793,0.021005911752581596,0.012967496179044247,0.0014855930348858237,0.02872813679277897,2.9894415638409555E-4,-0.02400806173682213,-0.023609591647982597,0.011491241864860058,0.021740231662988663,0.021108869463205338,0.01321389153599739,-0.014025532640516758,-0.024435054510831833,-6.169198895804584E-4,-0.022373829036951065,0.02626010775566101,0.002242475748062134,-0.014124447479844093,0.02019619010388851,0.007976255379617214,0.05826297402381897,-0.013433280400931835,0.022391650825738907,0.015217317268252373,-0.021029219031333923,0.006766342557966709,0.028979165479540825,0.008719426579773426,-0.0051076654344797134,0.016500039026141167,-0.008047142997384071,-0.01348423957824707,-0.02038809284567833,0.04320168122649193,-0.05536193400621414,0.0050462898798286915,-0.008751751855015755,-0.020744381472468376,-0.023517822846770287,0.0029373210854828358,0.01874055340886116,-0.021684393286705017,-0.005026637110859156,0.027587126940488815,0.0015134953428059816]::DOUBLE[])"

  /** PQ codebooks (m=8 subspaces x ksub=16 codes over dim 64) fitted at
    * sf0.01 as DuckDB VALUES rows `(sub, code, centroid)` — a pure function
    * of the embedding multiset (sorted-sample seeded fit, seed 42+sub).
    * Regenerate with `runMain graft.tools.OracleConstants` if the testdata
    * ever changes.
    */
  private val PqCodebooksM8K16: String = "(0, 0, [-0.1005033329129219,-0.047960925847291946,-0.14786396920681,-0.07483185827732086,-0.005980160087347031,0.10288123041391373,0.04169303923845291,0.07255616784095764]::DOUBLE[]),(0, 1, [-0.13025550544261932,-0.050390876829624176,0.061867982149124146,-0.062135759741067886,0.10304860770702362,-0.03688093647360802,-0.12880611419677734,0.03677062690258026]::DOUBLE[]),(0, 2, [0.04909701645374298,-0.004884135909378529,-0.002476299414411187,-0.14222466945648193,-0.13221336901187897,-0.07743377983570099,-0.022102277725934982,0.06267354637384415]::DOUBLE[]),(0, 3, [0.022518210113048553,-0.05613831430673599,0.008527595549821854,0.085136778652668,0.04780787602066994,0.1392262727022171,-0.20875047147274017,-0.05584999546408653]::DOUBLE[]),(0, 4, [0.10018142312765121,-0.017853092402219772,-0.1396171748638153,0.11173945665359497,0.03085552714765072,0.08947551250457764,0.04099947586655617,-0.1415473371744156]::DOUBLE[]),(0, 5, [0.16239748895168304,-0.06902363896369934,0.03269824758172035,-0.07459326833486557,0.0807109922170639,0.04786352813243866,0.013215635903179646,0.09501957893371582]::DOUBLE[]),(0, 6, [0.0180288664996624,-0.018025096505880356,-0.04145306721329689,0.025234060361981392,0.14573755860328674,-0.16939128935337067,-0.0630209669470787,0.08756524324417114]::DOUBLE[]),(0, 7, [0.06339702755212784,0.1457829624414444,-0.13749535381793976,-0.022033827379345894,0.007296515628695488,0.06912656128406525,-0.04517717286944389,0.13107632100582123]::DOUBLE[]),(0, 8, [0.04354044049978256,-0.06757302582263947,0.013689078390598297,-0.06300946325063705,0.007504337001591921,-0.04149054363369942,-0.020952530205249786,-0.19034487009048462]::DOUBLE[]),(0, 9, [-0.10049081593751907,-0.044033389538526535,0.05246347934007645,0.14935874938964844,-0.03209049254655838,0.05455779656767845,0.07296909391880035,0.03431606665253639]::DOUBLE[]),(0, 10, [-0.032947786152362823,0.08952178061008453,0.1259741187095642,-0.056618813425302505,-0.08999821543693542,0.1300555169582367,-0.016889529302716255,-0.016919491812586784]::DOUBLE[]),(0, 11, [-0.037492215633392334,0.009179123677313328,-0.07415230572223663,0.09436513483524323,-0.19719581305980682,-0.07993236184120178,-0.019595962017774582,-0.03133249282836914]::DOUBLE[]),(0, 12, [0.03201860561966896,0.15753242373466492,0.07508594542741776,0.08439338952302933,0.06703566014766693,-0.030598318204283714,-0.06306187808513641,-0.055714454501867294]::DOUBLE[]),(0, 13, [0.12787844240665436,-0.06349875032901764,0.04210349917411804,0.0716879814863205,-0.03491315618157387,-0.0446140356361866,-0.09850592911243439,0.09631381928920746]::DOUBLE[]),(0, 14, [-0.10698635131120682,-0.013816209509968758,-0.01627844199538231,-0.0818740576505661,0.1558389663696289,0.0775812417268753,0.10947062075138092,-0.09219451993703842]::DOUBLE[]),(0, 15, [-0.04421093687415123,0.012297234497964382,0.11019334942102432,-0.0015756352804601192,-0.031503673642873764,-0.14380232989788055,0.1816059648990631,0.03557669743895531]::DOUBLE[]),(1, 0, [-0.07365026324987411,-0.11392726004123688,-0.019233189523220062,-0.02318180911242962,-0.05965454876422882,0.002907892456278205,-0.06314602494239807,-0.20100969076156616]::DOUBLE[]),(1, 1, [-0.029522081837058067,0.23573431372642517,-0.04933376610279083,-0.05414861813187599,0.03828834369778633,-0.02455854043364525,0.12838424742221832,0.01360784750431776]::DOUBLE[]),(1, 2, [0.00264020380564034,0.15481869876384735,0.03845134377479553,-0.0019532733131200075,-0.19233329594135284,0.007068140432238579,-0.06492442637681961,-0.08178013563156128]::DOUBLE[]),(1, 3, [-0.08994331955909729,0.04172540083527565,0.07020147889852524,-0.06842406839132309,0.06545209884643555,-0.13538357615470886,0.019335003569722176,-0.07789622992277145]::DOUBLE[]),(1, 4, [0.05777014419436455,-0.10230046510696411,0.049950700253248215,-0.1125384047627449,0.03837412968277931,-0.09705688059329987,-0.10852587968111038,0.10637598484754562]::DOUBLE[]),(1, 5, [-2.000688255066052E-4,-0.05516153573989868,0.18268343806266785,-0.050829097628593445,0.048176247626543045,0.02109137922525406,0.033521924167871475,0.1407635658979416]::DOUBLE[]),(1, 6, [0.08576174825429916,0.029149172827601433,-0.15821008384227753,0.132441446185112,-0.06538667529821396,0.06287948042154312,-0.03406504914164543,0.055628299713134766]::DOUBLE[]),(1, 7, [-0.015460646711289883,0.046490106731653214,0.15512718260288239,0.05606800317764282,-0.059739671647548676,0.014597994275391102,0.10722622275352478,-0.073982372879982]::DOUBLE[]),(1, 8, [-0.0980461984872818,-0.13341782987117767,-0.08126004040241241,0.028440916910767555,0.01686406321823597,0.03968147560954094,-0.003307688981294632,0.13458655774593353]::DOUBLE[]),(1, 9, [-0.09350061416625977,-0.04399469122290611,-0.027448931708931923,-0.17798970639705658,-0.1280539631843567,0.0705743208527565,-0.009412059560418129,0.04368814080953598]::DOUBLE[]),(1, 10, [0.09142603725194931,0.11623003333806992,0.006959219463169575,-0.09271799027919769,0.09863430261611938,0.10076628625392914,-0.06861063092947006,0.0434398278594017]::DOUBLE[]),(1, 11, [0.08705265820026398,-0.00830343272536993,-0.026504572480916977,0.06377503275871277,0.07907602936029434,-0.0180865116417408,0.1812593638896942,0.0555240735411644]::DOUBLE[]),(1, 12, [-0.03605068847537041,-0.10305944085121155,-0.026792574673891068,0.050532057881355286,0.06081794947385788,0.22636054456233978,0.03219776228070259,-0.029945136979222298]::DOUBLE[]),(1, 13, [0.1344606578350067,-0.07055740803480148,-0.052155014127492905,-0.024154668673872948,-0.08245457708835602,-0.11529646813869476,0.029403679072856903,-0.06119395047426224]::DOUBLE[]),(1, 14, [3.3388540032319725E-5,-0.013825484551489353,0.07075776159763336,0.1766667515039444,-0.07279747724533081,-0.019654635339975357,-0.1598992496728897,0.04403363913297653]::DOUBLE[]),(1, 15, [-0.09559644758701324,0.1384221762418747,-0.07825207710266113,0.15736247599124908,0.07714413106441498,-0.032919351011514664,-0.026433341205120087,0.016044171527028084]::DOUBLE[]),(2, 0, [-0.1321362555027008,-0.03290247544646263,0.07259528338909149,-0.06324554979801178,0.04163391888141632,0.14197158813476562,0.03944132849574089,-0.040797941386699677]::DOUBLE[]),(2, 1, [0.22979436814785004,-0.20158779621124268,0.17523609101772308,-0.30534887313842773,-0.0044603655114769936,0.1634998470544815,0.010562696494162083,-0.13122759759426117]::DOUBLE[]),(2, 2, [0.027750182896852493,0.01522463746368885,0.0192062146961689,0.013747185468673706,0.15482236444950104,0.04881059005856514,-0.11654512584209442,0.10020167380571365]::DOUBLE[]),(2, 3, [-0.13586542010307312,-0.209495410323143,-0.07571908086538315,-0.05474504083395004,0.022973382845520973,0.00933841336518526,-0.090603768825531,-1.0058504267362878E-4]::DOUBLE[]),(2, 4, [-0.0773301050066948,-0.05132440850138664,-0.03209373354911804,0.11368284374475479,-0.04246342182159424,-0.13978993892669678,0.03677967190742493,-0.008953778073191643]::DOUBLE[]),(2, 5, [0.03598777949810028,-0.053374070674180984,-0.18188491463661194,0.05760521814227104,0.09235253930091858,0.050814349204301834,0.026147589087486267,-0.054133642464876175]::DOUBLE[]),(2, 6, [-0.002329186536371708,-0.1067853718996048,-0.09793830662965775,0.030843930318951607,-0.03984164446592331,0.0378529317677021,0.1152249276638031,0.12592369318008423]::DOUBLE[]),(2, 7, [-0.09035313129425049,0.1596570760011673,0.09522801637649536,0.035651788115501404,-0.1824747622013092,0.04428553953766823,-0.0078002288937568665,-0.1327991783618927]::DOUBLE[]),(2, 8, [-0.0047897715121507645,0.06663745641708374,0.057692255824804306,0.15308618545532227,0.048222050070762634,0.07705434411764145,0.09744526445865631,0.003091377904638648]::DOUBLE[]),(2, 9, [0.19348978996276855,-0.001063444186002016,-1.8303289834875613E-4,-0.05606292560696602,0.025429852306842804,-0.08684131503105164,0.05488435924053192,0.0565917007625103]::DOUBLE[]),(2, 10, [-0.06731036305427551,0.12690769135951996,-0.11082689464092255,0.02831316739320755,-0.04048370569944382,-0.007650670595467091,-0.09598197042942047,-0.038195911794900894]::DOUBLE[]),(2, 11, [-0.043476756662130356,0.20001381635665894,0.0018285377882421017,-0.11463537812232971,0.04142284020781517,-0.06892111152410507,0.057917769998311996,-0.04098409041762352]::DOUBLE[]),(2, 12, [0.0702306255698204,0.05885796993970871,0.05286531150341034,-0.04557620361447334,0.0368698313832283,0.005812949035316706,0.0781140998005867,-0.2321656048297882]::DOUBLE[]),(2, 13, [0.00868282001465559,-0.026736494153738022,0.17268633842468262,0.03570311889052391,0.013708381913602352,-0.06343609094619751,-0.0966276079416275,0.015616865828633308]::DOUBLE[]),(2, 14, [0.05108815059065819,0.07815206795930862,0.043471235781908035,-0.07628672569990158,-0.12626102566719055,0.10483431816101074,0.025319967418909073,0.1454165130853653]::DOUBLE[]),(2, 15, [0.1038091853260994,-0.07867050915956497,-0.047672443091869354,-0.049274660646915436,-0.1294623613357544,-0.01489671878516674,-0.04726390913128853,-0.06884663552045822]::DOUBLE[]),(3, 0, [-0.15383107960224152,-0.007311301305890083,-0.1292523443698883,0.048552002757787704,-0.019345611333847046,0.008936591446399689,-0.1449737250804901,0.1431605964899063]::DOUBLE[]),(3, 1, [0.1345101296901703,0.05894798785448074,-0.050811540335416794,0.06241559237241745,0.11452087759971619,0.0754345953464508,0.034696806222200394,-0.1014779806137085]::DOUBLE[]),(3, 2, [-0.03435348719358444,0.14142653346061707,-0.04364558681845665,0.0070760417729616165,-0.02580379508435726,-0.15076705813407898,0.12880998849868774,-0.0470779612660408]::DOUBLE[]),(3, 3, [-0.15952247381210327,0.07134854793548584,0.08873656392097473,0.09246115386486053,-0.12825530767440796,0.15149037539958954,0.0062082805670797825,-0.06196720898151398]::DOUBLE[]),(3, 4, [-0.05301110818982124,-0.06342020630836487,0.024474509060382843,-0.1301206648349762,-0.12668894231319427,-0.027134308591485023,-0.0811946764588356,0.02699604630470276]::DOUBLE[]),(3, 5, [-0.006082229781895876,-0.06261918693780899,0.14258262515068054,-0.07724839448928833,0.04852697625756264,0.006953603588044643,0.06334320455789566,-0.17246000468730927]::DOUBLE[]),(3, 6, [0.046923279762268066,-0.15935170650482178,0.024083212018013,0.04740364849567413,-0.10173984616994858,-0.07151475548744202,0.11420439928770065,-0.044955845922231674]::DOUBLE[]),(3, 7, [-0.15817375481128693,-0.009023329243063927,-0.06072197109460831,-0.13499309122562408,0.11893759667873383,-0.021083422005176544,-0.03955760598182678,-0.11085465550422668]::DOUBLE[]),(3, 8, [7.369968807324767E-5,-0.04433352127671242,-0.09702625870704651,0.14264823496341705,-0.07709047943353653,-0.049195464700460434,-0.051710888743400574,-0.1348390132188797]::DOUBLE[]),(3, 9, [0.11869567632675171,0.18864819407463074,0.08374837785959244,-0.012383411638438702,-0.06098981201648712,0.023121878504753113,0.03075559064745903,0.042672183364629745]::DOUBLE[]),(3, 10, [-0.11213475465774536,-0.06893890351057053,-0.0038031486328691244,0.05957726016640663,0.09780906140804291,0.05193156376481056,0.12914897501468658,0.011476578190922737]::DOUBLE[]),(3, 11, [0.0020040483213961124,0.0196541715413332,0.0361676849424839,0.0054594106040894985,0.09112943708896637,-0.1844150573015213,-0.08996053040027618,0.0010320412693545222]::DOUBLE[]),(3, 12, [0.10471168160438538,-0.06258412450551987,0.09766290336847305,0.01527285948395729,0.06780166923999786,0.11260416358709335,-0.059133876115083694,0.06649437546730042]::DOUBLE[]),(3, 13, [0.022099683061242104,0.11523527652025223,-0.11950350552797318,-0.03670288622379303,-0.03798636049032211,0.06597957015037537,-0.08888841420412064,0.00430014543235302]::DOUBLE[]),(3, 14, [0.02492341957986355,0.07158888876438141,0.11650779843330383,0.08769774436950684,0.015724513679742813,-0.04110182821750641,-0.06320555508136749,0.17681939899921417]::DOUBLE[]),(3, 15, [0.052310146391391754,-0.04776105284690857,-0.11375465989112854,-0.03282063454389572,-0.031457528471946716,0.05483391508460045,0.11306159943342209,0.0926942229270935]::DOUBLE[]),(4, 0, [0.08295311778783798,-0.018051736056804657,0.0010079010389745235,0.09832373261451721,0.11716759204864502,0.020516028627753258,0.0993461161851883,0.08584104478359222]::DOUBLE[]),(4, 1, [-0.018401363864541054,-0.18069739639759064,-0.0911831185221672,-0.01851881854236126,-0.026559531688690186,-0.0487162247300148,-0.050220977514982224,-0.06820373982191086]::DOUBLE[]),(4, 2, [-0.1584610790014267,-0.04599687084555626,0.013643949292600155,0.04371979832649231,0.0928163155913353,0.06677497178316116,0.078530453145504,-0.022334322333335876]::DOUBLE[]),(4, 3, [-0.024004530161619186,-0.07896766066551208,0.07274076342582703,0.05785728618502617,-0.21595355868339539,-0.005436539184302092,0.08726377785205841,-0.039453595876693726]::DOUBLE[]),(4, 4, [0.09276876598596573,0.06109483912587166,0.0631750300526619,0.04343600571155548,0.01676650159060955,0.059445347636938095,-0.17810605466365814,-0.01554757822304964]::DOUBLE[]),(4, 5, [0.09788820147514343,-0.13847456872463226,0.08799024671316147,-0.06003740429878235,0.004374759271740913,0.04431701451539993,-0.06433197855949402,0.11696863919496536]::DOUBLE[]),(4, 6, [0.038201428949832916,-0.09858083724975586,-0.1486966460943222,0.06757278740406036,0.012472672387957573,0.12476462125778198,-0.04296588525176048,0.09488733857870102]::DOUBLE[]),(4, 7, [-0.031294625252485275,0.1310432106256485,-0.12404076755046844,0.02280474081635475,-0.11290968209505081,0.054517488926649094,-0.043522775173187256,0.021641014143824577]::DOUBLE[]),(4, 8, [0.052677594125270844,-0.046193819493055344,0.07900066673755646,-0.22205011546611786,-0.04893139377236366,-0.11628684401512146,0.05514438450336456,-0.04365023225545883]::DOUBLE[]),(4, 9, [0.09777842462062836,0.08993559330701828,-0.03192216530442238,0.041753944009542465,0.048579972237348557,-0.11202393472194672,0.003970780409872532,-0.1350824385881424]::DOUBLE[]),(4, 10, [-0.005743667017668486,-0.05487674102187157,-0.07278446108102798,-0.115526482462883,0.048743415623903275,-0.14839553833007812,-0.07930450886487961,0.11390851438045502]::DOUBLE[]),(4, 11, [-0.05342531576752663,0.0029866090044379234,-0.002546871779486537,0.1935938149690628,-0.025749091058969498,-0.14029613137245178,-0.0033815691713243723,0.021937573328614235]::DOUBLE[]),(4, 12, [0.10578407347202301,0.016938693821430206,-0.07806963473558426,-0.09703540056943893,-0.05332789570093155,0.07694631814956665,0.18893404304981232,-0.04624081775546074]::DOUBLE[]),(4, 13, [-0.14857962727546692,0.016747677698731422,0.0013024769723415375,-0.1251276582479477,-0.05604676157236099,0.06089925393462181,-0.0934024527668953,-0.07773768156766891]::DOUBLE[]),(4, 14, [-7.198070670710877E-5,0.1554621458053589,0.09057816118001938,-0.03662525862455368,-0.06058917194604874,0.06636985391378403,0.07692578434944153,0.10365232080221176]::DOUBLE[]),(4, 15, [0.022183438763022423,-0.020220929756760597,0.2067440301179886,-0.010853439569473267,0.05381329730153084,0.010531887412071228,0.042136505246162415,-0.07437161356210709]::DOUBLE[]),(5, 0, [0.08237463980913162,0.02832191251218319,-8.779442869126797E-4,0.20485520362854004,-0.04404452443122864,-0.023421261459589005,0.03737429901957512,0.04016609117388725]::DOUBLE[]),(5, 1, [-0.06084742397069931,0.04165928438305855,-0.00447789067402482,-0.009425447322428226,-0.09036879241466522,-0.20921503007411957,-0.010605969466269016,0.05085030570626259]::DOUBLE[]),(5, 2, [-0.011861762031912804,-0.11651205271482468,-0.0603153295814991,0.01306939497590065,0.05633830651640892,-0.07727423310279846,0.08340923488140106,-0.10446163266897202]::DOUBLE[]),(5, 3, [0.17973336577415466,-0.0017642227467149496,-0.0199054516851902,-0.09111612290143967,0.05138512700796127,0.09796939790248871,0.0531025305390358,0.12349318712949753]::DOUBLE[]),(5, 4, [-0.012683400884270668,-0.11914961785078049,0.1708402782678604,-0.04222028702497482,0.03972106799483299,0.0598754808306694,0.0036710472777485847,0.028798507526516914]::DOUBLE[]),(5, 5, [0.06413476169109344,0.026379628106951714,-0.0620582178235054,-0.17431747913360596,0.05473089963197708,-0.09591539204120636,-0.05831519886851311,0.04391245171427727]::DOUBLE[]),(5, 6, [0.0021864022128283978,-0.10240813344717026,-0.07673497498035431,0.0702439472079277,0.0175449401140213,0.15432119369506836,0.06916998326778412,0.06374501436948776]::DOUBLE[]),(5, 7, [-0.075058713555336,0.2107899785041809,0.019344881176948547,-0.021504346281290054,0.10681302100419998,0.01413009688258171,0.05919220298528671,0.10227754712104797]::DOUBLE[]),(5, 8, [-0.04015257582068443,-0.004127933643758297,-0.1740426868200302,0.024970002472400665,0.1412779986858368,0.023306384682655334,-0.08633013069629669,0.06990354508161545]::DOUBLE[]),(5, 9, [-0.14185293018817902,0.001344765885733068,-0.02151726931333542,-0.10207615047693253,-0.10032369196414948,0.03592708706855774,-0.11413873732089996,-0.035767849534749985]::DOUBLE[]),(5, 10, [-0.17390190064907074,-0.05931953713297844,0.04288819059729576,0.07699649780988693,-0.03876848891377449,-0.017312852665781975,0.04384073615074158,0.10451405495405197]::DOUBLE[]),(5, 11, [0.1014273390173912,0.0735435038805008,0.20418083667755127,-0.04358178749680519,-0.040334831923246384,-0.03501499444246292,0.08803943544626236,-0.12007609754800797]::DOUBLE[]),(5, 12, [-0.015043598599731922,0.017258938401937485,5.076478119008243E-4,0.07086668908596039,-0.03653049096465111,0.13457198441028595,0.007892157882452011,-0.188736692070961]::DOUBLE[]),(5, 13, [0.04964686557650566,-0.013288196176290512,0.09434337168931961,0.06600093841552734,0.006614364683628082,0.009627390652894974,-0.16604109108448029,-0.025403592735528946]::DOUBLE[]),(5, 14, [0.10279569029808044,-0.132696270942688,-0.027762606739997864,-0.03755682334303856,-0.15573793649673462,0.03017950989305973,-0.04138866811990738,0.05170871689915657]::DOUBLE[]),(5, 15, [-0.010739394463598728,0.15347975492477417,-0.1114397644996643,-0.009018740616738796,-0.16596505045890808,0.00586307467892766,0.07115156203508377,-0.03914584964513779]::DOUBLE[]),(6, 0, [0.06287072598934174,-0.08066117763519287,0.16792891919612885,0.054967109113931656,0.045108404010534286,-0.0047063520178198814,0.10451909899711609,0.018930384889245033]::DOUBLE[]),(6, 1, [-0.15881207585334778,0.06292740255594254,-0.012593048624694347,0.04245375096797943,0.11217895895242691,0.04413783550262451,-0.10693208873271942,-2.6438672648509964E-5]::DOUBLE[]),(6, 2, [-0.02851538173854351,-0.056863293051719666,0.10976953059434891,0.027758019044995308,-0.012305104173719883,0.09237898141145706,-0.13854755461215973,-0.19290891289710999]::DOUBLE[]),(6, 3, [0.1348028928041458,0.1253252774477005,6.53933035209775E-4,-0.06425415724515915,0.03893708437681198,0.0176698025316,-0.009791559539735317,-0.036513637751340866]::DOUBLE[]),(6, 4, [0.03987409546971321,0.02789546549320221,0.011034011840820312,-0.04772385582327843,-0.160331130027771,-0.023962197825312614,-0.08134651929140091,-0.1312035620212555]::DOUBLE[]),(6, 5, [-0.05947378650307655,0.004513351712375879,-0.06952903419733047,-0.044831886887550354,0.10556140542030334,0.09915755689144135,0.0814451351761818,-0.08927018940448761]::DOUBLE[]),(6, 6, [0.14192882180213928,-0.18609246611595154,0.04515483230352402,-0.10245117545127869,0.02137594483792782,0.04409658536314964,-0.08379673957824707,0.0414247028529644]::DOUBLE[]),(6, 7, [0.02106410078704357,0.007282680366188288,-0.07209755480289459,-0.1837744265794754,-0.059930358082056046,0.02231765352189541,0.11940553039312363,-0.031373221427202225]::DOUBLE[]),(6, 8, [-0.08234603703022003,-0.08957722783088684,0.04808543249964714,0.03938845545053482,-0.056625064462423325,0.1297357827425003,0.050167910754680634,0.07343608886003494]::DOUBLE[]),(6, 9, [-0.0010828068479895592,0.09577532112598419,0.11510928720235825,-0.05742492899298668,0.005300566088408232,-0.024665439501404762,0.07476069778203964,0.18126368522644043]::DOUBLE[]),(6, 10, [-0.053237851709127426,-0.1713552176952362,0.03672114387154579,-6.146616069599986E-4,0.023378346115350723,-0.1424340009689331,0.013344795443117619,-0.10602839291095734]::DOUBLE[]),(6, 11, [0.043087758123874664,0.08136315643787384,0.09087841212749481,-0.04392280429601669,0.08126135170459747,-0.1638364940881729,-0.14364896714687347,-0.004776802379637957]::DOUBLE[]),(6, 12, [-0.12388277798891068,0.03001541830599308,-0.03414151817560196,0.09972864389419556,-0.1909644454717636,0.006233696360141039,0.10285152494907379,-0.05105752870440483]::DOUBLE[]),(6, 13, [-0.048822686076164246,-0.09501512348651886,-0.09641211479902267,-0.025549013167619705,-0.03136557340621948,-0.05347185954451561,-0.1043616458773613,0.0997619479894638]::DOUBLE[]),(6, 14, [0.040824223309755325,-0.05288851261138916,-0.06753057986497879,0.11681922525167465,0.11839400976896286,-0.020928584039211273,0.010070470161736012,0.06799912452697754]::DOUBLE[]),(6, 15, [-0.03384169563651085,0.10076071321964264,-0.029790526255965233,0.12552092969417572,0.02369476668536663,-0.10279162973165512,0.05676811560988426,0.029804935678839684]::DOUBLE[]),(7, 0, [-0.09555590897798538,-0.013360581360757351,-0.13700926303863525,0.05041888728737831,-0.009930172003805637,-0.16633720695972443,-0.05769722908735275,0.008520364761352539]::DOUBLE[]),(7, 1, [-0.025853540748357773,-0.09489723294973373,-0.12892180681228638,-0.07209204882383347,-0.0797095000743866,0.04040627181529999,0.03097323141992092,-0.18065881729125977]::DOUBLE[]),(7, 2, [0.06862916052341461,0.025274867191910744,5.478767343447544E-5,0.16705167293548584,-0.029785247519612312,-0.11282703280448914,0.13996437191963196,-0.0814070925116539]::DOUBLE[]),(7, 3, [-0.06068374589085579,-0.09293719381093979,-0.0072312080301344395,-0.15744102001190186,0.07190261781215668,0.05316340923309326,-0.01573900878429413,0.035856716334819794]::DOUBLE[]),(7, 4, [0.06141861528158188,0.05534761771559715,-0.10639005154371262,-0.016930118203163147,-0.14449211955070496,0.0384562723338604,-0.031520675867795944,0.05193231254816055]::DOUBLE[]),(7, 5, [0.07395470142364502,-0.10059472918510437,0.025215117260813713,0.101736880838871,-0.10150641202926636,-0.019192200154066086,-0.06600569188594818,-0.07930692285299301]::DOUBLE[]),(7, 6, [0.027727074921131134,0.005395242944359779,0.0678335651755333,-0.08647255599498749,0.10083890706300735,-0.05889859423041344,-0.02073422446846962,-0.1953042447566986]::DOUBLE[]),(7, 7, [-0.0736699104309082,0.08354822546243668,0.012914393097162247,0.03132248297333717,-0.033900097012519836,0.10545215755701065,-0.04240552335977554,-0.10851766914129257]::DOUBLE[]),(7, 8, [0.12525829672813416,-0.1350245624780655,-0.07723180204629898,-0.041418708860874176,0.09253095835447311,-0.05428478866815567,0.09327547997236252,0.025365428999066353]::DOUBLE[]),(7, 9, [-0.044765520840883255,0.04543835669755936,0.1272081583738327,-0.0318293422460556,-0.056972529739141464,-0.06436463445425034,0.11725230515003204,0.07517944276332855]::DOUBLE[]),(7, 10, [0.02222060225903988,0.07351347804069519,0.14961867034435272,-0.09120550751686096,-0.08244214951992035,0.04488107189536095,-0.15257978439331055,-0.008381841704249382]::DOUBLE[]),(7, 11, [0.06219214200973511,0.0827416256070137,-0.028780387714505196,0.04010144993662834,0.11669295281171799,-0.025876758620142937,-0.07405770570039749,0.14819122850894928]::DOUBLE[]),(7, 12, [-0.0680442675948143,-0.06409658491611481,-0.08130086213350296,0.07146163284778595,0.010507066734135151,0.0803174152970314,0.12021395564079285,0.016577893868088722]::DOUBLE[]),(7, 13, [0.14556051790714264,-0.0060819415375590324,0.07107691466808319,0.018907111138105392,0.04424886777997017,0.1583082228899002,-0.011141132563352585,-0.008839546702802181]::DOUBLE[]),(7, 14, [-0.07942943274974823,-0.03133227676153183,0.15797899663448334,0.13629482686519623,0.11783745139837265,0.03884759545326233,-0.10642728209495544,-0.005279919598251581]::DOUBLE[]),(7, 15, [0.003325489116832614,0.12197153270244598,-0.15126517415046692,-0.13923127949237823,0.0555468387901783,-0.10769963264465332,0.00796580407768488,-0.014849641360342503]::DOUBLE[])"

  /** The BPE piece inventory trainBpe learns at 48 merges on the sf
    * documents table (deterministic: most-frequent pair first, ties to the
    * lexicographically smallest pair — a pure function of the
    * word-frequency multiset, the OracleConstants convention). The
    * tokenize_bpe oracle tokenizes under THIS literal while the gate
    * RE-TRAINS from scratch — any drift in the merge loop shows up as a
    * hash mismatch. Regenerate with OracleConstants if testdata changes.
    */
  private val BpeVocabM48: Seq[String] = Seq("v", "a", "l", "u", "e", "s",
    "p", "r", "k", "o", "w", "t", "c", "m", "d", "i", "n", "j", "q", "y",
    "g", "b", "h", "f", "er", "in", "ow", "or", "st", "mer", "at", "lu",
    "ar", "par", "jo", "join", "as", "ash", "hash", "row", "atc", "atch",
    "batch", "an", "can", "scan", "co", "cu", "colu", "colum", "column",
    "cust", "custo", "customer", "fi", "fil", "filt", "filter", "al",
    "all", "mall", "small", "ge", "low", "merge", "slow", "ct", "ctor",
    "der", "ector", "order", "vector")

  /** The unigram-LM (piece, logprob) model trainUnigram learns at
    * vocabSize 40 on the sf documents table (deterministic hard-EM — a
    * pure function of the word-frequency multiset, the OracleConstants
    * convention). The tokenize_unigram oracle Viterbi-decodes under THIS
    * literal while the gate RE-TRAINS from scratch — seed-scoring, EM
    * counting, pruning or smoothing drift all show up as hash mismatches.
    * Double.toString round-trips bit-exactly through DuckDB's parser, so
    * both engines sum the identical IEEE doubles. Regenerate with
    * OracleConstants if testdata changes.
    */
  private val UnigramVocabV40: Seq[(String, Double)] = Seq(
    ("a", -2.2167953024121054), ("b", -3.823989174633823),
    ("batc", -4.467665959719472), ("c", -4.494694632107391),
    ("col", -4.47087109066842), ("cust", -4.47087109066842),
    ("d", -3.397910497513344), ("e", -2.4332915214089432),
    ("er", -3.40378315157246), ("f", -4.560366215008393),
    ("filt", -4.471941754582261), ("g", -3.1343505233904683),
    ("h", -3.827919555886642), ("hash", -4.457055780607456),
    ("i", -3.4201130746648376), ("j", -12.004029898123983),
    ("join", -4.439272885218254), ("k", -3.828482302102956),
    ("l", -3.404151340089138), ("m", -4.521348069969332),
    ("mall", -4.477312336771277), ("merg", -4.488140812908857),
    ("n", -3.8172871110104643), ("o", -3.835260074448713),
    ("omer", -4.47087109066842), ("or", -3.411172802786756),
    ("p", -3.4238619075463577), ("q", -4.540666852603962),
    ("r", -3.143388856350107), ("row", -4.461286352755433),
    ("s", -3.4171240942964456), ("scan", -4.468733195679895),
    ("slow", -4.488140812908857), ("st", -3.8478065749293586),
    ("t", -2.7319361298723184), ("u", -3.4201130746648376),
    ("umn", -4.47087109066842),
    ("v", -3.8100768745602407), ("w", -3.8307364591577553),
    ("y", -3.8335613197933096))

  /** A Seq[String] as a DuckDB list literal, single quotes doubled. */
  private def sqlStrList(ps: Seq[String]): String =
    ps.map(p => "'" + p.replace("'", "''") + "'").mkString("[", ", ", "]")

  /** (piece, logprob) pairs as DuckDB VALUES rows — Double.toString is the
    * shortest round-trip decimal, so the parsed literal is bit-identical.
    */
  private def sqlScoredRows(ps: Seq[(String, Double)]): String =
    ps.map { case (p, lp) =>
      "('" + p.replace("'", "''") + "', " +
        java.lang.Double.toString(lp) + "::DOUBLE)"
    }.mkString(", ")

  /** Nearest-centroid assignment (squared-Euclidean argmin, ties → lowest
    * cell — list_distance is its monotone sqrt) against pinned centroids.
    */
  private def nearestCentroidOracle(centroidValues: String, outCol: String): String =
    s"""WITH cents(cell, c) AS (VALUES $centroidValues),
       |d AS (SELECT e.vec_id, cents.cell,
       |  list_distance(CAST(e.embedding AS DOUBLE[]), cents.c) AS dist
       |  FROM embeddings e CROSS JOIN cents)
       |SELECT vec_id, CAST(cell AS BIGINT) AS $outCol FROM d
       |QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) = 1
       |ORDER BY vec_id""".stripMargin

  /** Shared truth for the saved/appended BM25 gates: the full-corpus BM25
    * top-10 for "spark join window" (same IEEE op order as the engine).
    */
  private val Bm25SavedOracle: String =
    """WITH t AS (
      |  SELECT doc_id, CASE WHEN len(trim(text)) = 0 THEN []
      |    ELSE string_split(lower(trim(text)), ' ') END AS w
      |  FROM documents),
      |d AS (
      |  SELECT doc_id, CAST(len(w) AS DOUBLE) AS dl,
      |    CAST(len(list_filter(w, x -> x = 'spark')) AS DOUBLE) AS tf0,
      |    CAST(len(list_filter(w, x -> x = 'join')) AS DOUBLE) AS tf1,
      |    CAST(len(list_filter(w, x -> x = 'window')) AS DOUBLE) AS tf2
      |  FROM t),
      |s AS (
      |  SELECT CAST(count(*) AS DOUBLE) AS n, CAST(sum(dl) AS DOUBLE) AS sumdl,
      |    CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
      |    CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
      |    CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df2
      |  FROM d)
      |SELECT doc_id, round(score, 3) AS score FROM (
      |  SELECT d.doc_id,
      |    ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5)) * tf0 * 2.2 / (tf0 + 1.2 * (1.0 - 0.75 + 0.75 * dl / (sumdl / n)))
      |    + ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5)) * tf1 * 2.2 / (tf1 + 1.2 * (1.0 - 0.75 + 0.75 * dl / (sumdl / n)))
      |    + ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5)) * tf2 * 2.2 / (tf2 + 1.2 * (1.0 - 0.75 + 0.75 * dl / (sumdl / n))) AS score
      |  FROM d, s) q
      |WHERE score > 0
      |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin

  /** Shared truth for the ad-hoc and saved hybrid gates: BM25 top-20 and
    * exact dense-cosine top-20 (query = vec_id 1) fused by reciprocal rank
    * (k = 60, top 10).
    */
  private val HybridRrfOracle: String =
    """WITH t AS (
      |  SELECT doc_id, CASE WHEN len(trim(text)) = 0 THEN []
      |    ELSE string_split(lower(trim(text)), ' ') END AS w
      |  FROM documents),
      |d AS (
      |  SELECT doc_id, CAST(len(w) AS DOUBLE) AS dl,
      |    CAST(len(list_filter(w, x -> x = 'spark')) AS DOUBLE) AS tf0,
      |    CAST(len(list_filter(w, x -> x = 'join')) AS DOUBLE) AS tf1,
      |    CAST(len(list_filter(w, x -> x = 'window')) AS DOUBLE) AS tf2
      |  FROM t),
      |s AS (
      |  SELECT CAST(count(*) AS DOUBLE) AS n, CAST(sum(dl) AS DOUBLE) AS sumdl,
      |    CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
      |    CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
      |    CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df2
      |  FROM d),
      |lexs AS (
      |  SELECT d.doc_id,
      |    ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5)) * tf0 * 2.2 / (tf0 + 1.2 * (1.0 - 0.75 + 0.75 * dl / (sumdl / n)))
      |    + ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5)) * tf1 * 2.2 / (tf1 + 1.2 * (1.0 - 0.75 + 0.75 * dl / (sumdl / n)))
      |    + ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5)) * tf2 * 2.2 / (tf2 + 1.2 * (1.0 - 0.75 + 0.75 * dl / (sumdl / n))) AS score
      |  FROM d, s),
      |lex AS (
      |  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r
      |  FROM lexs WHERE score > 0 QUALIFY r <= 20),
      |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 1),
      |den AS (
      |  SELECT e.vec_id AS doc_id, row_number() OVER (
      |    ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[])) DESC, e.vec_id) AS r
      |  FROM embeddings e, q QUALIFY r <= 20),
      |u AS (SELECT doc_id, r FROM lex UNION ALL SELECT doc_id, r FROM den)
      |SELECT doc_id, round(score, 6) AS score FROM (
      |  SELECT doc_id, sum(1.0 / (60.0 + r)) AS score FROM u GROUP BY doc_id
      |  ORDER BY score DESC, doc_id LIMIT 10) f
      |ORDER BY score DESC, doc_id""".stripMargin

  /** Shared truth for the agentic reduce gates: uppercase-collapsed docs
    * < 40, filtered at ≥ 150 chars, summarized as "UNITS=n CHARS=Σ".
    */
  private val AgenticReduceOracle: String =
    """WITH m AS (SELECT doc_id, upper(regexp_replace(text, '\s+', ' ', 'g')) AS content
      |           FROM documents WHERE doc_id < 40),
      |k AS (SELECT content FROM m WHERE length(content) >= 150)
      |SELECT 'UNITS=' || CAST(count(*) AS BIGINT)
      |    || ' CHARS=' || CAST(sum(length(content)) AS BIGINT) AS final
      |FROM k""".stripMargin

  /** DuckDB-runnable oracles. Keys must match `queries`; column aliases must
    * match the Spark result exactly (driver hashes sorted-by-name columns).
    */
  val oracleSql: Map[String, String] = Map(
    "serialize_formats" ->
      """SELECT doc_id,
        |  '{"text":"' || text || '"}' AS json_doc,
        |  '<row><text>' || text || '</text></row>' AS xml_doc
        |FROM documents ORDER BY doc_id""".stripMargin,

    "source_dir_html" ->
      """SELECT doc_id, 0 AS page,
        |  md5(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS content_md5
        |FROM documents WHERE doc_id < 50 ORDER BY doc_id""".stripMargin,

    // docx/xlsx/pptx round trips are exact (single run / single inline
    // cell / single slide run); the epub chapter goes through the html
    // tag-strip + collapse.
    "source_dir_office" ->
      """SELECT doc_id,
        |  CASE doc_id % 4 WHEN 0 THEN 'docx' WHEN 1 THEN 'xlsx'
        |       WHEN 2 THEN 'epub' ELSE 'pptx' END AS fmt,
        |  0 AS page,
        |  md5(CASE WHEN doc_id % 4 = 2
        |      THEN trim(regexp_replace(text, '\s+', ' ', 'g'))
        |      ELSE text END) AS content_md5
        |FROM documents WHERE doc_id < 30 ORDER BY doc_id""".stripMargin,

    // The pdf write → inflate → Tj-scan round trip is exact modulo trim.
    "source_dir_pdf" ->
      """SELECT doc_id, 0 AS page, md5(trim(text)) AS content_md5
        |FROM documents WHERE doc_id < 50 ORDER BY doc_id""".stripMargin,

    // The exported WET segments hold exactly the corpus text, per doc.
    "sink_warc_segments" ->
      """SELECT doc_id, md5(text) AS content_md5
        |FROM documents WHERE doc_id < 50 ORDER BY doc_id""".stripMargin,

    // Two-microbatch streamed WARC ingest delivers every record once.
    "stream_warc_ingest" ->
      """SELECT doc_id, md5(text) AS content_md5
        |FROM documents WHERE doc_id < 40 ORDER BY doc_id""".stripMargin,

    // Both tar-shard modalities round-trip byte-exactly per sample.
    "sink_tar_shards" ->
      """SELECT doc_id, md5(text) AS txt_md5,
        |  md5('{"doc_id":' || doc_id || ',"lang":"' || lang || '"}') AS json_md5
        |FROM documents WHERE doc_id < 50 ORDER BY doc_id""".stripMargin,

    // Every doc < 40 once as a WET conversion record; the first 10 again
    // as HTTP response records whose bodies round-trip byte-exactly.
    "source_warc" ->
      """SELECT doc_id, warc_type, md5(text) AS content_md5 FROM (
        |  SELECT doc_id, 'conversion' AS warc_type, text
        |  FROM documents WHERE doc_id < 40
        |  UNION ALL
        |  SELECT doc_id, 'response', text FROM documents WHERE doc_id < 10)
        |ORDER BY doc_id, warc_type""".stripMargin,

    // Retrieval top-20 by cosine (the sem_search truth), reranked by
    // overlap(query terms)/sqrt(doc tokens) with candidate-order
    // tie-break — LexicalReranker's exact math, rank pinned.
    "sem_search_rerank" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |cand AS (
        |  SELECT d.doc_id, d.text,
        |    row_number() OVER (ORDER BY
        |      list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[])) DESC,
        |      d.doc_id) - 1 AS ri
        |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id, q
        |  ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[])) DESC, d.doc_id
        |  LIMIT 20),
        |tok AS (
        |  SELECT doc_id, ri,
        |    unnest(list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}_]+'),
        |      x -> x <> '')) AS w
        |  FROM cand),
        |sc AS (
        |  SELECT doc_id, ri,
        |    count(*) FILTER (WHERE w IN ('spark', 'data', 'pipeline')) AS ov,
        |    count(*) AS n
        |  FROM tok GROUP BY doc_id, ri)
        |SELECT doc_id,
        |  row_number() OVER (ORDER BY ov / sqrt(n) DESC, ri) - 1 AS rank
        |FROM sc ORDER BY ov / sqrt(n) DESC, ri LIMIT 5""".stripMargin,

    // The block classifier returns exactly the article text planted in
    // each constructed page (whitespace-collapsed, boilerplate gone).
    "web_main_content" ->
      """SELECT doc_id, trim(regexp_replace(text, '\s+', ' ', 'g')) AS text
        |FROM documents WHERE doc_id < 40 AND n_chars >= 100
        |ORDER BY doc_id""".stripMargin,

    // Strip the wrapper markup back to the collapsed document text.
    "web_extract" ->
      """SELECT doc_id,
        |  'Title ' || trim(regexp_replace(text, '\s+', ' ', 'g')) AS text
        |FROM documents WHERE doc_id < 30 ORDER BY doc_id""".stripMargin,

    "source_path_formats" ->
      """SELECT doc_id, lang, text, 'csv' AS fmt
        |FROM documents WHERE doc_id < 50
        |UNION ALL
        |SELECT doc_id, lang, text, 'json' AS fmt
        |FROM documents WHERE doc_id < 50
        |UNION ALL
        |SELECT doc_id, lang, text, 'orc' AS fmt
        |FROM documents WHERE doc_id < 50""".stripMargin,

    // Streaming gates: the stream saw the whole table in one micro-batch,
    // so the emitted state equals the batch aggregate / distinct / top-k.
    "stream_windowed_counts" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS w_start,
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS total_value
        |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin,

    "stream_dedup_keys" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY 1,2""".stripMargin,

    // The whole crawl pipeline replayed batch-wise from scratch:
    // main-content extraction is construction-based (pages were built
    // around corpus text, so extraction = text when len >= the block
    // floor, '' otherwise), then the quality conjunction, the NB margin
    // route (model refit on the FULL corpus, the lang_id_nb replay), and
    // the two dedup rounds (batch 2 against corpus ∪ batch-1 survivors,
    // the dedup_incremental_grow shape). Final corpus = index ids.
    "stream_crawl_pipeline" ->
      """WITH u AS (SELECT doc_id, text FROM documents WHERE doc_id < 240),
        |ex AS (SELECT doc_id,
        |    CASE WHEN len(text) >= 80 THEN text ELSE '' END AS t FROM u),
        |sig AS (SELECT doc_id, t,
        |    CAST(CASE WHEN len(trim(t)) = 0 THEN 0
        |      ELSE len(string_split_regex(trim(t), '\s+')) END AS BIGINT)
        |      AS n_words,
        |    CASE WHEN len(trim(t)) = 0 THEN 0.0
        |      ELSE len(regexp_replace(t, '\s+', '', 'g')) * 1.0
        |        / len(string_split_regex(trim(t), '\s+')) END AS mwl,
        |    CASE WHEN len(trim(t)) = 0 THEN 0.0
        |      ELSE len(regexp_extract_all(t, '#|\.\.\.')) * 1.0
        |        / len(string_split_regex(trim(t), '\s+')) END AS sym,
        |    CASE WHEN len(trim(t)) = 0 THEN 0.0
        |      ELSE len(list_filter(string_split_regex(lower(trim(t)), '\s+'),
        |        w -> regexp_matches(w, '[a-z]'))) * 1.0
        |        / len(string_split_regex(lower(trim(t)), '\s+')) END AS alpha,
        |    len(list_filter(list_distinct(string_split_regex(lower(trim(t)), '\s+')),
        |      w -> w IN ('the','be','to','of','and','that','have','with')))
        |      AS n_stop,
        |    list_filter(string_split(t, chr(10)), x -> len(trim(x)) > 0) AS ls
        |  FROM ex),
        |q AS (SELECT doc_id, t FROM sig
        |  WHERE n_words BETWEEN 50 AND 100000 AND mwl BETWEEN 3.0 AND 10.0
        |    AND sym <= 0.1 AND alpha >= 0.8
        |    AND coalesce(len(list_filter(ls,
        |      x -> substring(trim(x), 1, 1) IN ('-','*','•'))) * 1.0
        |      / nullif(len(ls), 0) <= 0.9, TRUE)
        |    AND coalesce(len(list_filter(ls, x -> right(trim(x), 3) = '...'
        |      OR right(trim(x), 1) = '…')) * 1.0
        |      / nullif(len(ls), 0) <= 0.3, TRUE)
        |    AND n_stop >= 1),
        |nt AS (SELECT doc_id, lang,
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS s
        |  FROM documents),
        |g AS (SELECT doc_id, lang, list_concat(
        |    list_transform(range(1, len(s) + 1), i -> substr(s, i, 1)),
        |    list_transform(range(1, len(s)), i -> substr(s, i, 2))) AS gr
        |  FROM nt),
        |cnt AS (SELECT y, gram, CAST(count(*) AS DOUBLE) AS c
        |  FROM (SELECT lang AS y, unnest(gr) AS gram FROM g) GROUP BY y, gram),
        |voc AS (SELECT CAST(count(DISTINCT gram) AS DOUBLE) AS v FROM cnt),
        |tot AS (SELECT y, CAST(sum(c) AS DOUBLE) AS t FROM cnt GROUP BY y),
        |cls AS (SELECT lang AS y, ln(CAST(count(*) AS DOUBLE)) -
        |    ln((SELECT CAST(count(*) AS DOUBLE) FROM documents)) AS prior
        |  FROM documents GROUP BY lang),
        |m AS (SELECT cnt.y, map(list(gram ORDER BY gram),
        |      list(ln((c + 1) / (t + v)) ORDER BY gram)) AS mp,
        |    min(ln(1 / (t + v))) AS oov
        |  FROM cnt JOIN tot ON cnt.y = tot.y, voc GROUP BY cnt.y),
        |gq AS (SELECT q.doc_id, g.gr FROM q JOIN g USING (doc_id)),
        |sc AS (SELECT gq.doc_id, m.y AS cand,
        |    CASE WHEN len(gq.gr) = 0 THEN cls.prior
        |      ELSE list_reduce(list_transform(gq.gr, x -> coalesce(mp[x][1], oov)),
        |        (a, b) -> a + b) + cls.prior END AS score
        |  FROM gq CROSS JOIN m JOIN cls ON m.y = cls.y),
        |ranked AS (SELECT doc_id, score, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY score DESC, cand) AS rn FROM sc),
        |routed AS (SELECT r1.doc_id FROM ranked r1
        |  JOIN ranked r2 ON r1.doc_id = r2.doc_id AND r2.rn = 2
        |  WHERE r1.rn = 1 AND r1.score - r2.score >= 2.0),
        |sv AS (SELECT q.doc_id,
        |    string_split(trim(q.t), ' ') AS w, q.t
        |  FROM q JOIN routed USING (doc_id)),
        |svs AS (SELECT doc_id,
        |    CASE WHEN len(w) <= 3 THEN [array_to_string(w, ' ')]
        |    ELSE list_transform(range(1, len(w)-1), i -> array_to_string(list_slice(w, i, i+2), ' ')) END AS sh,
        |    md5(regexp_replace(lower(trim(t)), '\s+', ' ', 'g')) AS fp
        |  FROM sv),
        |it AS (SELECT doc_id, text, string_split(trim(text), ' ') AS w
        |  FROM u WHERE doc_id % 2 = 0),
        |idx0 AS (SELECT doc_id,
        |    CASE WHEN len(w) <= 3 THEN [array_to_string(w, ' ')]
        |    ELSE list_transform(range(1, len(w)-1), i -> array_to_string(list_slice(w, i, i+2), ' ')) END AS sh,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM it),
        |b1 AS (SELECT * FROM svs WHERE doc_id < 120),
        |b1x AS (
        |  SELECT n.doc_id FROM b1 n WHERE n.fp IN (SELECT fp FROM idx0)
        |  UNION
        |  SELECT n.doc_id FROM b1 n JOIN idx0 o
        |    ON len(list_distinct(list_intersect(n.sh, o.sh))) * 1.0 /
        |       len(list_distinct(list_concat(n.sh, o.sh))) >= 0.5),
        |b1s AS (SELECT * FROM b1
        |  WHERE doc_id NOT IN (SELECT doc_id FROM b1x)),
        |idx1 AS (SELECT doc_id, sh, fp FROM idx0
        |  UNION ALL SELECT doc_id, sh, fp FROM b1s),
        |b2 AS (SELECT * FROM svs WHERE doc_id >= 120),
        |b2x AS (
        |  SELECT n.doc_id FROM b2 n WHERE n.fp IN (SELECT fp FROM idx1)
        |  UNION
        |  SELECT n.doc_id FROM b2 n JOIN idx1 o
        |    ON len(list_distinct(list_intersect(n.sh, o.sh))) * 1.0 /
        |       len(list_distinct(list_concat(n.sh, o.sh))) >= 0.5),
        |b2s AS (SELECT * FROM b2
        |  WHERE doc_id NOT IN (SELECT doc_id FROM b2x))
        |SELECT doc_id FROM it
        |UNION ALL SELECT doc_id FROM b1s
        |UNION ALL SELECT doc_id FROM b2s
        |ORDER BY doc_id""".stripMargin,

    // Both microbatches replayed from scratch: identical quote plants,
    // per-batch LSH exclusion (fingerprint + exact Jaccard ≥ 0.5) vs the
    // index as grown so far, then the winnow print algebra (5-word gram
    // md5s, window-4 minima, distinct prints, ≥ 2 shared with ANY index
    // doc ⇒ dropped) vs the SAME growing index — batch-2 quoters of
    // batch-1 survivors flag only because batch 1's appended prints are
    // in the comparison set.
    "stream_crawl_winnow" ->
      """WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 240),
        |ev AS (SELECT doc_id AS src_id,
        |    array_to_string((string_split(trim(text), ' '))[1:40], ' ') AS quote
        |  FROM d WHERE doc_id % 2 = 0),
        |oq AS (SELECT doc_id AS osrc_id,
        |    array_to_string((string_split(trim(text), ' '))[1:40], ' ') AS oquote
        |  FROM d WHERE doc_id % 2 = 1),
        |od AS (SELECT o.doc_id,
        |    CASE WHEN o.doc_id % 10 = 1 THEN o.text || ' ' || e.quote
        |         WHEN o.doc_id % 10 = 3 AND o.doc_id >= 120
        |           AND q2.oquote IS NOT NULL THEN o.text || ' ' || q2.oquote
        |         ELSE o.text END AS text
        |  FROM (SELECT doc_id, text FROM d WHERE doc_id % 2 = 1) o
        |  LEFT JOIN ev e ON o.doc_id - 1 = e.src_id
        |  LEFT JOIN oq q2 ON o.doc_id - 120 = q2.osrc_id),
        |ns AS (SELECT doc_id,
        |    CASE WHEN len(w) <= 3 THEN [array_to_string(w, ' ')]
        |    ELSE list_transform(range(1, len(w)-1),
        |      i -> array_to_string(list_slice(w, i, i+2), ' ')) END AS sh,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
        |    list_distinct(list_transform(
        |      range(1, greatest(len(hs) - 3, 1) + 1),
        |      i -> list_aggregate(list_slice(hs, i, i + 3), 'min'))) AS wfp
        |  FROM (SELECT doc_id, text, w, list_transform(
        |      CASE WHEN len(w) <= 5 THEN [array_to_string(w, ' ')]
        |        ELSE list_transform(range(1, len(w) - 3),
        |          i -> array_to_string(list_slice(w, i, i + 4), ' ')) END,
        |      g -> md5(g)) AS hs
        |    FROM (SELECT doc_id, text, string_split(trim(text), ' ') AS w
        |          FROM od))),
        |idx0 AS (SELECT doc_id,
        |    CASE WHEN len(w) <= 3 THEN [array_to_string(w, ' ')]
        |    ELSE list_transform(range(1, len(w)-1),
        |      i -> array_to_string(list_slice(w, i, i+2), ' ')) END AS sh,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
        |    list_distinct(list_transform(
        |      range(1, greatest(len(hs) - 3, 1) + 1),
        |      i -> list_aggregate(list_slice(hs, i, i + 3), 'min'))) AS wfp
        |  FROM (SELECT doc_id, text, w, list_transform(
        |      CASE WHEN len(w) <= 5 THEN [array_to_string(w, ' ')]
        |        ELSE list_transform(range(1, len(w) - 3),
        |          i -> array_to_string(list_slice(w, i, i + 4), ' ')) END,
        |      g -> md5(g)) AS hs
        |    FROM (SELECT doc_id, text, string_split(trim(text), ' ') AS w
        |          FROM d WHERE doc_id % 2 = 0))),
        |b1 AS (SELECT * FROM ns WHERE doc_id < 120),
        |b1x AS (
        |  SELECT n.doc_id FROM b1 n WHERE n.fp IN (SELECT fp FROM idx0)
        |  UNION
        |  SELECT n.doc_id FROM b1 n JOIN idx0 o
        |    ON len(list_distinct(list_intersect(n.sh, o.sh))) * 1.0 /
        |       len(list_distinct(list_concat(n.sh, o.sh))) >= 0.5
        |  UNION
        |  SELECT t.doc_id FROM (
        |    SELECT n.doc_id, o.doc_id AS iid, CAST(count(*) AS BIGINT) AS c
        |    FROM (SELECT doc_id, unnest(wfp) AS p FROM b1) n
        |    JOIN (SELECT doc_id, unnest(wfp) AS p FROM idx0) o USING (p)
        |    GROUP BY 1, 2 HAVING count(*) >= 2) t),
        |b1s AS (SELECT * FROM b1
        |  WHERE doc_id NOT IN (SELECT doc_id FROM b1x)),
        |idx1 AS (SELECT doc_id, sh, fp, wfp FROM idx0
        |  UNION ALL SELECT doc_id, sh, fp, wfp FROM b1s),
        |b2 AS (SELECT * FROM ns WHERE doc_id >= 120),
        |b2x AS (
        |  SELECT n.doc_id FROM b2 n WHERE n.fp IN (SELECT fp FROM idx1)
        |  UNION
        |  SELECT n.doc_id FROM b2 n JOIN idx1 o
        |    ON len(list_distinct(list_intersect(n.sh, o.sh))) * 1.0 /
        |       len(list_distinct(list_concat(n.sh, o.sh))) >= 0.5
        |  UNION
        |  SELECT t.doc_id FROM (
        |    SELECT n.doc_id, o.doc_id AS iid, CAST(count(*) AS BIGINT) AS c
        |    FROM (SELECT doc_id, unnest(wfp) AS p FROM b2) n
        |    JOIN (SELECT doc_id, unnest(wfp) AS p FROM idx1) o USING (p)
        |    GROUP BY 1, 2 HAVING count(*) >= 2) t),
        |b2s AS (SELECT * FROM b2
        |  WHERE doc_id NOT IN (SELECT doc_id FROM b2x))
        |SELECT doc_id FROM d WHERE doc_id % 2 = 0
        |UNION ALL SELECT doc_id FROM b1s
        |UNION ALL SELECT doc_id FROM b2s
        |ORDER BY doc_id""".stripMargin,

    // The stream saw both sides in one micro-batch, so the emitted pairs
    // equal the batch interval join.
    "stream_interval_join" ->
      """SELECT c.event_id AS click_id, v.event_id AS view_id
        |FROM events c JOIN events v
        |  ON c.user_id = v.user_id
        | AND c.event_type = 'click' AND v.event_type = 'view'
        | AND v.ts >= c.ts - INTERVAL 1 HOUR AND v.ts <= c.ts
        |ORDER BY 1, 2""".stripMargin,

    // The sentinel watermark closed every session, so the stream's output
    // equals batch gap sessionization aggregated to session rows.
    // Stream ≡ batch: the streaming semantic ops are checked against the
    // SAME SQL as their batch siblings (sem_filter_kw / sem_map_first3).
    "stream_sem_filter" ->
      """SELECT doc_id, text, lang, source, n_chars FROM documents
        |WHERE list_contains(string_split(lower(text), ' '), 'spark')
        |ORDER BY doc_id""".stripMargin,

    "stream_sem_map" ->
      """SELECT doc_id, array_to_string((string_split(text, ' '))[1:3], ' ') AS _map
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Stream ≡ batch again: the streaming prefilter + batch verify
    // composition keeps exactly the dedup_incremental set (the Bloom flag
    // has no false negatives; false positives only pay a redundant exact
    // verify), so the oracle is dedup_incremental's exact all-pairs SQL.
    "stream_neardup_drop" ->
      """WITH t AS (SELECT doc_id, text, string_split(trim(text), ' ') AS w FROM documents),
        |s AS (SELECT doc_id,
        |    CASE WHEN len(w) <= 3 THEN [array_to_string(w, ' ')]
        |    ELSE list_transform(range(1, len(w)-1), i -> array_to_string(list_slice(w, i, i+2), ' ')) END AS sh,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM t),
        |old AS (SELECT * FROM s WHERE doc_id % 2 = 0),
        |nw AS (SELECT * FROM s WHERE doc_id % 2 = 1),
        |excl AS (
        |  SELECT n.doc_id FROM nw n WHERE n.fp IN (SELECT fp FROM old)
        |  UNION
        |  SELECT n.doc_id FROM nw n JOIN old o
        |    ON len(list_distinct(list_intersect(n.sh, o.sh))) * 1.0 /
        |       len(list_distinct(list_concat(n.sh, o.sh))) >= 0.5)
        |SELECT doc_id FROM nw WHERE doc_id NOT IN (SELECT doc_id FROM excl)
        |ORDER BY doc_id""".stripMargin,

    "stream_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ms(ts) AS tms,
        |         CAST(round(value*100) AS BIGINT) AS cents
        |  FROM events WHERE user_id < 50
        |), o AS (
        |  SELECT *, CASE WHEN lag(tms) OVER w IS NULL
        |                   OR tms - lag(tms) OVER w > 3600000
        |            THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tms)
        |), ss AS (
        |  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY tms
        |                           ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM o
        |)
        |SELECT user_id, min(tms) AS session_start, max(tms) AS session_end,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(cents) AS BIGINT) AS total_cents
        |FROM ss GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,

    "ann_ivf_stream_ingest" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 5)
        |SELECT e.vec_id,
        |  round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[])), 3) AS score
        |FROM embeddings e, q
        |ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[])) DESC, e.vec_id
        |LIMIT 12""".stripMargin,

    "web_search_pubmed" ->
      """SELECT doc_id,
        |  array_to_string(list_slice(string_split(trim(regexp_replace(text, '[\x00-\x20]+', ' ', 'g')), ' '), 1, 4), ' ') AS title,
        |  array_to_string(list_slice(string_split(trim(regexp_replace(text, '[\x00-\x20]+', ' ', 'g')), ' '), 1, 12), ' ') AS abstract,
        |  '2024' AS published,
        |  'A ' || lang AS authors,
        |  'Journal of ' || lang AS journal,
        |  '10.1000/' || doc_id AS doi,
        |  'corpus engineering' AS query
        |FROM documents WHERE doc_id < 8 ORDER BY doc_id""".stripMargin,

    "web_search_google" ->
      """SELECT
        |  CAST(row_number() OVER (ORDER BY doc_id) AS VARCHAR) AS position,
        |  array_to_string(list_slice(string_split(trim(regexp_replace(text, '[\x00-\x20]+', ' ', 'g')), ' '), 1, 4), ' ') AS title,
        |  'http://docs/' || doc_id AS link,
        |  'docs/' || doc_id AS displayed_link,
        |  CAST(NULL AS VARCHAR) AS date,
        |  CAST(NULL AS VARCHAR) AS author,
        |  array_to_string(list_slice(string_split(trim(regexp_replace(text, '[\x00-\x20]+', ' ', 'g')), ' '), 1, 12), ' ') AS snippet,
        |  'corpus engineering' AS query
        |FROM documents WHERE doc_id < 10 ORDER BY doc_id""".stripMargin,

    // What the gate fed into the Atom feed must come back out of the parse.
    "web_search_arxiv" ->
      """SELECT doc_id,
        |  array_to_string(list_slice(string_split(trim(regexp_replace(text, '[\x00-\x20]+', ' ', 'g')), ' '), 1, 4), ' ') AS title,
        |  array_to_string(list_slice(string_split(trim(regexp_replace(text, '[\x00-\x20]+', ' ', 'g')), ' '), 1, 12), ' ') AS abstract,
        |  'author_' || lang AS authors,
        |  lang AS categories,
        |  'corpus engineering' AS query
        |FROM documents WHERE doc_id < 10 ORDER BY doc_id""".stripMargin,

    "web_search_scholar" ->
      """SELECT
        |  CAST(row_number() OVER (ORDER BY doc_id) AS VARCHAR) AS position,
        |  array_to_string(list_slice(string_split(trim(regexp_replace(text, '[\x00-\x20]+', ' ', 'g')), ' '), 1, 4), ' ') AS title,
        |  'http://docs/' || doc_id AS link,
        |  'docs/' || doc_id AS displayed_link,
        |  '2024' AS date,
        |  'A ' || lang AS author,
        |  array_to_string(list_slice(string_split(trim(regexp_replace(text, '[\x00-\x20]+', ' ', 'g')), ' '), 1, 12), ' ') AS snippet,
        |  'corpus engineering' AS query
        |FROM documents WHERE doc_id >= 10 AND doc_id < 20 ORDER BY doc_id""".stripMargin,

    // The exactly-frequent set is pinned; the sketch-containment boolean
    // is TRUE by the Misra-Gries no-false-negative guarantee.
    "vocab_freq_items" ->
      """WITH w AS (SELECT unnest(string_split(lower(trim(text)), ' ')) AS word FROM documents),
        |f AS (SELECT word, CAST(count(*) AS BIGINT) AS n FROM w WHERE word <> '' GROUP BY word),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM f)
        |SELECT word, n, TRUE AS in_sketch
        |FROM f, t WHERE n > 0.02 * total ORDER BY word""".stripMargin,

    "web_search_tavily" ->
      """SELECT
        |  array_to_string(list_slice(string_split(trim(regexp_replace(text, '[\x00-\x20]+', ' ', 'g')), ' '), 1, 4), ' ') AS title,
        |  'http://docs/' || doc_id AS url,
        |  CASE WHEN doc_id = 3 THEN CAST(NULL AS VARCHAR)
        |       ELSE array_to_string(list_slice(string_split(trim(regexp_replace(text, '[\x00-\x20]+', ' ', 'g')), ' '), 1, 12), ' ') END AS content,
        |  'corpus engineering' AS query
        |FROM documents WHERE doc_id < 10 ORDER BY doc_id""".stripMargin,

    // Bucket order (web then news), newline-joined snippet arrays, and
    // the news bucket's missing description → NULL.
    "web_search_you" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    string_split(trim(regexp_replace(text, '[\x00-\x20]+', ' ', 'g')), ' ') AS words
        |  FROM documents WHERE doc_id < 10)
        |SELECT
        |  'http://docs/' || doc_id AS url,
        |  array_to_string(list_slice(words, 1, 4), ' ') AS title,
        |  array_to_string(list_slice(words, 1, 4), ' ') || chr(10) ||
        |    array_to_string(list_slice(words, 5, 8), ' ') AS snippets,
        |  CASE WHEN doc_id < 5
        |       THEN array_to_string(list_slice(words, 1, 6), ' ')
        |       ELSE CAST(NULL AS VARCHAR) END AS description,
        |  'corpus engineering' AS query
        |FROM w ORDER BY doc_id""".stripMargin,

    // Exhaustive remote-contract search ≡ exact cosine top-k (the
    // ann_ivf_vs truth). 1-(1-cos) re-rounds identically at 3 dp.
    "ann_qdrant_vs" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 4)
        |SELECT e.vec_id,
        |  round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[])), 3) AS score
        |FROM embeddings e, q
        |ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[])) DESC, e.vec_id
        |LIMIT 12""".stripMargin,

    "ann_weaviate_vs" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 4)
        |SELECT e.vec_id,
        |  round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[])), 3) AS score
        |FROM embeddings e, q
        |ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[])) DESC, e.vec_id
        |LIMIT 12""".stripMargin,

    // What went into Derby must come back out of the partitioned read.
    "source_jdbc" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        |  CAST(n_regionkey AS BIGINT) AS n_regionkey
        |FROM nation""".stripMargin,

    // The truth of the OPTIMIZED plan: the adopted 'spark' claim's rows.
    "gepa_optimized" ->
      """SELECT doc_id, lang FROM documents
        |WHERE list_contains(string_split(lower(text), ' '), 'spark')
        |ORDER BY doc_id""".stripMargin,

    // The truth of the population-loop's fully-corrected plan: both
    // proposed claims routed into both filter slots.
    "gepa_population" ->
      """SELECT doc_id, lang FROM documents
        |WHERE list_contains(string_split(lower(text), ' '), 'spark')
        |  AND list_contains(string_split(lower(text), ' '), 'data')
        |ORDER BY doc_id""".stripMargin,

    // Second pass of an identical stage under the response cache: the map
    // result unchanged, zero physical calls, full virtual accounting.
    "lm_cache_replay" ->
      """SELECT doc_id,
        |  array_to_string((string_split(text, ' '))[1:3], ' ') AS _map,
        |  CAST(0 AS BIGINT) AS physical_second,
        |  (SELECT CAST(count(*) AS BIGINT) FROM documents) AS virtual_second
        |FROM documents ORDER BY doc_id""".stripMargin,

    "op_cache_replay" ->
      """SELECT doc_id,
        |  array_to_string((string_split(text, ' '))[1:3], ' ') AS _map,
        |  CAST(0 AS BIGINT) AS requests_second,
        |  CAST(0 AS BIGINT) AS physical_second
        |FROM documents ORDER BY doc_id""".stripMargin,

    // The usage ledger from first principles: prompt chars = json rendering
    // + the formatter's per-request scaffold; output chars = the Echo'd
    // rendering; tokens = chars/4 (the engine-wide 4-chars/token estimate);
    // cost = default price table rate ($1/M in, $3/M out) with the exact
    // double arithmetic of Pricing.costUsd.
    "usage_ledger" ->
      s"""WITH d AS (SELECT length('{"text":"' || text || '"}') AS dl FROM documents),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS requests,
        |  CAST(sum(dl) + count(*) * $usagePromptConst AS BIGINT) AS prompt_chars,
        |  CAST(sum(dl) AS BIGINT) AS output_chars FROM d)
        |SELECT requests, prompt_chars, output_chars,
        |  prompt_chars // 4 AS prompt_tokens,
        |  output_chars // 4 AS output_tokens,
        |  CAST(prompt_chars // 4 AS DOUBLE) / 1000000.0 * 1.0 +
        |    CAST(output_chars // 4 AS DOUBLE) / 1000000.0 * 3.0 AS cost_usd
        |FROM t""".stripMargin,

    // The governor's grant recurrence re-derived in SQL: g(0)=0,
    // g(i) = max(g(i-1), g(i-rpm)+window, g(k-1)+window) with k the
    // minimal number of oldest events whose expiry fits the trailing
    // window's token sum under the headroom cap. kk precomputes k-1 per
    // request (prefix sums are monotone, so it's a plain non-equi join);
    // the recursive CTE carries the grant list. Cap 400 = (422*0.95).toLong
    // baked as a literal, mirroring RateGovernor's exact arithmetic.
    "rate_limit_schedule" ->
      """WITH RECURSIVE
        |docs AS (
        |  SELECT row_number() OVER (ORDER BY doc_id) - 1 AS i,
        |         CAST(greatest(1, length(text)//4) AS BIGINT) AS tok
        |  FROM (SELECT * FROM documents ORDER BY doc_id LIMIT 40)
        |),
        |p AS (SELECT i, tok, sum(tok) OVER (ORDER BY i) AS ps FROM docs),
        |kk AS (
        |  SELECT a.i, min(b.i) AS kref
        |  FROM p a JOIN p b ON b.ps >= a.ps - 400 AND b.i < a.i
        |  GROUP BY a.i
        |),
        |sched AS (
        |  SELECT 0 AS i, CAST(0 AS BIGINT) AS g, [CAST(0 AS BIGINT)] AS glist
        |  UNION ALL
        |  SELECT q.i,
        |    greatest(sched.g,
        |      CASE WHEN q.i >= 7 THEN sched.glist[q.i - 6] + 60000
        |           ELSE CAST(0 AS BIGINT) END,
        |      CASE WHEN q.ps <= 400 THEN CAST(0 AS BIGINT)
        |           ELSE sched.glist[k.kref + 1] + 60000 END),
        |    list_append(sched.glist,
        |      greatest(sched.g,
        |        CASE WHEN q.i >= 7 THEN sched.glist[q.i - 6] + 60000
        |             ELSE CAST(0 AS BIGINT) END,
        |        CASE WHEN q.ps <= 400 THEN CAST(0 AS BIGINT)
        |             ELSE sched.glist[k.kref + 1] + 60000 END))
        |  FROM sched
        |  JOIN p q ON q.i = sched.i + 1
        |  LEFT JOIN kk k ON k.i = q.i
        |  WHERE sched.i + 1 < 40
        |)
        |SELECT CAST(d.i AS BIGINT) AS req_idx, d.tok AS tokens,
        |       s.g AS granted_ms
        |FROM sched s JOIN docs d ON d.i = s.i ORDER BY req_idx""".stripMargin,

    "pipeline_saved" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
        |FROM documents
        |WHERE list_contains(string_split(lower(text), ' '), 'spark')
        |  AND lang IN ('en', 'de')
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "pipeline_agentic" ->
      """WITH m AS (SELECT doc_id, upper(regexp_replace(text, '\s+', ' ', 'g')) AS content
        |           FROM documents WHERE doc_id < 40)
        |SELECT doc_id, content FROM m WHERE length(content) >= 150 ORDER BY doc_id""".stripMargin,

    "pipeline_agentic_reduce" -> AgenticReduceOracle,

    // The planned entry executes the same map → filter → reduce semantics,
    // so the same SQL is the truth for the full Corpus.agent path.
    // The sum flowed through the python3 subprocess; the oracle computes it
    // directly.
    "agent_python_repl" ->
      """SELECT CAST(sum(n_chars) AS BIGINT) AS sum_nchars FROM documents
        |WHERE doc_id < 40""".stripMargin,

    "pipeline_agent_entry" -> AgenticReduceOracle,

    "ann_ivf_vs" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 4)
        |SELECT e.vec_id,
        |  round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[])), 3) AS score
        |FROM embeddings e, q
        |ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[])) DESC, e.vec_id
        |LIMIT 12""".stripMargin,

    // The auto decision lands on the exhaustive tier by construction
    // (targetRecall = 1.0, unclustered corpus), so the persisted-probe
    // search equals exact cosine top-k — the ann_ivf_vs oracle.
    "ann_ivf_vs_auto" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 4)
        |SELECT e.vec_id,
        |  round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[])), 3) AS score
        |FROM embeddings e, q
        |ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[])) DESC, e.vec_id
        |LIMIT 12""".stripMargin,

    "embed_random_project" ->
      s"""WITH planes(pid, p) AS (VALUES ${lshPlaneValues(64, 16)})
         |SELECT e.vec_id, pid AS pos,
         |  round(CAST(CAST(list_inner_product(CAST(e.embedding AS DOUBLE[]), planes.p) * 0.25
         |    AS FLOAT) AS DOUBLE), 3) + 0.0 AS val
         |FROM embeddings e CROSS JOIN planes
         |ORDER BY vec_id, pos""".stripMargin,

    "sem_cluster" -> nearestCentroidOracle(ClusterCentroidsK8, "cluster_id"),

    // Same pinned centroids and nearest-cell assignment as sem_cluster;
    // prototypicality = cosine to the ASSIGNED centroid with the engine's
    // exact IEEE op shape (dot / (sqrt(dot aa) * sqrt(dot cc))), rounded to
    // 4; keep rn <= ceil(0.25·n) per cluster ordered (sim asc, vec_id asc)
    // — the windowed re-derivation of the engine's histogram-threshold +
    // prefix-sum selection.
    "prune_prototypes" ->
      s"""WITH cents(cell, c) AS (VALUES $ClusterCentroidsK8),
         |d AS (SELECT e.vec_id, cents.cell,
         |  list_distance(CAST(e.embedding AS DOUBLE[]), cents.c) AS dist,
         |  round(list_dot_product(CAST(e.embedding AS DOUBLE[]), cents.c)
         |    / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
         |             CAST(e.embedding AS DOUBLE[])))
         |       * sqrt(list_dot_product(cents.c, cents.c))), 4) AS sim
         |  FROM embeddings e CROSS JOIN cents),
         |a AS (SELECT vec_id, cell, sim FROM d
         |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) = 1),
         |r AS (SELECT vec_id, cell, sim,
         |  row_number() OVER (PARTITION BY cell ORDER BY sim ASC, vec_id ASC) AS rn,
         |  count(*) OVER (PARTITION BY cell) AS n FROM a)
         |SELECT vec_id, CAST(cell AS BIGINT) AS cluster_id, sim AS prototype_sim
         |FROM r WHERE rn <= ceil(0.25 * n) ORDER BY vec_id""".stripMargin,

    "sem_partition" -> nearestCentroidOracle(PartitionCentroidsK5, "_lotus_partition_id"),

    "sem_sim_join_lsh" ->
      s"""WITH planes(pid, p) AS (VALUES ${lshPlaneValues(64)}),
         |keys AS (
         |  SELECT e.vec_id, pid // 4 AS band,
         |    CAST(sum(CASE WHEN list_inner_product(CAST(e.embedding AS DOUBLE[]), planes.p) > 0
         |                  THEN (1 << (pid % 4)) ELSE 0 END) AS BIGINT) AS key
         |  FROM embeddings e CROSS JOIN planes
         |  GROUP BY e.vec_id, pid // 4),
         |cand AS (
         |  SELECT DISTINCT l.vec_id AS lid, r.vec_id AS rid
         |  FROM keys l JOIN keys r ON l.band = r.band AND l.key = r.key
         |  WHERE l.vec_id < 50),
         |scored AS (
         |  SELECT c.lid, c.rid,
         |    list_cosine_similarity(CAST(el.embedding AS DOUBLE[]), CAST(er.embedding AS DOUBLE[])) AS raw
         |  FROM cand c
         |  JOIN embeddings el ON el.vec_id = c.lid
         |  JOIN embeddings er ON er.vec_id = c.rid)
         |SELECT lid, rid, round(raw, 3) AS score FROM scored
         |QUALIFY row_number() OVER (PARTITION BY lid ORDER BY raw DESC, rid) <= 2
         |ORDER BY lid, rid""".stripMargin,

    "sem_search_late" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 3),
        |d AS (SELECT vec_id % 50 AS gid, CAST(embedding AS DOUBLE[]) AS dv FROM embeddings),
        |m AS (SELECT d.gid, q.qid,
        |        greatest(0.0, max(list_cosine_similarity(d.dv, q.qv))) AS best
        |      FROM d CROSS JOIN q GROUP BY d.gid, q.qid),
        |s AS (SELECT gid, sum(best) AS raw FROM m GROUP BY gid),
        |t AS (SELECT gid, raw FROM s ORDER BY raw DESC, gid LIMIT 5)
        |SELECT gid, round(raw, 3) AS score FROM t ORDER BY score DESC, gid""".stripMargin,

    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT) AS sum_qty_c,
        |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_base_c,
        |  CAST(sum(CAST(round(l_extendedprice*(1-l_discount)*100) AS BIGINT)) AS BIGINT) AS sum_disc_c,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY 1,2 ORDER BY 1,2""".stripMargin,

    "q10_rollup" ->
      """SELECT coalesce(r_name, '(all)') AS r_name,
        |  coalesce(n_name, '(all)') AS n_name,
        |  CAST(sum(CAST(round(l_extendedprice*(1-l_discount)*100) AS BIGINT)) AS BIGINT) AS revenue_c,
        |  count(*) AS n_rows
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY 1, 2""".stripMargin,

    "q11_percentiles" ->
      """SELECT o_orderpriority,
        |  round(quantile_cont(CAST(round(o_totalprice*100) AS BIGINT), 0.5), 2) AS p50_c,
        |  round(quantile_cont(CAST(round(o_totalprice*100) AS BIGINT), 0.95), 2) AS p95_c
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    // The sketch tier's truth is its GUARANTEE: per group, both tolerance
    // booleans must come out true (plus the group size, so an empty or
    // mis-grouped sketch pass cannot vacuously match).
    "q11_approx_percentiles" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |  true AS p50_within_tol, true AS p95_within_tol
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    // Exact distinct counts pin the exact tier; the sketch tier's truth is
    // its guarantee boolean.
    "q12_approx_distinct" ->
      """SELECT o_orderpriority,
        |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust,
        |  true AS approx_within_tol
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "join_salted" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(round(l_extendedprice*(1-l_discount)*100) AS BIGINT)) AS BIGINT) AS revenue_c
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q2_join_agg" ->
      """SELECT r_name, n_name,
        |  CAST(sum(CAST(round(l_extendedprice*(1-l_discount)*100) AS BIGINT)) AS BIGINT) AS revenue_c,
        |  count(DISTINCT o_orderkey) AS n_orders
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1,2 ORDER BY 1,2""".stripMargin,

    "q3_topn" ->
      """SELECT o_orderkey, o_orderpriority, revenue_c FROM (
        |  SELECT l_orderkey, CAST(sum(CAST(round(l_extendedprice*(1-l_discount)*100) AS BIGINT)) AS BIGINT) AS revenue_c
        |  FROM lineitem GROUP BY 1) r
        |JOIN orders ON l_orderkey = o_orderkey
        |ORDER BY revenue_c DESC, o_orderkey LIMIT 10""".stripMargin,

    "q4_window" ->
      """SELECT o_custkey, o_orderkey, rk, run_c FROM (
        |  SELECT o_custkey, o_orderkey,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk,
        |    CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) OVER (
        |      PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_c
        |  FROM orders) t
        |WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin,

    "q5_exists" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |  AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_returnflag = 'R'))
        |ORDER BY c_custkey""".stripMargin,

    "q6_filter" ->
      """SELECT CAST(sum(CAST(round(l_extendedprice*l_discount*100) AS BIGINT)) AS BIGINT) AS revenue_c, count(*) AS n
        |FROM lineitem
        |WHERE l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""".stripMargin,

    "q7_setops" ->
      """SELECT p_brand FROM (
        |  SELECT p_brand FROM part WHERE p_size > 40
        |  UNION SELECT p_brand FROM part WHERE p_retailprice > 1800)
        |EXCEPT SELECT p_brand FROM part WHERE p_size < 3 AND p_retailprice < 500
        |ORDER BY p_brand""".stripMargin,

    "q8_events_window" ->
      """SELECT epoch_us(date_trunc('hour', ts)) AS hour_us, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS value_c
        |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin,

    "q9_events_json" ->
      """SELECT event_type, CAST(sum(CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
        |  count(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "sem_filter_kw" ->
      """SELECT doc_id, text, lang, source, n_chars FROM documents
        |WHERE list_contains(string_split(lower(text), ' '), 'spark')
        |ORDER BY doc_id""".stripMargin,

    "sem_map_first3" ->
      """SELECT doc_id, array_to_string((string_split(text, ' '))[1:3], ' ') AS _map
        |FROM documents ORDER BY doc_id""".stripMargin,

    "sem_extract_stats" ->
      """SELECT doc_id, (string_split(text, ' '))[1] AS first_word,
        |  CAST(len(string_split(text, ' ')) AS VARCHAR) AS n_words
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Chunk boundaries mirrored as pure substring arithmetic: per-chunk
    // reversal concatenated in chunk order ≠ reverse(text), so the oracle
    // fails any whole-doc shortcut or boundary drift.
    "long_context_chunk" ->
      """WITH c AS (
        |  SELECT doc_id, text,
        |    unnest(generate_series(1,
        |      GREATEST(CAST(ceil(length(text) / 120.0) AS BIGINT), 1))) AS i
        |  FROM documents)
        |SELECT doc_id,
        |  GREATEST(CAST(ceil(length(text) / 120.0) AS BIGINT), 1) AS n_chunks,
        |  string_agg(reverse(substring(text, CAST((i - 1) * 120 + 1 AS INT), 120)),
        |    '' ORDER BY i) AS rev
        |FROM c GROUP BY doc_id, text ORDER BY doc_id""".stripMargin,

    "sem_join_kw" ->
      """SELECT d.doc_id, d.text, k.word
        |FROM (SELECT doc_id, text FROM documents WHERE doc_id < 40) d
        |CROSS JOIN (SELECT * FROM (VALUES ('spark'),('join'),('filter'),('window')) AS t(word)) k
        |WHERE list_contains(string_split(d.text, ' '), k.word)
        |ORDER BY d.doc_id, k.word""".stripMargin,

    "sem_agg_concat" ->
      """SELECT lang, string_agg(text, chr(10) ORDER BY doc_id) AS _output
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "sem_join_cascade" ->
      """SELECT d.doc_id, d.text, k.word
        |FROM (SELECT doc_id, text FROM documents WHERE doc_id < 40) d
        |CROSS JOIN (SELECT * FROM (VALUES ('spark'),('join'),('filter'),('window')) AS t(word)) k
        |WHERE list_contains(string_split(d.text, ' '), k.word)
        |ORDER BY d.doc_id, k.word""".stripMargin,

    "sem_filter_cascade" ->
      """SELECT doc_id, text, lang, source, n_chars FROM documents
        |WHERE list_contains(string_split(lower(text), ' '), 'spark')
        |ORDER BY doc_id""".stripMargin,

    "pipeline_compose" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(string_split(trim(text), ' '))) AS BIGINT) AS sum_tok
        |FROM documents
        |WHERE list_contains(string_split(lower(text), ' '), 'spark')
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "sem_topk_quick" ->
      """SELECT doc_id, n_chars, rank FROM (
        |  SELECT doc_id, n_chars, row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rank
        |  FROM documents) t
        |WHERE rank <= 10 ORDER BY rank""".stripMargin,

    "sem_topk_heap" ->
      """SELECT doc_id, n_chars, rank FROM (
        |  SELECT doc_id, n_chars, row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rank
        |  FROM documents) t
        |WHERE rank <= 7 ORDER BY rank""".stripMargin,

    "ann_ivf_filtered" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 6)
        |SELECT e.vec_id,
        |  round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[])), 3) AS score
        |FROM embeddings e, q
        |WHERE e.vec_id % 3 = 0
        |ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[])) DESC, e.vec_id
        |LIMIT 12""".stripMargin,

    "ann_ivf_append" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 3)
        |SELECT e.vec_id,
        |  round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[])), 3) AS score
        |FROM embeddings e, q
        |ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[])) DESC, e.vec_id
        |LIMIT 12""".stripMargin,

    // Exhaustive probes on both shards ⇒ the shard merge equals exact
    // cosine top-k over all vectors.
    "ann_sharded_search" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 13)
        |SELECT e.vec_id,
        |  round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[])), 3) AS score
        |FROM embeddings e, q
        |ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[])) DESC, e.vec_id
        |LIMIT 12""".stripMargin,

    // The full IVF pipeline in SQL: the same pinned-sample centroids,
    // argmin-L2 first-wins assignment, top-2-cosine probe set (ties →
    // lowest cell), then top-k among rows in probed cells only.
    "ann_ivf_partial_probe" ->
      """WITH cents AS (
        |  SELECT CAST(vec_id // 10 AS INT) AS c, CAST(embedding AS DOUBLE[]) AS ce
        |  FROM embeddings WHERE vec_id % 10 = 0 AND vec_id < 80),
        |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 11),
        |probe AS (
        |  SELECT c FROM cents, q
        |  ORDER BY list_cosine_similarity(ce, qv) DESC, c LIMIT 2),
        |assigned AS (
        |  SELECT e.vec_id, e.embedding,
        |    (SELECT c FROM cents
        |     ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]), ce), c
        |     LIMIT 1) AS cell
        |  FROM embeddings e)
        |SELECT a.vec_id,
        |  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), q.qv), 3) AS score
        |FROM assigned a JOIN probe p ON a.cell = p.c, q
        |ORDER BY list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), q.qv) DESC, a.vec_id
        |LIMIT 12""".stripMargin,

    // Per-query IVF batch search in SQL: same pinned centroids and
    // assignment CTE as ann_ivf_partial_probe, probe sets ranked PER
    // query, top-5 per query via row_number.
    "ann_batch_search" ->
      """WITH cents AS (
        |  SELECT CAST(vec_id // 10 AS INT) AS c, CAST(embedding AS DOUBLE[]) AS ce
        |  FROM embeddings WHERE vec_id % 10 = 0 AND vec_id < 80),
        |qs AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |       FROM embeddings WHERE vec_id IN (1, 2, 3)),
        |probe AS (
        |  SELECT qid, c FROM (
        |    SELECT q.qid, c.c,
        |      row_number() OVER (PARTITION BY q.qid
        |        ORDER BY list_cosine_similarity(c.ce, q.qv) DESC, c.c) AS rn
        |    FROM qs q, cents c) WHERE rn <= 2),
        |assigned AS (
        |  SELECT e.vec_id, e.embedding,
        |    (SELECT c FROM cents
        |     ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]), ce), c
        |     LIMIT 1) AS cell
        |  FROM embeddings e),
        |scored AS (
        |  SELECT p.qid, a.vec_id,
        |    list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), q.qv) AS cs
        |  FROM assigned a JOIN probe p ON a.cell = p.c JOIN qs q ON q.qid = p.qid)
        |SELECT qid, vec_id, round(cs, 3) AS score FROM (
        |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cs DESC, vec_id) AS rn
        |  FROM scored)
        |WHERE rn <= 5 ORDER BY qid, cs DESC, vec_id""".stripMargin,

    // Both stages reproduced: prefix-cosine top-50 cut, then full-dim
    // top-10 among the survivors.
    "ann_prefix_rerank" ->
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 9),
        |cand AS (
        |  SELECT e.vec_id, e.embedding FROM embeddings e, q
        |  ORDER BY list_cosine_similarity(CAST(list_slice(e.embedding, 1, 16) AS DOUBLE[]),
        |                                  list_slice(q.qv, 1, 16)) DESC, e.vec_id
        |  LIMIT 50)
        |SELECT c.vec_id,
        |  round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), q.qv), 3) AS score
        |FROM cand c, q
        |ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), q.qv) DESC, c.vec_id
        |LIMIT 10""".stripMargin,

    // Exact cosine top-k over the SURVIVING (even) vectors only.
    "ann_ivf_delete" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 7)
        |SELECT e.vec_id,
        |  round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[])), 3) AS score
        |FROM embeddings e, q
        |WHERE e.vec_id % 2 = 0
        |ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[])) DESC, e.vec_id
        |LIMIT 12""".stripMargin,

    "ann_ivf_saved" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 2)
        |SELECT e.vec_id,
        |  round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[])), 3) AS score
        |FROM embeddings e, q
        |ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[])) DESC, e.vec_id
        |LIMIT 12""".stripMargin,

    "ann_ivf_search" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 1)
        |SELECT e.vec_id,
        |  round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[])), 3) AS score
        |FROM embeddings e, q
        |ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[])) DESC, e.vec_id
        |LIMIT 12""".stripMargin,

    "sem_topk_naive" ->
      """SELECT doc_id, n_chars, rank FROM (
        |  SELECT doc_id, n_chars, row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rank
        |  FROM documents WHERE doc_id < 60) t
        |WHERE rank <= 5 ORDER BY rank""".stripMargin,

    "sem_topk_quicksem" ->
      """SELECT doc_id, rank FROM (
        |  SELECT doc_id, row_number() OVER (ORDER BY length(text) DESC, text) AS rank
        |  FROM documents) t
        |WHERE rank <= 8 ORDER BY rank""".stripMargin,

    // The comparison cascade accepts only ≥0.9-confidence helper verdicts
    // (which agree with the oracle by construction) and escalates the
    // rest, so the ranking stays the exact strict order.
    "sem_topk_cascade" ->
      """SELECT doc_id, n_chars, rank FROM (
        |  SELECT doc_id, n_chars, row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rank
        |  FROM documents) t
        |WHERE rank <= 8 ORDER BY rank""".stripMargin,

    // Two-stage binary-tier selection replayed from raw sign comparisons.
    "ann_binary_quant" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |h AS (
        |  SELECT e.vec_id, e.embedding,
        |    len(list_filter(range(1, len(e.embedding) + 1),
        |        i -> (e.embedding[i] > 0) != (q.qv[i] > 0))) AS ham
        |  FROM embeddings e, q),
        |cand AS (SELECT * FROM h ORDER BY ham, vec_id LIMIT 32)
        |SELECT c.vec_id, c.ham,
        |  round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[])), 3) AS score
        |FROM cand c, q
        |ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[])) DESC, c.vec_id
        |LIMIT 8""".stripMargin,

    "sem_search_cos" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id,
        |  round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[])), 3) AS score
        |FROM embeddings e, q
        |ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[])) DESC, e.vec_id
        |LIMIT 10""".stripMargin,

    "sem_sim_join_lsh_exact" ->
      """SELECT l.vec_id AS lid, r.vec_id AS rid,
        |  round(list_cosine_similarity(CAST(l.embedding AS DOUBLE[]), CAST(r.embedding AS DOUBLE[])), 3) AS score
        |FROM (SELECT * FROM embeddings WHERE vec_id < 50) l CROSS JOIN embeddings r
        |QUALIFY row_number() OVER (PARTITION BY l.vec_id
        |  ORDER BY list_cosine_similarity(CAST(l.embedding AS DOUBLE[]), CAST(r.embedding AS DOUBLE[])) DESC, r.vec_id) <= 3
        |ORDER BY lid, list_cosine_similarity(CAST(l.embedding AS DOUBLE[]), CAST(r.embedding AS DOUBLE[])) DESC, rid""".stripMargin,

    "sem_sim_join_cos" ->
      """SELECT l.vec_id AS lid, r.vec_id AS rid,
        |  round(list_cosine_similarity(CAST(l.embedding AS DOUBLE[]), CAST(r.embedding AS DOUBLE[])), 3) AS score
        |FROM (SELECT * FROM embeddings WHERE vec_id < 20) l CROSS JOIN embeddings r
        |QUALIFY row_number() OVER (PARTITION BY l.vec_id
        |  ORDER BY list_cosine_similarity(CAST(l.embedding AS DOUBLE[]), CAST(r.embedding AS DOUBLE[])) DESC, r.vec_id) <= 3
        |ORDER BY lid, list_cosine_similarity(CAST(l.embedding AS DOUBLE[]), CAST(r.embedding AS DOUBLE[])) DESC, rid""".stripMargin,

    "neardup_pairs_cos" ->
      """SELECT a.vec_id AS id1, b.vec_id AS id2,
        |  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 3) AS score
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.45
        |ORDER BY id1, id2""".stripMargin,

    // k = 2 cells × 2 probes on the gate corpus ⇒ the cells route is
    // exhaustive there — same exact oracle.
    "neardup_pairs_cells" ->
      """SELECT a.vec_id AS id1, b.vec_id AS id2,
        |  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 3) AS score
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.45
        |ORDER BY id1, id2""".stripMargin,

    // The auto route at targetRecall = 1.0 with a full-corpus sample picks
    // a provably exhaustive probe tier — same exact oracle.
    "neardup_pairs_auto" ->
      """SELECT a.vec_id AS id1, b.vec_id AS id2,
        |  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 3) AS score
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.45
        |ORDER BY id1, id2""".stripMargin,

    "dedup_exact" ->
      """SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text ORDER BY doc_id""".stripMargin,

    // Exact-Jaccard connected components (see the dedup_minhash query
    // comment for why this equals the LSH pipeline's result on gate data).
    "dedup_minhash" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    CASE WHEN len(w) <= 3 THEN [array_to_string(w, ' ')]
        |    ELSE list_transform(range(1, len(w)-1), i -> array_to_string(list_slice(w, i, i+2), ' ')) END AS sh
        |  FROM t),
        |pairs AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2
        |  FROM s a JOIN s b ON a.doc_id < b.doc_id
        |  WHERE len(list_distinct(list_intersect(a.sh, b.sh))) * 1.0 /
        |        len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5),
        |edges AS (SELECT id1 AS src, id2 AS dst FROM pairs UNION ALL SELECT id2, id1 FROM pairs),
        |reach(a, b) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src)
        |SELECT a AS doc_id FROM reach GROUP BY a HAVING min(b) = a ORDER BY doc_id""".stripMargin,

    // The auto band route at targetRecall = 1.0 with a full-corpus sample
    // picks a tier measured to catch every qualifying pair — same exact
    // connected-components oracle as the pinned-bands gate.
    "dedup_minhash_auto" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    CASE WHEN len(w) <= 3 THEN [array_to_string(w, ' ')]
        |    ELSE list_transform(range(1, len(w)-1), i -> array_to_string(list_slice(w, i, i+2), ' ')) END AS sh
        |  FROM t),
        |pairs AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2
        |  FROM s a JOIN s b ON a.doc_id < b.doc_id
        |  WHERE len(list_distinct(list_intersect(a.sh, b.sh))) * 1.0 /
        |        len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5),
        |edges AS (SELECT id1 AS src, id2 AS dst FROM pairs UNION ALL SELECT id2, id1 FROM pairs),
        |reach(a, b) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src)
        |SELECT a AS doc_id FROM reach GROUP BY a HAVING min(b) = a ORDER BY doc_id""".stripMargin,

    // The bounded-sample production estimator picks the same
    // every-qualifying-pair tier on this corpus (deterministic
    // content-hash sample membership), so the exact CC oracle applies
    // unchanged.
    "dedup_minhash_auto_sampled" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    CASE WHEN len(w) <= 3 THEN [array_to_string(w, ' ')]
        |    ELSE list_transform(range(1, len(w)-1), i -> array_to_string(list_slice(w, i, i+2), ' ')) END AS sh
        |  FROM t),
        |pairs AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2
        |  FROM s a JOIN s b ON a.doc_id < b.doc_id
        |  WHERE len(list_distinct(list_intersect(a.sh, b.sh))) * 1.0 /
        |        len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5),
        |edges AS (SELECT id1 AS src, id2 AS dst FROM pairs UNION ALL SELECT id2, id1 FROM pairs),
        |reach(a, b) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src)
        |SELECT a AS doc_id FROM reach GROUP BY a HAVING min(b) = a ORDER BY doc_id""".stripMargin,

    // Same reachability CTE as dedup_minhash, but emitting every node's
    // component-min representative instead of just the keep set.
    "dedup_clusters" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    CASE WHEN len(w) <= 3 THEN [array_to_string(w, ' ')]
        |    ELSE list_transform(range(1, len(w)-1), i -> array_to_string(list_slice(w, i, i+2), ' ')) END AS sh
        |  FROM t),
        |pairs AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2
        |  FROM s a JOIN s b ON a.doc_id < b.doc_id
        |  WHERE len(list_distinct(list_intersect(a.sh, b.sh))) * 1.0 /
        |        len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5),
        |edges AS (SELECT id1 AS src, id2 AS dst FROM pairs UNION ALL SELECT id2, id1 FROM pairs),
        |reach(a, b) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src)
        |SELECT a AS doc_id, CAST(min(b) AS BIGINT) AS rep_id
        |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin,

    // Same 3-gram shingle construction as the dedup oracles; distinct
    // (doc, gram) → gram doc-frequency → per-doc shared fraction.
    "ngram_novelty" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    CASE WHEN len(w) <= 3 THEN [array_to_string(w, ' ')]
        |    ELSE list_transform(range(1, len(w)-1), i -> array_to_string(list_slice(w, i, i+2), ' ')) END AS sh
        |  FROM t),
        |g AS (SELECT DISTINCT doc_id, unnest(sh) AS g FROM s),
        |dfreq AS (SELECT g, CAST(count(*) AS BIGINT) AS df FROM g GROUP BY g)
        |SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(sum(CASE WHEN dfreq.df > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
        |  round(1.0 - sum(CASE WHEN dfreq.df > 1 THEN 1 ELSE 0 END) * 1.0
        |    / count(*), 6) AS novelty
        |FROM g JOIN dfreq USING (g)
        |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin,

    // dedup_clusters' reachability CTE, then cluster sizes and the
    // reciprocal weight.
    "dedup_soft_weights" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    CASE WHEN len(w) <= 3 THEN [array_to_string(w, ' ')]
        |    ELSE list_transform(range(1, len(w)-1), i -> array_to_string(list_slice(w, i, i+2), ' ')) END AS sh
        |  FROM t),
        |pairs AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2
        |  FROM s a JOIN s b ON a.doc_id < b.doc_id
        |  WHERE len(list_distinct(list_intersect(a.sh, b.sh))) * 1.0 /
        |        len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5),
        |edges AS (SELECT id1 AS src, id2 AS dst FROM pairs UNION ALL SELECT id2, id1 FROM pairs),
        |reach(a, b) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
        |comp AS (SELECT a AS doc_id, CAST(min(b) AS BIGINT) AS rep_id
        |         FROM reach GROUP BY a),
        |sz AS (SELECT rep_id, CAST(count(*) AS BIGINT) AS cluster_size
        |       FROM comp GROUP BY rep_id)
        |SELECT c.doc_id, c.rep_id, sz.cluster_size,
        |  round(1.0 / sz.cluster_size, 6) AS weight
        |FROM comp c JOIN sz USING (rep_id)
        |ORDER BY c.doc_id""".stripMargin,

    "tfidf_topterms" ->
      """WITH t AS (
        |  SELECT doc_id, CASE WHEN len(trim(text)) = 0 THEN []
        |    ELSE string_split(lower(trim(text)), ' ') END AS w
        |  FROM documents),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM documents),
        |post AS (
        |  SELECT doc_id, word AS term, CAST(count(*) AS DOUBLE) AS tf
        |  FROM (SELECT doc_id, unnest(w) AS word FROM t) GROUP BY doc_id, word),
        |dfs AS (SELECT term, CAST(count(*) AS DOUBLE) AS dfc FROM post GROUP BY term)
        |SELECT doc_id, term, round(tf * ln(nd / dfc), 4) AS tfidf
        |FROM post JOIN dfs USING (term), n
        |QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY tf * ln(nd / dfc) DESC, term) <= 3
        |ORDER BY doc_id, term""".stripMargin,

    // Bit-exact SimHash64 in SQL: FNV-1a + splitmix avalanche per distinct
    // token (UHUGEINT mod-2^64 arithmetic), ±1 majority votes per bit over
    // token occurrences, then all-pairs hamming <= 3 and connected
    // components — the full simhash dedup pipeline, hash-verified.
    "dedup_simhash" ->
      """WITH RECURSIVE pow2 AS (
        |  SELECT bit, CAST(power(2, bit) AS UHUGEINT) AS p FROM (SELECT unnest(range(64)) AS bit)),
        |toks AS (
        |  SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS tok FROM documents),
        |vocab AS (SELECT DISTINCT tok FROM toks),
        |vh AS (SELECT tok, xor(h2, h2 // 2147483648) AS th FROM (
        |    SELECT tok, (xor(h1, h1 // 134217728) * CAST('10723151780598845931' AS UHUGEINT)) % CAST('18446744073709551616' AS UHUGEINT) AS h2 FROM (
        |      SELECT tok, (xor(h0, h0 // 1073741824) * CAST('13787848793156543929' AS UHUGEINT)) % CAST('18446744073709551616' AS UHUGEINT) AS h1 FROM (
        |        SELECT tok, list_reduce(
        |          list_prepend(CAST('14695981039346656037' AS UHUGEINT),
        |            list_transform(range(1, length(tok)+1), i -> CAST(unicode(tok[i]) AS UHUGEINT))),
        |          (h, b) -> (xor(h, b) * CAST('1099511628211' AS UHUGEINT)) % CAST('18446744073709551616' AS UHUGEINT)) AS h0
        |        FROM vocab)))),
        |tokbits AS (
        |  SELECT tok, bit, p, CASE WHEN (th // p) % 2 = 1 THEN 1 ELSE -1 END AS vote
        |  FROM vh CROSS JOIN pow2),
        |bits AS (
        |  SELECT t.doc_id, tb.bit, CASE WHEN sum(tb.vote) > 0 THEN tb.p ELSE 0 END AS contrib
        |  FROM toks t JOIN tokbits tb ON t.tok = tb.tok
        |  GROUP BY t.doc_id, tb.bit, tb.p),
        |sh AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN sum(CAST(contrib AS HUGEINT)) >= CAST('9223372036854775808' AS HUGEINT)
        |         THEN sum(CAST(contrib AS HUGEINT)) - CAST('18446744073709551616' AS HUGEINT)
        |         ELSE sum(CAST(contrib AS HUGEINT)) END AS BIGINT) AS h
        |  FROM bits GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.h, b.h)) <= 3),
        |edges AS (SELECT id1 AS src, id2 AS dst FROM pairs UNION ALL SELECT id2, id1 FROM pairs),
        |reach(a, b) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src)
        |SELECT a AS doc_id FROM reach GROUP BY a HAVING min(b) = a ORDER BY doc_id""".stripMargin,

    "sem_dedup_drop" ->
      """WITH RECURSIVE pairs AS (
        |  SELECT a.vec_id AS id1, b.vec_id AS id2
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.45),
        |edges AS (SELECT id1 AS src, id2 AS dst FROM pairs UNION ALL SELECT id2, id1 FROM pairs),
        |reach(a, b) AS (
        |  SELECT vec_id, vec_id FROM embeddings
        |  UNION
        |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src)
        |SELECT a AS vec_id FROM reach GROUP BY a HAVING min(b) = a ORDER BY vec_id""".stripMargin,

    // Same reachability truth — the cells path is exhaustive at gate size.
    "sem_dedup_cells" ->
      """WITH RECURSIVE pairs AS (
        |  SELECT a.vec_id AS id1, b.vec_id AS id2
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.45),
        |edges AS (SELECT id1 AS src, id2 AS dst FROM pairs UNION ALL SELECT id2, id1 FROM pairs),
        |reach(a, b) AS (
        |  SELECT vec_id, vec_id FROM embeddings
        |  UNION
        |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src)
        |SELECT a AS vec_id FROM reach GROUP BY a HAVING min(b) = a ORDER BY vec_id""".stripMargin,

    "sem_index_roundtrip" ->
      """SELECT vec_id, round(CAST(embedding[1] AS DOUBLE), 3) + 0.0 AS v1
        |FROM embeddings ORDER BY vec_id""".stripMargin,

    "llm_judge" ->
      """SELECT doc_id,
        |  array_to_string((string_split(text, ' '))[1:2], ' ') AS _judge0,
        |  array_to_string((string_split(text, ' '))[1:2], ' ') AS _judge1
        |FROM documents ORDER BY doc_id""".stripMargin,

    "pairwise_judge" ->
      """SELECT doc_id,
        |  CASE WHEN len(text) >= len(source) THEN 'A' ELSE 'B' END AS _judge0
        |FROM documents ORDER BY doc_id""".stripMargin,

    // The same arithmetic fixture and the textbook metric definitions.
    "eval_retrieval_metrics" ->
      """WITH ids AS (SELECT doc_id AS qid FROM documents WHERE doc_id < 20),
        |r2 AS (
        |  SELECT qid, rank, (qid*7 + rank*13) % 100 AS doc_id
        |  FROM (SELECT qid, unnest([1,2,3,4,5]) AS rank FROM ids)),
        |q2 AS (
        |  SELECT qid, (qid*7 + j*26) % 100 AS doc_id,
        |    CAST((qid + j) % 2 + 1 AS INT) AS grade
        |  FROM (SELECT qid, unnest([1,2,3]) AS j FROM ids)),
        |nrel AS (SELECT qid, count(*) AS n_rel FROM q2 WHERE grade > 0 GROUP BY qid),
        |ideal AS (
        |  SELECT qid, sum(grade * 1.0 / log2(irank + 1.0)) AS idcg FROM (
        |    SELECT qid, grade, row_number() OVER (PARTITION BY qid
        |      ORDER BY grade DESC, doc_id) AS irank
        |    FROM q2 WHERE grade > 0) WHERE irank <= 5 GROUP BY qid),
        |hits AS (
        |  SELECT r2.qid, r2.rank, q2.grade
        |  FROM r2 JOIN q2 ON r2.qid = q2.qid AND r2.doc_id = q2.doc_id
        |  WHERE q2.grade > 0 AND r2.rank <= 5),
        |per AS (
        |  SELECT qid, count(*) AS n_hit, min(rank) AS first_rank,
        |    sum(grade * 1.0 / log2(rank + 1.0)) AS dcg
        |  FROM hits GROUP BY qid)
        |SELECT n.qid,
        |  round(coalesce(p.n_hit, 0) * 1.0 / n.n_rel, 4) AS recall_5,
        |  round(coalesce(1.0 / p.first_rank, 0), 4) AS mrr_5,
        |  round(coalesce(p.dcg / i.idcg, 0), 4) AS ndcg_5
        |FROM nrel n JOIN ideal i USING (qid) LEFT JOIN per p USING (qid)
        |ORDER BY n.qid""".stripMargin,

    // SQuAD normalization chain replayed step for step (punct strip →
    // article drop → whitespace squeeze), multiset overlap via
    // unnest + least(count, count), f1 in the identical 2·s/(np+nr) shape.
    // Dyadic confidences: SUM(conf) is exact in any order, so acc /
    // avg_conf / gap replay bit for bit.
    "eval_calibration" ->
      """WITH s AS (
        |  SELECT CAST(event_id % 128 AS DOUBLE) / 128.0 AS conf,
        |         ((event_id % 128) + (event_id % 7) * 12 > 70) AS ok
        |  FROM events WHERE event_id < 8000),
        |b AS (
        |  SELECT LEAST(CAST(FLOOR(conf * 10) AS INT), 9) AS bin, conf, ok
        |  FROM s),
        |g AS (
        |  SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
        |    CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS acc,
        |    SUM(conf) / COUNT(*) AS avgc
        |  FROM b GROUP BY bin)
        |SELECT bin, n, n_correct, round(acc, 6) AS acc,
        |  round(avgc, 6) AS avg_conf, round(ABS(acc - avgc), 6) AS abs_gap
        |FROM g ORDER BY bin""".stripMargin,

    // Same histogram, same integer doubled numerator, same single
    // division.
    "eval_roc_auc" ->
      """WITH s AS (
        |  SELECT n_chars % 17 AS score,
        |         ((doc_id * 7 + n_chars) % 3 = 0) AS label
        |  FROM documents),
        |h AS (
        |  SELECT score,
        |    CAST(SUM(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS p,
        |    CAST(SUM(CASE WHEN label THEN 0 ELSE 1 END) AS BIGINT) AS n
        |  FROM s GROUP BY score),
        |c AS (
        |  SELECT *, CAST(COALESCE(SUM(n) OVER (ORDER BY score
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    AS cumneg
        |  FROM h)
        |SELECT
        |  round(CAST(SUM(p * (2 * cumneg + n)) AS DOUBLE) /
        |    (2.0 * (SELECT SUM(p) FROM h) * (SELECT SUM(n) FROM h)), 6) AS auc,
        |  CAST((SELECT SUM(p) FROM h) AS BIGINT) AS n_pos,
        |  CAST((SELECT SUM(n) FROM h) AS BIGINT) AS n_neg,
        |  CAST((SELECT COUNT(*) FROM h) AS BIGINT) AS n_scores
        |FROM c""".stripMargin,

    // Integer-sum intermediates; the identical three closing float ops.
    "eval_fleiss_kappa" ->
      """WITH panel AS (
        |  SELECT doc_id AS item, (doc_id * 7 + r * 13) % 3 AS label
        |  FROM documents, generate_series(1, 5) AS t(r)
        |  WHERE doc_id < 200),
        |cell AS (SELECT item, label, COUNT(*) AS c FROM panel GROUP BY 1, 2),
        |per AS (SELECT item, SUM(c) AS n, SUM(c * c) AS sq FROM cell GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS items,
        |               CAST(SUM(sq) AS BIGINT) AS sumsq,
        |               CAST(MAX(n) AS BIGINT) AS n FROM per),
        |lab AS (SELECT CAST(SUM(cl * cl) AS BIGINT) AS s2
        |        FROM (SELECT SUM(c) AS cl FROM cell GROUP BY label)),
        |f AS (
        |  SELECT
        |    CAST(sumsq - items * n AS DOUBLE) /
        |      CAST(items * n * (n - 1) AS DOUBLE) AS pbar,
        |    CAST(s2 AS DOUBLE) /
        |      CAST((items * n) * (items * n) AS DOUBLE) AS pe,
        |    items, n
        |  FROM tot, lab)
        |SELECT round((pbar - pe) / (1.0 - pe), 6) AS kappa,
        |  round(pbar, 6) AS p_bar, round(pe, 6) AS p_e,
        |  items AS n_items, n AS n_raters
        |FROM f""".stripMargin,

    // Full independent replay of the MM fit: weight vector as a list in
    // a recursive CTE, every float fold in ascending-model order (the
    // operator's pinned order), integer win/game totals, simultaneous
    // updates from the previous iterate, normalization by the
    // index-order sum.
    // Same histogram, same i<j cell-pair enumeration, same integer
    // sums, same closing float-op shapes (each denominator factor cast
    // to double before the product).
    "eval_kendall_tau" ->
      """WITH s AS (
        |  SELECT (doc_id * 7) % 10 AS a,
        |    ((doc_id * 7) % 10 + doc_id % 3) % 10 AS b
        |  FROM documents),
        |h AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n FROM s GROUP BY 1, 2),
        |agg AS (
        |  SELECT
        |    CAST(coalesce(sum(CASE WHEN (x.a < y.a AND x.b < y.b)
        |      OR (x.a > y.a AND x.b > y.b) THEN x.n * y.n END), 0) AS BIGINT) AS c,
        |    CAST(coalesce(sum(CASE WHEN (x.a < y.a AND x.b > y.b)
        |      OR (x.a > y.a AND x.b < y.b) THEN x.n * y.n END), 0) AS BIGINT) AS d,
        |    CAST(coalesce(sum(CASE WHEN x.a = y.a AND x.b <> y.b
        |      THEN x.n * y.n END), 0) AS BIGINT) AS ta,
        |    CAST(coalesce(sum(CASE WHEN x.b = y.b AND x.a <> y.a
        |      THEN x.n * y.n END), 0) AS BIGINT) AS tb
        |  FROM h x JOIN h y ON x.a < y.a OR (x.a = y.a AND x.b < y.b)),
        |tot AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS nr,
        |    CAST(sum(n * (n - 1)) // 2 AS BIGINT) AS joint
        |  FROM h),
        |np AS (SELECT nr, joint, nr * (nr - 1) // 2 AS n_pairs FROM tot)
        |SELECT
        |  round((c - d) * 1.0 /
        |    sqrt(CAST(n_pairs - ta - joint AS DOUBLE)
        |      * CAST(n_pairs - tb - joint AS DOUBLE)), 6) AS tau_b,
        |  CAST(n_pairs AS BIGINT) AS n_pairs, c AS concordant,
        |  d AS discordant, ta AS tie_a, tb AS tie_b, nr AS n_rows
        |FROM agg, np""".stripMargin,

    "eval_bradley_terry" ->
      """WITH RECURSIVE
        |raw AS (
        |  SELECT 'm_' || CAST(event_id % 7 AS VARCHAR) AS ma,
        |         'm_' || CAST((event_id % 7 + 1 + event_id % 6) % 7 AS VARCHAR) AS mb,
        |         CASE WHEN event_id % 5 < 2 THEN 'a' ELSE 'b' END AS winner
        |  FROM events WHERE event_id < 8000),
        |dir AS (
        |  SELECT CASE WHEN winner = 'a' THEN ma ELSE mb END AS wm,
        |         CASE WHEN winner = 'a' THEN mb ELSE ma END AS lm FROM raw),
        |wcnt AS (SELECT wm, lm, COUNT(*) AS c FROM dir GROUP BY 1, 2),
        |np AS (
        |  SELECT COALESCE(x.wm, y.lm) AS i, COALESCE(x.lm, y.wm) AS j,
        |         CAST(COALESCE(x.c, 0) + COALESCE(y.c, 0) AS BIGINT) AS n
        |  FROM wcnt x FULL JOIN wcnt y ON x.wm = y.lm AND x.lm = y.wm),
        |midx AS (
        |  SELECT i, CAST(row_number() OVER (ORDER BY i) AS INT) AS pos
        |  FROM (SELECT DISTINCT i FROM np)),
        |wv AS (
        |  SELECT mi.i, mi.pos, CAST(COALESCE(SUM(w.c), 0) AS BIGINT) AS wins
        |  FROM midx mi LEFT JOIN wcnt w ON w.wm = mi.i GROUP BY mi.i, mi.pos),
        |opp AS (
        |  SELECT mi.pos AS pos,
        |         list(STRUCT_PACK(jp := mj.pos, n := np.n) ORDER BY np.j) AS os
        |  FROM np JOIN midx mi ON np.i = mi.i JOIN midx mj ON np.j = mj.i
        |  GROUP BY mi.pos),
        |nm AS (SELECT COUNT(*) AS m FROM midx),
        |oppL AS (SELECT list(os ORDER BY pos) AS oss
        |         FROM (SELECT pos, os FROM opp)),
        |wvL AS (SELECT list(wins ORDER BY pos) AS winsL FROM wv),
        |st AS (
        |  -- init MUST be DOUBLE: a bare 1.0 types the recursive union as
        |  -- DECIMAL(2,1)[] and silently quantizes every iterate.
        |  SELECT 0 AS k,
        |    list_transform(range(1, m + 1), p -> CAST(1.0 AS DOUBLE)) AS w
        |  FROM nm
        |  UNION ALL
        |  SELECT k + 1,
        |    list_transform(range(1, m + 1), p ->
        |      CAST(winsL[p] AS DOUBLE) /
        |        list_reduce(list_transform(oss[p],
        |          o -> o.n / (w[p] + w[o.jp])), (x, y) -> x + y))
        |  FROM st, nm, oppL, wvL WHERE k < 50),
        |fin AS (SELECT w FROM st WHERE k = 50),
        |tot AS (SELECT list_reduce(w, (x, y) -> x + y) AS t FROM fin),
        |sc AS (
        |  SELECT wv.i AS model, wv.wins,
        |         CAST(list_sum(list_transform(opp.os, o -> o.n)) AS BIGINT) AS games,
        |         fin.w[wv.pos] / tot.t AS score
        |  FROM wv JOIN opp ON wv.pos = opp.pos, fin, tot)
        |SELECT model, wins, games, round(score, 6) AS score,
        |  CAST(row_number() OVER (ORDER BY score DESC, model) AS BIGINT) AS rank
        |FROM sc ORDER BY model""".stripMargin,

    // Same grouped counts; the binomial ratio as the identical
    // left-fold product (list_reduce seeds with the first factor;
    // Spark's aggregate seeds 1.0 — multiplication by 1.0 is IEEE-exact,
    // so the rounding sequences agree bit for bit).
    "eval_pass_at_k" -> {
      def term(k: Int) =
        s"""round(CASE WHEN c = n THEN 1.0 ELSE
           |    1.0 - list_reduce(list_transform(range(0, $k),
           |      i -> (CAST(n AS DOUBLE) - c - i) / (CAST(n AS DOUBLE) - i)),
           |      (a, b) -> a * b) END, 6) AS pass_at_$k""".stripMargin
      s"""WITH s AS (
         |  SELECT event_id % 40 AS problem, (event_id % 3 = 0) AS ok
         |  FROM events WHERE event_id < 5000),
         |g AS (
         |  SELECT problem, COUNT(*) AS n,
         |    CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS c
         |  FROM s GROUP BY problem)
         |SELECT problem, n, c, ${term(1)}, ${term(5)}, ${term(10)}
         |FROM g ORDER BY problem""".stripMargin
    },

    // Modal answer under the (count desc, answer asc) total order.
    "eval_self_consistency" ->
      """WITH s AS (
        |  SELECT event_id % 40 AS problem, event_type AS answer
        |  FROM events WHERE event_id < 5000),
        |c AS (
        |  SELECT problem, answer, COUNT(*) AS cnt FROM s GROUP BY 1, 2),
        |r AS (
        |  SELECT problem, answer, cnt,
        |    row_number() OVER (PARTITION BY problem
        |      ORDER BY cnt DESC, answer ASC) AS rn,
        |    CAST(SUM(cnt) OVER (PARTITION BY problem) AS BIGINT) AS n_samples
        |  FROM c)
        |SELECT problem, answer AS majority_answer,
        |  cnt AS majority_count, n_samples,
        |  round(cnt * 1.0 / n_samples, 6) AS agreement
        |FROM r WHERE rn = 1 ORDER BY problem""".stripMargin,

    "eval_text_f1" ->
      """WITH base AS (SELECT doc_id, text FROM documents),
        |pairs AS (
        |  SELECT a.doc_id,
        |    array_to_string(list_slice(
        |      string_split_regex(trim(a.text), '\s+'), 1, 30), ' ') AS pred,
        |    array_to_string(list_slice(
        |      string_split_regex(trim(b.text), '\s+'), 1, 30), ' ') AS ref
        |  FROM base a JOIN base b
        |    ON b.doc_id = a.doc_id +
        |      CASE WHEN a.doc_id % 7 = 0 THEN 0 ELSE 1 END),
        |toks AS (
        |  SELECT doc_id,
        |    CASE WHEN pn = '' THEN [] ELSE string_split(pn, ' ') END AS p,
        |    CASE WHEN rn = '' THEN [] ELSE string_split(rn, ' ') END AS r
        |  FROM (
        |    SELECT doc_id,
        |      trim(regexp_replace(regexp_replace(regexp_replace(
        |        lower(pred), '[!-/:-@\[-`{-~]', '', 'g'),
        |        '\b(a|an|the)\b', ' ', 'g'), '\s+', ' ', 'g')) AS pn,
        |      trim(regexp_replace(regexp_replace(regexp_replace(
        |        lower(ref), '[!-/:-@\[-`{-~]', '', 'g'),
        |        '\b(a|an|the)\b', ' ', 'g'), '\s+', ' ', 'g')) AS rn
        |    FROM pairs)),
        |pc AS (SELECT doc_id, t, count(*) AS c
        |       FROM toks, unnest(p) AS u(t) GROUP BY 1, 2),
        |rc AS (SELECT doc_id, t, count(*) AS c
        |       FROM toks, unnest(r) AS u(t) GROUP BY 1, 2),
        |ov AS (SELECT pc.doc_id, CAST(sum(least(pc.c, rc.c)) AS BIGINT) AS s
        |       FROM pc JOIN rc ON pc.doc_id = rc.doc_id AND pc.t = rc.t
        |       GROUP BY 1)
        |SELECT t.doc_id,
        |  CAST(coalesce(ov.s, 0) AS BIGINT) AS n_same,
        |  (t.p = t.r) AS em,
        |  round(CASE WHEN len(t.p) = 0 AND len(t.r) = 0 THEN 1.0
        |    WHEN coalesce(ov.s, 0) = 0 THEN 0.0
        |    ELSE 2.0 * coalesce(ov.s, 0) / (len(t.p) + len(t.r)) END,
        |    4) AS f1
        |FROM toks t LEFT JOIN ov ON t.doc_id = ov.doc_id
        |ORDER BY t.doc_id""".stripMargin,

    // Generic postings + BM25 + ranks + metrics rebuilt in SQL; the only
    // relevant doc per query is the query's source doc (grade 1, so
    // idcg = 1 and ndcg = 1/log2(rank+1)).
    "rag_self_retrieval" ->
      """WITH t AS (
        |  SELECT doc_id, CASE WHEN len(trim(text)) = 0 THEN []
        |    ELSE string_split(lower(trim(text)), ' ') END AS w
        |  FROM documents),
        |s AS (SELECT CAST(count(*) AS DOUBLE) AS n, CAST(sum(len(w)) AS DOUBLE) AS sumdl FROM t),
        |post AS (
        |  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
        |  FROM (SELECT doc_id, unnest(w) AS term FROM t) GROUP BY 1, 2),
        |dl AS (SELECT doc_id, CAST(len(w) AS DOUBLE) AS dl FROM t),
        |dfs AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM post GROUP BY 1),
        |qt AS (
        |  SELECT DISTINCT qid, term FROM (
        |    SELECT doc_id AS qid, unnest(list_slice(w, 1, 8)) AS term
        |    FROM t WHERE doc_id IN (3, 57, 101))),
        |scored AS (
        |  SELECT qt.qid, post.doc_id,
        |    sum(ln(1.0 + (s.n - dfs.df + 0.5) / (dfs.df + 0.5)) * post.tf * 2.2 /
        |        (post.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / (s.sumdl / s.n)))) AS score
        |  FROM qt JOIN post USING (term) JOIN dfs USING (term)
        |    JOIN dl ON dl.doc_id = post.doc_id, s
        |  GROUP BY 1, 2),
        |ranked AS (
        |  SELECT qid, doc_id, row_number() OVER (PARTITION BY qid
        |    ORDER BY score DESC, doc_id) AS rank
        |  FROM scored),
        |hits AS (SELECT qid, rank FROM ranked WHERE doc_id = qid AND rank <= 10)
        |SELECT q.qid,
        |  round(CASE WHEN h.rank IS NULL THEN 0.0 ELSE 1.0 END, 4) AS recall_10,
        |  round(coalesce(1.0 / h.rank, 0), 4) AS mrr_10,
        |  round(coalesce(1.0 / log2(h.rank + 1.0), 0), 4) AS ndcg_10
        |FROM (SELECT DISTINCT qid FROM qt) q LEFT JOIN hits h USING (qid)
        |ORDER BY q.qid""".stripMargin,

    "dedup_ngram_jaccard" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(trim(text), ' ') AS w
        |  FROM documents WHERE doc_id < 300),
        |s AS (
        |  SELECT doc_id,
        |    CASE WHEN len(w) <= 3 THEN [array_to_string(w, ' ')]
        |    ELSE list_transform(range(1, len(w)-1), i -> array_to_string(list_slice(w, i, i+2), ' ')) END AS sh
        |  FROM t)
        |SELECT a.doc_id AS id1, b.doc_id AS id2,
        |  round(len(list_distinct(list_intersect(a.sh, b.sh))) * 1.0 /
        |        len(list_distinct(list_concat(a.sh, b.sh))), 3) AS jac
        |FROM s a JOIN s b ON a.doc_id < b.doc_id
        |WHERE len(list_distinct(list_intersect(a.sh, b.sh))) * 1.0 /
        |      len(list_distinct(list_concat(a.sh, b.sh))) >= 0.2
        |ORDER BY id1, id2""".stripMargin,

    // Brute-force referee for the ED-Join prefix route: same shingle
    // construction, DuckDB's native levenshtein, same <= 2 threshold.
    "edit_distance_join" ->
      """WITH t AS (
        |  SELECT string_split(trim(text), ' ') AS w
        |  FROM documents WHERE doc_id < 60),
        |s AS (
        |  SELECT DISTINCT unnest(
        |    CASE WHEN len(w) <= 3 THEN [array_to_string(w, ' ')]
        |    ELSE list_transform(range(1, len(w)-1), i -> array_to_string(list_slice(w, i, i+2), ' ')) END) AS p
        |  FROM t)
        |SELECT a.p AS s1, b.p AS s2, levenshtein(a.p, b.p) AS dist
        |FROM s a JOIN s b ON a.p < b.p AND abs(len(a.p) - len(b.p)) <= 2
        |WHERE levenshtein(a.p, b.p) <= 2
        |ORDER BY s1, s2""".stripMargin,

    // Exact asymmetric containment over string shingles (the Spark side
    // hashes shingles; intersection/|A| is unchanged up to 2^-64
    // collisions, the dedup_ngram_jaccard precedent).
    "dedup_containment" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(trim(text), ' ') AS w
        |  FROM documents WHERE doc_id < 300),
        |s AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(w) <= 3 THEN [array_to_string(w, ' ')]
        |    ELSE list_transform(range(1, len(w)-1), i -> array_to_string(list_slice(w, i, i+2), ' ')) END) AS sh
        |  FROM t)
        |SELECT a.doc_id AS id1, b.doc_id AS id2,
        |  round(len(list_intersect(a.sh, b.sh)) * 1.0 / len(a.sh), 3) AS cont
        |FROM s a JOIN s b ON a.doc_id <> b.doc_id
        |WHERE len(list_intersect(a.sh, b.sh)) * 1.0 / len(a.sh) >= 0.4
        |ORDER BY id1, id2""".stripMargin,

    // Same span injection, then the winnowing pipeline replayed: 5-word
    // grams, md5 hashes, window-of-4 string minima, distinct, inverted
    // self-join, shared-count >= 2.
    "dedup_winnow" ->
      ("""WITH inj AS (
        |  SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN text || ' """ +
        "this document is provided as is without warranty of any kind " +
        "either express or implied including but not limited to the " +
        "implied warranties of merchantability and fitness for a " +
        "particular purpose" + """' ELSE text END AS text
        |  FROM documents WHERE doc_id < 300),
        |t AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM inj),
        |h AS (
        |  SELECT doc_id, list_transform(
        |    CASE WHEN len(w) <= 5 THEN [array_to_string(w, ' ')]
        |      ELSE list_transform(range(1, len(w) - 3),
        |        i -> array_to_string(list_slice(w, i, i + 4), ' ')) END,
        |    g -> md5(g)) AS hs
        |  FROM t),
        |f AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(hs) - 3, 1) + 1),
        |    i -> list_aggregate(list_slice(hs, i, i + 3), 'min')))) AS fp
        |  FROM h)
        |SELECT a.doc_id AS id1, b.doc_id AS id2,
        |  CAST(count(*) AS BIGINT) AS n_shared
        |FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 2
        |ORDER BY id1, id2""").stripMargin,

    // Same triple-group prefix synthesis, then the drop rule replayed on
    // ALL exact containment pairs: drop iff some container wins under
    // (word count desc, id asc).
    "dedup_drop_contained" ->
      """WITH base AS (
        |  SELECT doc_id // 3 AS g, string_split(trim(text), ' ') AS bw
        |  FROM documents WHERE doc_id < 300 AND doc_id % 3 = 2),
        |synth AS (
        |  SELECT d.doc_id,
        |    list_slice(b.bw, 1, CASE
        |      WHEN d.doc_id % 3 = 0 THEN CAST(ceil(len(b.bw) / 3.0) AS INT)
        |      WHEN d.doc_id % 3 = 1 THEN CAST(ceil(len(b.bw) * 2.0 / 3) AS INT)
        |      ELSE len(b.bw) END) AS w
        |  FROM (SELECT doc_id FROM documents WHERE doc_id < 300) d
        |  JOIN base b ON d.doc_id // 3 = b.g),
        |t AS (SELECT doc_id, string_split(trim(array_to_string(w, ' ')), ' ') AS w FROM synth),
        |s AS (
        |  SELECT doc_id, len(w) AS sc, list_distinct(
        |    CASE WHEN len(w) <= 3 THEN [array_to_string(w, ' ')]
        |    ELSE list_transform(range(1, len(w)-1), i -> array_to_string(list_slice(w, i, i+2), ' ')) END) AS sh
        |  FROM t),
        |drops AS (
        |  SELECT DISTINCT a.doc_id AS id1
        |  FROM s a JOIN s b ON a.doc_id <> b.doc_id
        |  WHERE len(list_intersect(a.sh, b.sh)) * 1.0 / len(a.sh) >= 0.8
        |    AND (b.sc > a.sc OR (b.sc = a.sc AND b.doc_id < a.doc_id)))
        |SELECT t.doc_id, CAST(len(t.w) AS BIGINT) AS n_words
        |FROM t WHERE t.doc_id NOT IN (SELECT id1 FROM drops)
        |ORDER BY t.doc_id""".stripMargin,

    // Same linear quantization (double arithmetic in the same association
    // order) and the same bit-interleave pattern, term by term.
    "zorder_value" -> {
      val terms = (0 until 8).flatMap { b =>
        Seq(s"(((qt >> $b) & 1) * ${1L << (2 * b)})",
          s"(((qu >> $b) & 1) * ${1L << (2 * b + 1)})")
      }.mkString(" + ")
      s"""WITH s AS (
         |  SELECT CAST(min(epoch_us(ts)) AS DOUBLE) AS tmn,
         |         CAST(max(epoch_us(ts)) AS DOUBLE) AS tmx,
         |         CAST(min(user_id) AS DOUBLE) AS umn,
         |         CAST(max(user_id) AS DOUBLE) AS umx
         |  FROM events),
         |q AS (
         |  SELECT event_id,
         |    LEAST(255, GREATEST(0, CAST(floor((CAST(epoch_us(ts) AS DOUBLE) - tmn) / (tmx - tmn) * 255) AS BIGINT))) AS qt,
         |    LEAST(255, GREATEST(0, CAST(floor((CAST(user_id AS DOUBLE) - umn) / (umx - umn) * 255) AS BIGINT))) AS qu
         |  FROM events, s)
         |SELECT event_id, CAST($terms AS BIGINT) AS zval
         |FROM q ORDER BY event_id""".stripMargin
    },

    // Compaction is lossless: the compacted corpus equals the source table.
    "corpus_compact" ->
      """SELECT doc_id, lang, source, n_chars, text FROM documents
        |ORDER BY doc_id""".stripMargin,

    // The naive distinct-count, which the skew-safe rewrite must equal
    // (the adapter also requires equality against Spark's own countDistinct
    // before emitting).
    "agg_skew_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // The merged evolved corpus: snapshot 0 (even ids) predates
    // source/n_chars, so those columns null-fill; snapshot 1 (odd ids)
    // carries the full schema.
    "corpus_merge_evolve" ->
      """SELECT doc_id, lang,
        |  CASE WHEN doc_id % 2 = 1 THEN source END AS source,
        |  CASE WHEN doc_id % 2 = 1 THEN n_chars END AS n_chars,
        |  text
        |FROM documents ORDER BY doc_id""".stripMargin,

    // The same start-offset formula over an ordered running token sum.
    "corpus_shard_tokens" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tok
        |  FROM documents)
        |SELECT doc_id, n_tok,
        |  CAST((sum(n_tok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
        |    - n_tok) // 5000 AS BIGINT) AS shard
        |FROM t ORDER BY doc_id""".stripMargin,

    // Same per-key md5 reservoir, same (value, id) in-group ranking,
    // same nearest-rank pick per (lang, prob).
    "corpus_quantiles_group" ->
      """WITH r AS (
        |  SELECT lang, n_chars AS v, doc_id FROM documents
        |  QUALIFY row_number() OVER (PARTITION BY lang
        |    ORDER BY md5('qg12|' || CAST(doc_id AS VARCHAR)), doc_id) <= 64),
        |s AS (
        |  SELECT lang, v,
        |    row_number() OVER (PARTITION BY lang ORDER BY v, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS k
        |  FROM r),
        |p AS (SELECT CAST(unnest([0.5, 0.9]) AS DOUBLE) AS prob)
        |SELECT s.lang, p.prob, CAST(s.v AS BIGINT) AS value,
        |  rn AS sample_rank, k AS sample_n
        |FROM p, s
        |WHERE s.rn = GREATEST(1, CAST(ceil(p.prob * s.k) AS BIGINT))
        |ORDER BY lang, prob""".stripMargin,

    // Same deterministic draw (256 smallest md5(salt|id)), same
    // (value, id) sample ordering, same nearest-rank ⌈p·k⌉ pick.
    "corpus_quantiles_sample" ->
      """WITH r AS (
        |  SELECT n_chars AS v, doc_id,
        |    md5('q12|' || CAST(doc_id AS VARCHAR)) AS rk
        |  FROM documents
        |  ORDER BY rk, doc_id LIMIT 256),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS k FROM r),
        |s AS (SELECT v, row_number() OVER (ORDER BY v, doc_id) AS rn FROM r),
        |p AS (SELECT CAST(unnest([0.1, 0.5, 0.9, 0.99]) AS DOUBLE) AS prob)
        |SELECT p.prob, CAST(s.v AS BIGINT) AS value,
        |  s.rn AS sample_rank, n.k AS sample_n
        |FROM p, n, s
        |WHERE s.rn = GREATEST(1, CAST(ceil(p.prob * n.k) AS BIGINT))
        |ORDER BY prob""".stripMargin,

    // Expected union: the 50 round-tripped docs (nothing dropped, empty
    // bad hash) plus the three planted malformed lines — the partially
    // corrupt one keeps its parseable lang field (permissive semantics
    // pinned empirically).
    "source_jsonl_quarantine" ->
      """SELECT doc_id, lang, FALSE AS quarantined, md5('') AS bad_md5
        |FROM documents WHERE doc_id < 50
        |UNION ALL SELECT CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR), TRUE,
        |  md5('{"doc_id": 9001, "lang": "xx", "text": ')
        |UNION ALL SELECT CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR), TRUE,
        |  md5('not json at all')
        |UNION ALL SELECT CAST(NULL AS BIGINT), 'yy', TRUE,
        |  md5('{"doc_id": "NaN-ish", "lang": "yy", "text": "t"}')
        |ORDER BY doc_id ASC NULLS LAST, bad_md5""".stripMargin,

    // The exact deterministic per-language reservoir: same md5 ranking
    // function, same tie-break.
    "sample_reservoir_key" ->
      """SELECT doc_id, lang FROM documents
        |QUALIFY row_number() OVER (PARTITION BY lang
        |  ORDER BY md5('r8|' || CAST(doc_id AS VARCHAR)), doc_id) <= 5
        |ORDER BY doc_id""".stripMargin,

    // The same cumulative cuts in hex: round(0.8*65536) = 52429 = 0xcccd,
    // round(0.9*65536) = 58982 = 0xe666, over the '0'-prefixed 4-hex md5
    // prefix convention shared with corpus_sample_det.
    "split_train_holdout" ->
      """WITH h AS (SELECT doc_id,
        |  '0' || substring(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 4) AS hp
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN hp < '0cccd' THEN 'train'
        |       WHEN hp < '0e666' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM h ORDER BY doc_id""".stripMargin,

    // dedup_clusters' reachability CTE for the rep, then
    // split_train_holdout's hex cut keyed on the REP: 0.9 → round(0.9 ·
    // 65536) = 58982 = 0xe666.
    "split_leakage_safe" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    CASE WHEN len(w) <= 3 THEN [array_to_string(w, ' ')]
        |    ELSE list_transform(range(1, len(w)-1), i -> array_to_string(list_slice(w, i, i+2), ' ')) END AS sh
        |  FROM t),
        |pairs AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2
        |  FROM s a JOIN s b ON a.doc_id < b.doc_id
        |  WHERE len(list_distinct(list_intersect(a.sh, b.sh))) * 1.0 /
        |        len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5),
        |edges AS (SELECT id1 AS src, id2 AS dst FROM pairs UNION ALL SELECT id2, id1 FROM pairs),
        |reach(a, b) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
        |cl AS (SELECT a AS doc_id, CAST(min(b) AS BIGINT) AS rep_id
        |  FROM reach GROUP BY a)
        |SELECT doc_id, rep_id,
        |  CASE WHEN '0' || substring(md5('lsafe|' || CAST(rep_id AS VARCHAR)), 1, 4)
        |         < '0e666' THEN 'train' ELSE 'holdout' END AS split
        |FROM cl ORDER BY doc_id""".stripMargin,

    // The flat descending cumulative-sum selection the histogram threshold
    // is provably equivalent to: keep while the PRIOR cumulative token sum
    // is under budget (crossing doc kept). Quality formula mirrors
    // corpus_clean_pipeline's, re-rounded to 2 decimals.
    // Same rounded quality score and noisy label, same score-desc
    // cumulative counts over the histogram, same loosest-cut pick.
    "quality_threshold_cut" ->
      """WITH base AS (
        |  SELECT doc_id, text,
        |    len(regexp_replace(text, '[^.,!?;:]', '', 'g')) * 1.0 / len(text) AS praw,
        |    len(list_filter(string_split(lower(trim(text)), ' '),
        |      w -> w IN ('the','a','an','and','or','of','to','in','is','it','that','for','on','with','as')))
        |      * 1.0 / len(string_split(lower(trim(text)), ' ')) AS sraw
        |  FROM documents),
        |ql AS (
        |  SELECT doc_id,
        |    round(round((least(len(text)*1.0/500, 1.0) + least(sraw*5, 1.0)
        |      + greatest(0.0, 1.0 - praw*10)) / 3.0, 4), 2) AS q
        |  FROM base),
        |lab AS (
        |  SELECT q, ((q >= 0.5) <> (doc_id % 7 = 0)) AS label FROM ql),
        |h AS (
        |  SELECT q AS s,
        |    CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS p,
        |    CAST(sum(CASE WHEN label THEN 0 ELSE 1 END) AS BIGINT) AS n
        |  FROM lab GROUP BY 1),
        |c AS (
        |  SELECT s,
        |    CAST(sum(p) OVER (ORDER BY s DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cp,
        |    CAST(sum(n) OVER (ORDER BY s DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cn
        |  FROM h),
        |tot AS (SELECT CAST(sum(p) AS BIGINT) AS tp FROM h),
        |ok AS (SELECT * FROM c WHERE cp * 1.0 / (cp + cn) >= 0.8
        |       ORDER BY s ASC LIMIT 1)
        |SELECT s AS threshold,
        |  round(cp * 1.0 / (cp + cn), 6) AS precision,
        |  round(cp * 1.0 / tp, 6) AS recall,
        |  cp + cn AS n_kept, tp AS n_pos_total
        |FROM ok, tot""".stripMargin,

    "corpus_budget_select" ->
      """WITH base AS (
        |  SELECT doc_id, text,
        |    len(regexp_replace(text, '[^.,!?;:]', '', 'g')) * 1.0 / len(text) AS praw,
        |    len(list_filter(string_split(lower(trim(text)), ' '),
        |      w -> w IN ('the','a','an','and','or','of','to','in','is','it','that','for','on','with','as')))
        |      * 1.0 / len(string_split(lower(trim(text)), ' ')) AS sraw
        |  FROM documents),
        |q AS (
        |  SELECT doc_id,
        |    round(round((least(len(text)*1.0/500, 1.0) + least(sraw*5, 1.0)
        |      + greatest(0.0, 1.0 - praw*10)) / 3.0, 4), 2) AS q,
        |    CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tok
        |  FROM base),
        |c AS (
        |  SELECT *, sum(n_tok) OVER (ORDER BY q DESC, doc_id
        |    ROWS UNBOUNDED PRECEDING) AS cum FROM q)
        |SELECT doc_id, q, n_tok FROM c
        |WHERE cum - n_tok < 10000 ORDER BY doc_id""".stripMargin,

    // Same fingerprint (md5 of whitespace-normalized lowercase), same
    // argmax keep, same 0.9 hex cut (round(0.9*65536) = 58982 = 0xe666),
    // same whitespace token count.
    "corpus_release_pipeline" ->
      """WITH k AS (
        |  SELECT doc_id, lang, text, n_chars,
        |    row_number() OVER (
        |      PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
        |      ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents),
        |s AS (
        |  SELECT lang, text,
        |    CASE WHEN '0' || substring(md5('rel|' || CAST(doc_id AS VARCHAR)), 1, 4) < '0e666'
        |         THEN 'train' ELSE 'holdout' END AS split
        |  FROM k WHERE rn = 1)
        |SELECT lang, split, count(*) AS n_docs,
        |  CAST(sum(len(string_split(trim(text), ' '))) AS BIGINT) AS sum_tok
        |FROM s GROUP BY lang, split ORDER BY lang, split""".stripMargin,

    // The diff statuses re-derived from the constructing id arithmetic:
    // %10 ids exist only in new (added), %9 only in old (removed), %7 had
    // old text mutated (changed); ids hitting both %10 and %9 are in
    // neither snapshot.
    // All nine stages replayed from scratch over the same shrinking
    // corpora: identical plants + URL synthesis, the PREDICTED url
    // normal form and registrable domain (arithmetic consequences of
    // the synthesis — the normalizer and PSL chain themselves are
    // pinned step-for-step by url_dedup / psl_domain), the even-share
    // domain quota recomputed, the Gopher/C4 signal shapes from
    // gopher_quality_filter, the ccnet_pipeline NB refit on stage-3
    // survivors, the dedup_minhash exact-Jaccard reachability CTE over
    // stage-4 survivors, the dedup_exactsubstr window coverage over
    // stage-5 survivors, the decontaminate_ngram string grams over the
    // CLEANED text, the split_leakage_safe hex cut (rep = self for
    // every survivor: dedup kept each component's min), and the
    // corpus_shard_tokens running sum.
    "corpus_fineweb_recipe" ->
      ("""WITH RECURSIVE d1 AS (
        |  SELECT a.doc_id,
        |    CASE WHEN a.doc_id % 19 = 1 AND b.text IS NOT NULL
        |      THEN b.lang ELSE a.lang END AS lang,
        |    CASE WHEN a.doc_id % 19 = 1 AND b.text IS NOT NULL
        |      THEN b.text || ' near dup tail marker' ELSE a.text END AS text
        |  FROM documents a LEFT JOIN documents b ON b.doc_id = a.doc_id - 1),
        |base AS (
        |  SELECT doc_id, lang,
        |    text || CASE WHEN doc_id % 7 = 0 THEN ' """ + // span follows
        "this document is provided as is without warranty of any kind " +
        "either express or implied including but not limited to the " +
        "implied warranties of merchantability and fitness for a " +
        "particular purpose" + """' ELSE '' END
        |      || CASE WHEN doc_id % 9 = 0 THEN ' template { artifact' ELSE '' END
        |      || CASE WHEN doc_id % 11 = 0 THEN ' lorem ipsum dolor placeholder' ELSE '' END AS t2,
        |    CASE WHEN doc_id % 20 = 1 THEN doc_id - 1 ELSE doc_id END AS pid
        |  FROM d1),
        |u AS (SELECT doc_id, lang, t2,
        |    'http://' ||
        |    (CASE CAST(floor(pid / 20.0) AS BIGINT) % 4 WHEN 0 THEN 'www.'
        |      WHEN 1 THEN 'blog.' WHEN 2 THEN 'shop.' ELSE '' END) ||
        |    'site' || CAST(CAST(floor(sqrt(pid % 100)) AS BIGINT) AS VARCHAR) ||
        |    (CASE WHEN CAST(floor(sqrt(pid % 100)) AS BIGINT) % 3 = 2
        |      THEN '.co.uk' ELSE '.com' END) ||
        |    '/p' || CAST(pid AS VARCHAR) || '?a=1&b=2' AS url_norm,
        |    'site' || CAST(CAST(floor(sqrt(pid % 100)) AS BIGINT) AS VARCHAR) ||
        |    (CASE WHEN CAST(floor(sqrt(pid % 100)) AS BIGINT) % 3 = 2
        |      THEN '.co.uk' ELSE '.com' END) AS domain
        |  FROM base),
        |s1 AS (SELECT u.* FROM u
        |  JOIN (SELECT url_norm, min(doc_id) AS kid FROM u GROUP BY 1) m
        |  ON u.doc_id = m.kid),
        |q2 AS (SELECT CAST(ceil(count(*) * 1.0 / count(DISTINCT domain)) AS BIGINT)
        |    AS quota FROM s1),
        |s2 AS (SELECT doc_id, lang, t2, domain FROM (
        |    SELECT s1.*, row_number() OVER (PARTITION BY domain
        |      ORDER BY doc_id) AS rn FROM s1), q2
        |  WHERE rn <= quota),
        |sig AS (SELECT doc_id, lang, t2, domain,
        |    CAST(CASE WHEN len(trim(t2)) = 0 THEN 0
        |      ELSE len(string_split_regex(trim(t2), '\s+')) END AS BIGINT) AS n_words,
        |    CASE WHEN len(trim(t2)) = 0 THEN 0.0
        |      ELSE len(regexp_replace(t2, '\s+', '', 'g')) * 1.0
        |        / len(string_split_regex(trim(t2), '\s+')) END AS mwl,
        |    CASE WHEN len(trim(t2)) = 0 THEN 0.0
        |      ELSE len(regexp_extract_all(t2, '#|\.\.\.')) * 1.0
        |        / len(string_split_regex(trim(t2), '\s+')) END AS sym,
        |    CASE WHEN len(trim(t2)) = 0 THEN 0.0
        |      ELSE len(list_filter(string_split_regex(lower(trim(t2)), '\s+'),
        |        w -> regexp_matches(w, '[a-z]'))) * 1.0
        |        / len(string_split_regex(lower(trim(t2)), '\s+')) END AS alpha
        |  FROM s2),
        |s3 AS (SELECT doc_id, lang, t2, domain FROM sig
        |  WHERE n_words BETWEEN 50 AND 100000 AND mwl BETWEEN 3.0 AND 10.0
        |    AND sym <= 0.1 AND alpha >= 0.8
        |    AND NOT contains(lower(t2), 'lorem ipsum')
        |    AND NOT contains(t2, '{')),
        |t4 AS (SELECT doc_id, lang,
        |    regexp_replace(lower(trim(t2)), '\s+', ' ', 'g') AS sx FROM s3),
        |g4 AS (SELECT doc_id, lang, list_concat(
        |    list_transform(range(1, len(sx) + 1), i -> substr(sx, i, 1)),
        |    list_transform(range(1, len(sx)), i -> substr(sx, i, 2))) AS gr
        |  FROM t4),
        |cnt AS (SELECT y, gram, CAST(count(*) AS DOUBLE) AS c
        |  FROM (SELECT lang AS y, unnest(gr) AS gram FROM g4) GROUP BY y, gram),
        |voc AS (SELECT CAST(count(DISTINCT gram) AS DOUBLE) AS v FROM cnt),
        |tot4 AS (SELECT y, CAST(sum(c) AS DOUBLE) AS t FROM cnt GROUP BY y),
        |cls AS (SELECT lang AS y, ln(CAST(count(*) AS DOUBLE)) -
        |    ln((SELECT CAST(count(*) AS DOUBLE) FROM s3)) AS prior
        |  FROM s3 GROUP BY lang),
        |m4 AS (SELECT cnt.y, map(list(gram ORDER BY gram),
        |      list(ln((c + 1) / (t + v)) ORDER BY gram)) AS mp,
        |    min(ln(1 / (t + v))) AS oov
        |  FROM cnt JOIN tot4 ON cnt.y = tot4.y, voc GROUP BY cnt.y),
        |lsc AS (SELECT g4.doc_id, g4.lang, m4.y AS cand,
        |    CASE WHEN len(g4.gr) = 0 THEN cls.prior
        |      ELSE list_reduce(list_transform(g4.gr, x -> coalesce(mp[x][1], oov)),
        |        (a, b) -> a + b) + cls.prior END AS score
        |  FROM g4 CROSS JOIN m4 JOIN cls ON m4.y = cls.y),
        |rk AS (SELECT doc_id, lang, cand, score,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, cand) AS rn FROM lsc),
        |pred AS (SELECT r.doc_id, r.lang, r.cand AS lp,
        |    r.score - coalesce(s.score, r.score) AS margin
        |  FROM rk r LEFT JOIN (SELECT doc_id, score FROM rk WHERE rn = 2) s
        |    ON r.doc_id = s.doc_id
        |  WHERE r.rn = 1),
        |s4 AS (SELECT s3.* FROM s3 JOIN pred p ON s3.doc_id = p.doc_id
        |  AND p.lp = s3.lang AND p.margin >= 1.0),
        |tw AS (SELECT doc_id, string_split(trim(t2), ' ') AS w FROM s4),
        |sh5 AS (SELECT doc_id,
        |    CASE WHEN len(w) <= 3 THEN [array_to_string(w, ' ')]
        |    ELSE list_transform(range(1, len(w)-1),
        |      i -> array_to_string(list_slice(w, i, i+2), ' ')) END AS sh
        |  FROM tw),
        |prs AS (SELECT a.doc_id AS id1, b.doc_id AS id2
        |  FROM sh5 a JOIN sh5 b ON a.doc_id < b.doc_id
        |  WHERE len(list_distinct(list_intersect(a.sh, b.sh))) * 1.0 /
        |        len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5),
        |edges AS (SELECT id1 AS src, id2 AS dst FROM prs
        |  UNION ALL SELECT id2, id1 FROM prs),
        |reach(a, b) AS (
        |  SELECT doc_id, doc_id FROM s4
        |  UNION
        |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
        |s5 AS (SELECT a AS doc_id FROM reach GROUP BY a HAVING min(b) = a),
        |t6 AS (SELECT s4.doc_id, s4.lang, s4.domain,
        |    string_split(trim(s4.t2), ' ') AS w,
        |    list_transform(string_split(trim(s4.t2), ' '), x -> lower(x)) AS k
        |  FROM s5 JOIN s4 USING (doc_id)),
        |gr6 AS (SELECT doc_id, lang, domain, w, k,
        |    CASE WHEN len(k) <= 25 THEN [array_to_string(k, ' ')]
        |      ELSE list_transform(range(1, len(k) - 23),
        |        i -> array_to_string(list_slice(k, i, i + 24), ' ')) END AS grams
        |  FROM t6),
        |e6 AS (SELECT doc_id, unnest(list_distinct(grams)) AS gram FROM gr6),
        |shared6 AS (SELECT gram FROM e6 GROUP BY gram HAVING count(*) >= 2),
        |shl AS (SELECT coalesce(list(gram), CAST([] AS VARCHAR[])) AS sg
        |  FROM shared6),
        |c6 AS (SELECT gr6.doc_id, gr6.lang, gr6.domain, gr6.w,
        |    list_distinct(flatten(list_transform(
        |      list_filter(range(1, len(gr6.grams) + 1),
        |        i -> list_contains(shl.sg, gr6.grams[i])),
        |      st -> range(st, st + least(25, len(gr6.k)))))) AS covered
        |  FROM gr6, shl),
        |s6 AS (SELECT doc_id, lang, domain,
        |    coalesce(array_to_string(list_filter(w,
        |      (x, i) -> NOT list_contains(covered, i)), ' '), '') AS clean
        |  FROM c6),
        |t7 AS (SELECT doc_id, lang, domain, clean,
        |    list_distinct(CASE
        |      WHEN len(string_split(lower(trim(clean)), ' ')) <= 5
        |        THEN [array_to_string(string_split(lower(trim(clean)), ' '), ' ')]
        |      ELSE list_transform(
        |        range(1, len(string_split(lower(trim(clean)), ' ')) - 3),
        |        i -> array_to_string(list_slice(
        |          string_split(lower(trim(clean)), ' '), i, i + 4), ' '))
        |      END) AS sh
        |  FROM s6),
        |ev AS (SELECT list_distinct(flatten(list(sh))) AS egrams FROM (
        |  SELECT list_distinct(CASE WHEN len(w) <= 5
        |      THEN [array_to_string(w, ' ')]
        |    ELSE list_transform(range(1, len(w) - 3),
        |      i -> array_to_string(list_slice(w, i, i + 4), ' ')) END) AS sh
        |  FROM (SELECT string_split(lower(trim(t2)), ' ') AS w
        |        FROM base WHERE doc_id % 20 = 0))),
        |s7 AS (SELECT t7.doc_id, t7.lang, t7.domain, t7.clean
        |  FROM t7, ev WHERE len(list_intersect(t7.sh, ev.egrams)) = 0),
        |s8 AS (SELECT s7.*,
        |    CASE WHEN '0' || substring(md5('fineweb|' || CAST(doc_id AS VARCHAR)), 1, 4)
        |      < '0e666' THEN 'train' ELSE 'holdout' END AS split,
        |    CAST(CASE WHEN len(trim(clean)) = 0 THEN 0
        |      ELSE len(string_split_regex(trim(clean), '\s+')) END AS BIGINT)
        |      AS n_tok
        |  FROM s7)
        |SELECT doc_id, domain, lang, split,
        |  CAST((sum(n_tok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
        |    - n_tok) // 500 AS BIGINT) AS shard,
        |  n_tok, md5(clean) AS clean_md5
        |FROM s8 ORDER BY doc_id""").stripMargin,

    // The same per-doc change classification the bucket-local join
    // computes; the plan contract (no Exchange) is asserted Spark-side.
    "corpus_bucketed_join" ->
      """SELECT doc_id, lang, n_chars,
        |  CASE WHEN doc_id % 5 = 0 THEN n_chars + 7 ELSE n_chars END AS n_chars_r,
        |  (CASE WHEN doc_id % 5 = 0 THEN n_chars + 7 ELSE n_chars END) != n_chars AS changed
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Exact cosine top-k over snapshot 2, constructed by the same
    // arithmetic the gate uses (%7==1 removed, %7==2 reversed, reversed
    // copies of %7==3 added under shifted ids).
    "embed_incremental_refresh" ->
      """WITH snap2 AS (
        |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 7 NOT IN (1, 2)
        |  UNION ALL
        |  SELECT vec_id, list_reverse(embedding) FROM embeddings WHERE vec_id % 7 = 2
        |  UNION ALL
        |  SELECT vec_id + 100000, list_reverse(embedding) FROM embeddings WHERE vec_id % 7 = 3
        |), q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 11)
        |SELECT s.vec_id,
        |  round(list_cosine_similarity(CAST(s.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[])), 3) AS score
        |FROM snap2 s, q
        |ORDER BY list_cosine_similarity(CAST(s.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[])) DESC, s.vec_id
        |LIMIT 12""".stripMargin,

    // Same sentence-ize / split / normalize / keep-first / reassemble
    // pipeline in SQL; paragraph identity is the normalized string itself
    // (the engine's md5 fingerprint induces identical equivalence classes).
    "dedup_paragraphs" ->
      """WITH src AS (
        |  SELECT doc_id, 'Common header sentence. ' ||
        |    array_to_string(list_transform(range(1, len(w0) + 1),
        |      i -> CASE WHEN i % 7 = 0 THEN w0[i] || '.' ELSE w0[i] END), ' ') AS text
        |  FROM (SELECT doc_id, string_split(trim(text), ' ') AS w0 FROM documents)),
        |p AS (
        |  SELECT doc_id, unnest(ps) AS para, generate_subscripts(ps, 1) AS idx
        |  FROM (SELECT doc_id, string_split(text, '. ') AS ps FROM src)),
        |k AS (
        |  SELECT *, regexp_replace(lower(trim(para)), '\s+', ' ', 'g') AS fp
        |  FROM p),
        |w AS (
        |  SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id, idx) AS rn
        |  FROM k)
        |SELECT doc_id, string_agg(para, '. ' ORDER BY idx) AS text
        |FROM w WHERE rn = 1
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // The joined fact rows are exactly the partitions surviving the dim
    // filter (weight >= 1: click, purchase); DPP's presence is asserted
    // Spark-side in the adapter.
    "events_dpp_join" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS value_c
        |FROM events WHERE event_type IN ('click', 'purchase')
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "corpus_diff_snapshots" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 10 = 0 THEN 'added'
        |       WHEN doc_id % 9 = 0 THEN 'removed'
        |       WHEN doc_id % 7 = 0 THEN 'changed'
        |       ELSE 'unchanged' END AS status
        |FROM documents
        |WHERE doc_id % 10 != 0 OR doc_id % 9 != 0
        |ORDER BY doc_id""".stripMargin,

    // Same reachability CTE as dedup_minhash, but the keep pick is the
    // per-component argmax on n_chars (ties → min doc_id).
    "dedup_minhash_keepbest" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    CASE WHEN len(w) <= 3 THEN [array_to_string(w, ' ')]
        |    ELSE list_transform(range(1, len(w)-1), i -> array_to_string(list_slice(w, i, i+2), ' ')) END AS sh
        |  FROM t),
        |pairs AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2
        |  FROM s a JOIN s b ON a.doc_id < b.doc_id
        |  WHERE len(list_distinct(list_intersect(a.sh, b.sh))) * 1.0 /
        |        len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5),
        |edges AS (SELECT id1 AS src, id2 AS dst FROM pairs UNION ALL SELECT id2, id1 FROM pairs),
        |reach(a, b) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
        |comp AS (SELECT a AS doc_id, min(b) AS rep FROM reach GROUP BY a)
        |SELECT d.doc_id FROM documents d JOIN comp c USING (doc_id)
        |QUALIFY row_number() OVER (PARTITION BY c.rep
        |  ORDER BY d.n_chars DESC, d.doc_id) = 1
        |ORDER BY doc_id""".stripMargin,

    // The written corpus equals the source table (hive partitioning moves
    // `lang` into the directory key; the read-back restores it).
    "corpus_write_roundtrip" ->
      """SELECT doc_id, lang, source, n_chars, text FROM documents
        |ORDER BY doc_id""".stripMargin,

    "corpus_clean_pipeline" ->
      """WITH keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
        |d AS (SELECT * FROM documents WHERE doc_id IN (SELECT doc_id FROM keep)),
        |q AS (
        |  SELECT lang, text,
        |    len(regexp_replace(text, '[^.,!?;:]', '', 'g')) * 1.0 / len(text) AS praw,
        |    len(list_filter(string_split(lower(trim(text)), ' '),
        |      w -> w IN ('the','a','an','and','or','of','to','in','is','it','that','for','on','with','as')))
        |      * 1.0 / len(string_split(lower(trim(text)), ' ')) AS sraw,
        |    len(string_split(trim(text), ' ')) AS ntok
        |  FROM d)
        |SELECT lang, count(*) AS n_docs, CAST(sum(ntok) AS BIGINT) AS sum_tok
        |FROM q
        |WHERE round((least(len(text)*1.0/500, 1.0) + least(sraw*5, 1.0) + greatest(0.0, 1.0 - praw*10)) / 3.0, 4) >= 0.5
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "events_sessionize" ->
      """WITH g AS (
        |  SELECT event_id, user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1
        |         ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts))
        |SELECT event_id, user_id,
        |  CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS session_id
        |FROM g ORDER BY event_id""".stripMargin,

    // The same sliding windows and containment predicate, as the naive
    // non-equi join DuckDB can afford at oracle scale.
    "events_range_join" ->
      """WITH b AS (SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi FROM events),
        |s AS (SELECT unnest(range((lo // 1800000000) * 1800000000,
        |                          hi + 1, 1800000000)) AS w_start FROM b),
        |w AS (SELECT w_start, w_start + 3599999999 AS w_end FROM s)
        |SELECT w.w_start, CAST(count(*) AS BIGINT) AS n_events
        |FROM w JOIN events e ON epoch_us(e.ts) BETWEEN w.w_start AND w.w_end
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "events_asof_join" ->
      """SELECT l.event_id, l.user_id,
        |  r.event_id AS event_id_view, r.value AS value_view
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') l
        |ASOF LEFT JOIN (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'view') r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY l.event_id""".stripMargin,

    // Forward-within-tolerance as a plain non-equi join + QUALIFY pick of
    // the earliest qualifying view (unmatched clicks keep the null row).
    "events_asof_forward_tol" ->
      """WITH c AS (SELECT event_id, user_id, epoch_us(ts) AS tsu
        |           FROM events WHERE event_type = 'click'),
        |v AS (SELECT event_id, user_id, epoch_us(ts) AS tsu, value
        |      FROM events WHERE event_type = 'view')
        |SELECT c.event_id, c.user_id,
        |  r.event_id AS event_id_view, r.value AS value_view
        |FROM c LEFT JOIN v r ON c.user_id = r.user_id
        |  AND r.tsu >= c.tsu AND r.tsu - c.tsu <= 1800000000
        |QUALIFY row_number() OVER (PARTITION BY c.event_id ORDER BY r.tsu) = 1
        |ORDER BY c.event_id""".stripMargin,

    // Nearest-by-|Δts| with the backward side preferred on equal distance.
    "events_asof_nearest" ->
      """WITH c AS (SELECT event_id, user_id, epoch_us(ts) AS tsu
        |           FROM events WHERE event_type = 'click'),
        |v AS (SELECT event_id, user_id, epoch_us(ts) AS tsu, value
        |      FROM events WHERE event_type = 'view')
        |SELECT c.event_id, c.user_id,
        |  r.event_id AS event_id_view, r.value AS value_view
        |FROM c LEFT JOIN v r ON c.user_id = r.user_id
        |QUALIFY row_number() OVER (PARTITION BY c.event_id
        |  ORDER BY abs(c.tsu - r.tsu),
        |           CASE WHEN r.tsu <= c.tsu THEN 0 ELSE 1 END) = 1
        |ORDER BY c.event_id""".stripMargin,

    "corpus_sample_det" ->
      """SELECT doc_id, lang FROM documents
        |WHERE substring(md5('s1' || '|' || CAST(doc_id AS VARCHAR)), 1, 4) < '4000'
        |ORDER BY doc_id""".stripMargin,

    "corpus_quota_lang" ->
      """SELECT doc_id, lang FROM documents
        |QUALIFY row_number() OVER (PARTITION BY lang ORDER BY doc_id) <= 50
        |ORDER BY doc_id""".stripMargin,

    "corpus_pack_seq" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens
        |  FROM documents)
        |SELECT doc_id, lang, n_tokens,
        |  CAST(floor((sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |    ROWS UNBOUNDED PRECEDING) - n_tokens) / 512.0) AS BIGINT) AS pack_id
        |FROM t ORDER BY doc_id""".stripMargin,

    // Same per-row stats as text_stats; quality scaled x1e4 to an exact
    // integer before the sum so the group averages are order-independent,
    // with the division sequence mirroring the Spark expression.
    "corpus_profile" ->
      """WITH t AS (
        |  SELECT lang, source, text,
        |    string_split(lower(trim(text)), ' ') AS words,
        |    CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens,
        |    len(regexp_replace(text, '[^.,!?;:]', '', 'g')) * 1.0 / len(text) AS praw,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM documents),
        |h AS (
        |  SELECT *,
        |    len(list_filter(words, w -> w IN ('the','a','an','and','or','of','to','in','is','it','that','for','on','with','as'))) * 1.0 / len(words) AS sraw
        |  FROM t),
        |q AS (
        |  SELECT lang, source, n_tokens, fp, len(text) AS n_chars,
        |    CAST(round(round((least(len(text)*1.0/500, 1.0) + least(sraw*5, 1.0) + greatest(0.0, 1.0 - praw*10)) / 3.0, 4) * 10000) AS BIGINT) AS q4
        |  FROM h)
        |SELECT lang, source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT fp) AS BIGINT) AS n_unique_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |  round(sum(q4) * 1.0 / 10000.0 / count(*), 4) AS avg_quality,
        |  round(sum(n_chars) * 1.0 / count(*), 2) AS avg_chars
        |FROM q GROUP BY lang, source ORDER BY lang, source""".stripMargin,

    // The additive profile columns over the full corpus (per lang) — the
    // merge ≡ full-scan requirement is asserted Spark-side; this pins the
    // numbers themselves.
    "corpus_profile_merge" ->
      """WITH t AS (
        |  SELECT lang, text,
        |    string_split(lower(trim(text)), ' ') AS words,
        |    CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens,
        |    len(regexp_replace(text, '[^.,!?;:]', '', 'g')) * 1.0 / len(text) AS praw
        |  FROM documents),
        |h AS (
        |  SELECT *,
        |    len(list_filter(words, w -> w IN ('the','a','an','and','or','of','to','in','is','it','that','for','on','with','as'))) * 1.0 / len(words) AS sraw
        |  FROM t),
        |q AS (
        |  SELECT lang, n_tokens, len(text) AS n_chars,
        |    CAST(round(round((least(len(text)*1.0/500, 1.0) + least(sraw*5, 1.0) + greatest(0.0, 1.0 - praw*10)) / 3.0, 4) * 10000) AS BIGINT) AS q4
        |  FROM h)
        |SELECT lang,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |  round(sum(q4) * 1.0 / 10000.0 / count(*), 4) AS avg_quality,
        |  round(sum(n_chars) * 1.0 / count(*), 2) AS avg_chars
        |FROM q GROUP BY lang ORDER BY lang""".stripMargin,

    "corpus_score_pctrank" ->
      """SELECT doc_id, n_chars,
        |  round(percent_rank() OVER (ORDER BY n_chars), 6) AS score_pct
        |FROM documents ORDER BY doc_id""".stripMargin,

    "corpus_score_pctrank_group" ->
      """SELECT doc_id, lang, n_chars,
        |  round(percent_rank() OVER (PARTITION BY lang ORDER BY n_chars),
        |    6) AS score_pct
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Per-dimension means reassembled in index order, serialized as
    // ×10⁴-scaled int text (array cells don't hash in the compare).
    "embed_group_centroid" ->
      """WITH u AS (
        |  SELECT label, generate_subscripts(embedding, 1) AS idx,
        |    CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings),
        |m AS (
        |  SELECT label, idx, CAST(round(avg(v) * 10000) AS BIGINT) AS mv
        |  FROM u GROUP BY label, idx),
        |n AS (SELECT label, count(*) AS n_vecs FROM embeddings GROUP BY label)
        |SELECT n.label, n.n_vecs,
        |  array_to_string(list(m.mv ORDER BY m.idx), ',') AS centroid
        |FROM n JOIN m USING (label)
        |GROUP BY n.label, n.n_vecs
        |ORDER BY n.label""".stripMargin,

    "corpus_global_rank" ->
      """SELECT doc_id,
        |  row_number() OVER (ORDER BY doc_id) - 1 AS rank
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Rank ring + md5-derived offsets, exactly the engine's arithmetic:
    // offset = 1 + (first 8 md5 hex chars of 'ep1|id|j' as int) mod (n-1),
    // negative = id at (rank + offset) mod n.
    "corpus_negative_samples" ->
      """WITH r AS (
        |  SELECT doc_id, row_number() OVER (ORDER BY doc_id) - 1 AS rank,
        |    count(*) OVER () AS n
        |  FROM documents),
        |a AS (
        |  SELECT doc_id, rank, n, unnest([1, 2]) AS j FROM r),
        |o AS (
        |  SELECT doc_id, j,
        |    (rank + 1 + (CAST(('0x' || substr(md5('ep1|' || CAST(doc_id AS VARCHAR) || '|' || CAST(j AS VARCHAR)), 1, 8)) AS BIGINT) % (n - 1))) % n AS neg_rank
        |  FROM a)
        |SELECT o.doc_id, o.j, r2.doc_id AS neg_id
        |FROM o JOIN r r2 ON r2.rank = o.neg_rank
        |ORDER BY o.doc_id, o.j""".stripMargin,

    "corpus_quota_tokens" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens
        |  FROM documents)
        |SELECT doc_id, lang, n_tokens FROM (
        |  SELECT *, sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |    ROWS UNBOUNDED PRECEDING) - n_tokens AS run
        |  FROM t)
        |WHERE run < 20000 ORDER BY doc_id""".stripMargin,

    // The 52-bit uniform rebuilt by folding the md5 hex prefix to an
    // integer (+0.5 keeps u strictly inside (0,1)), then ln(u)/w and the
    // (key desc, id) top-k — identical IEEE ops to the engine side.
    "sample_weighted_k" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |kx AS (SELECT doc_id, n_tokens,
        |    ln((list_reduce(list_transform(
        |        string_split(substr(md5('ws1' || '|' || CAST(doc_id AS VARCHAR)), 1, 13), ''),
        |        c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
        |      (a, b) -> a * 16 + b) + 0.5) / 4503599627370496.0)
        |      / n_tokens AS key
        |  FROM d WHERE n_tokens > 0)
        |SELECT doc_id, n_tokens, round(key, 8) AS sample_key
        |FROM kx
        |QUALIFY row_number() OVER (ORDER BY key DESC, doc_id) <= 40
        |ORDER BY doc_id""".stripMargin,

    // Integer epoch arithmetic (// is exact), md5|id order, and the
    // exclusive running-total crossing — the window here runs over the
    // tiny oracle corpus only; the engine side uses the range-partitioned
    // prefix sum.
    "corpus_repeat_schedule" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |tot AS (SELECT sum(n_tokens) AS t FROM d),
        |par AS (SELECT least(60000 // t, 4) AS fe,
        |    CASE WHEN least(60000 // t, 4) >= 4 THEN 0
        |         ELSE 60000 - least(60000 // t, 4) * t END AS rem
        |  FROM tot),
        |o AS (SELECT doc_id, n_tokens,
        |    md5('rs1' || '|' || CAST(doc_id AS VARCHAR)) || '|' ||
        |      CAST(doc_id AS VARCHAR) AS ord
        |  FROM d),
        |r AS (SELECT doc_id, n_tokens,
        |    sum(n_tokens) OVER (ORDER BY ord ROWS UNBOUNDED PRECEDING)
        |      - n_tokens AS run
        |  FROM o)
        |SELECT r.doc_id, r.n_tokens,
        |  CAST(par.fe + CASE WHEN r.run < par.rem THEN 1 ELSE 0 END AS BIGINT)
        |    AS n_repeats
        |FROM r CROSS JOIN par
        |WHERE par.fe + CASE WHEN r.run < par.rem THEN 1 ELSE 0 END >= 1
        |ORDER BY r.doc_id""".stripMargin,

    // 5-hex-digit thresholds so fraction 1.0 ("10000") clears every 4-digit
    // hash prefix; the '0' prefix keeps the compare fixed-width.
    "corpus_mix_weighted" ->
      """SELECT doc_id, lang FROM documents
        |WHERE '0' || substring(md5('mix1' || '|' || CAST(doc_id AS VARCHAR)), 1, 4) <
        |  CASE lang WHEN 'en' THEN '10000' WHEN 'de' THEN '08000'
        |    WHEN 'es' THEN '04000' ELSE '00000' END
        |ORDER BY doc_id""".stripMargin,

    // One-shot temperature shares: B = round(0.6·N), w = pow(n, 0.3),
    // sw = lang-ordered left fold, frac = min(1, (B·(w/sw))/n) — the
    // engine's exact op shapes — then the shared hex-cut membership with
    // the dynamic printf('%05x', round(frac·65536)) cut (= cutHexCol).
    "corpus_mix_temperature" ->
      """WITH g AS (SELECT CAST(lang AS VARCHAR) AS lang,
        |    CAST(count(*) AS DOUBLE) AS n FROM documents GROUP BY lang),
        |tot AS (SELECT CAST(round(0.6 * sum(n)) AS DOUBLE) AS b,
        |  (SELECT list_reduce(list(pow(n, 0.3) ORDER BY lang),
        |     (a, x) -> a + x) FROM g) AS sw FROM g),
        |f AS (SELECT lang, least(1.0, (b * (pow(n, 0.3) / sw)) / n) AS frac
        |  FROM g, tot)
        |SELECT d.doc_id, d.lang
        |FROM documents d JOIN f ON CAST(d.lang AS VARCHAR) = f.lang
        |WHERE '0' || substring(md5('temp1' || '|' || CAST(d.doc_id AS VARCHAR)), 1, 4)
        |  < printf('%05x', CAST(round(frac * 65536.0) AS INT))
        |ORDER BY d.doc_id""".stripMargin,

    "vocab_topk" ->
      """SELECT word, CAST(count(*) AS BIGINT) AS n
        |FROM (SELECT unnest(string_split(lower(trim(text)), ' ')) AS word FROM documents)
        |WHERE word <> '' GROUP BY word ORDER BY n DESC, word LIMIT 50""".stripMargin,

    // Integer vocab counts + left-to-right ln fold in both engines
    // (list_reduce is a sequential left fold, like Spark's aggregate HOF).
    "unigram_surprisal" ->
      """WITH t AS (
        |  SELECT doc_id, CASE WHEN len(trim(text)) = 0 THEN []
        |    ELSE string_split(lower(trim(text)), ' ') END AS w
        |  FROM documents),
        |v AS (
        |  SELECT word, CAST(count(*) AS DOUBLE) AS c
        |  FROM (SELECT unnest(w) AS word FROM t WHERE doc_id % 2 = 0)
        |  GROUP BY word),
        |m AS (SELECT map(list(word ORDER BY word), list(c ORDER BY word)) AS mp,
        |             CAST(sum(c) AS DOUBLE) AS total FROM v)
        |SELECT doc_id,
        |  CASE WHEN len(w) = 0 THEN NULL ELSE
        |    round(list_reduce(list_transform(w,
        |        x -> -ln(coalesce(mp[x][1], 1.0) / total)),
        |      (a, b) -> a + b) / len(w), 4)
        |  END AS surprisal
        |FROM t, m ORDER BY doc_id""".stripMargin,

    // From-scratch NB refit: integer class counts, the same Laplace
    // expression SHAPE as the Scala fit (ln((c+1)/(t+v)) differences —
    // same ops, same order, so round-4 survives the 1-ulp ln variance),
    // and the same left-to-right fold with the prior added last.
    "quality_nb_score" ->
      """WITH t AS (
        |  SELECT doc_id, CASE WHEN len(trim(text)) = 0 THEN []
        |    ELSE string_split(lower(trim(text)), ' ') END AS w
        |  FROM documents),
        |l AS (SELECT doc_id, w, list_contains(w, 'spark') AS y FROM t),
        |cnt AS (
        |  SELECT word,
        |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS DOUBLE) AS c1,
        |    CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS DOUBLE) AS c0
        |  FROM (SELECT y, unnest(w) AS word FROM l) GROUP BY word),
        |tot AS (SELECT CAST(sum(c1) AS DOUBLE) AS t1,
        |               CAST(sum(c0) AS DOUBLE) AS t0,
        |               CAST(count(*) AS DOUBLE) AS v FROM cnt),
        |pr AS (SELECT ln(CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS DOUBLE))
        |            - ln(CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS DOUBLE)) AS prior
        |       FROM l),
        |m AS (SELECT map(list(word ORDER BY word),
        |        list(ln((c1 + 1) / (t1 + v)) - ln((c0 + 1) / (t0 + v)) ORDER BY word)) AS mp,
        |      min(ln(1 / (t1 + v)) - ln(1 / (t0 + v))) AS oov
        |      FROM cnt, tot),
        |sc AS (SELECT doc_id, y,
        |    CASE WHEN len(w) = 0 THEN prior ELSE
        |      list_reduce(list_transform(w, x -> coalesce(mp[x][1], oov)),
        |        (a, b) -> a + b) + prior END AS score
        |  FROM l, m, pr)
        |SELECT doc_id, y AS label, round(score, 4) AS nb_score,
        |       score > 0 AS nb_pred
        |FROM sc ORDER BY doc_id""".stripMargin,

    // From-scratch multi-class char-1+2-gram NB refit: same whitespace
    // normalization, same codepoint n-gram extraction, same Laplace
    // expression shape over the SHARED gram vocabulary, same
    // fold-then-add-prior float order; the argmax replays the engine's
    // first-maximal-index tie-break as ORDER BY score DESC, cand.
    "lang_id_nb" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS s
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, lang, list_concat(
        |      list_transform(range(1, len(s) + 1), i -> substr(s, i, 1)),
        |      list_transform(range(1, len(s)), i -> substr(s, i, 2))) AS gr
        |  FROM t),
        |cnt AS (
        |  SELECT y, gram, CAST(count(*) AS DOUBLE) AS c
        |  FROM (SELECT lang AS y, unnest(gr) AS gram FROM g) GROUP BY y, gram),
        |voc AS (SELECT CAST(count(DISTINCT gram) AS DOUBLE) AS v FROM cnt),
        |tot AS (SELECT y, CAST(sum(c) AS DOUBLE) AS t FROM cnt GROUP BY y),
        |cls AS (
        |  SELECT lang AS y, ln(CAST(count(*) AS DOUBLE)) -
        |    ln((SELECT CAST(count(*) AS DOUBLE) FROM documents)) AS prior
        |  FROM documents GROUP BY lang),
        |m AS (
        |  SELECT cnt.y, map(list(gram ORDER BY gram),
        |      list(ln((c + 1) / (t + v)) ORDER BY gram)) AS mp,
        |    min(ln(1 / (t + v))) AS oov
        |  FROM cnt JOIN tot ON cnt.y = tot.y, voc GROUP BY cnt.y),
        |sc AS (
        |  SELECT g.doc_id, g.lang, m.y AS cand,
        |    CASE WHEN len(g.gr) = 0 THEN cls.prior
        |      ELSE list_reduce(list_transform(g.gr, x -> coalesce(mp[x][1], oov)),
        |        (a, b) -> a + b) + cls.prior END AS score
        |  FROM g CROSS JOIN m JOIN cls ON m.y = cls.y),
        |ranked AS (
        |  SELECT doc_id, lang, cand, score,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, cand) AS rn
        |  FROM sc),
        |sec AS (SELECT doc_id, score AS s2 FROM ranked WHERE rn = 2)
        |SELECT r.doc_id, r.lang, r.cand AS lang_pred,
        |  round(r.score, 4) AS lang_score,
        |  round(r.score - coalesce(sec.s2, r.score), 4) AS lang_margin
        |FROM ranked r LEFT JOIN sec USING (doc_id)
        |WHERE r.rn = 1
        |ORDER BY r.doc_id""".stripMargin,

    // From-scratch bigram-LM refit: vocab (count >= 2, hapaxes fold to
    // the chr(1) unk sentinel), BOS = chr(2), bigram keys prev·chr(3)·cur;
    // per-position p = 0.7·c(v,w)/c(v·) + (1 − 0.7)·p_uni(w) — (1 − 0.7)
    // replays IEEE 1.0−0.7 (≠ the 0.3 literal) — summed left-to-right by
    // list_reduce, ppl = exp(−ll/n), NULL for empty docs.
    // The ppl_bigram refit verbatim, carried per-language into the
    // percent_rank window (rank−1 over n−1 = the strictly-smaller-count
    // contract of the grouped histogram route) and the 1/3, 2/3 cuts.
    "ccnet_ppl_buckets" ->
      """WITH t AS (
        |  SELECT doc_id, lang, CASE WHEN len(trim(text)) = 0 THEN []
        |    ELSE string_split(lower(trim(text)), ' ') END AS w
        |  FROM documents),
        |uc AS (
        |  SELECT word, CAST(count(*) AS DOUBLE) AS c
        |  FROM (SELECT unnest(w) AS word FROM t) GROUP BY word),
        |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM uc),
        |kept AS (SELECT word, c FROM uc WHERE c >= 2),
        |vv AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM kept),
        |unkc AS (SELECT (SELECT sum(c) FROM uc)
        |    - coalesce((SELECT sum(c) FROM kept), 0) AS cu),
        |up AS (SELECT map(list(word ORDER BY word),
        |      list((c + 1) / (n + (v + 1)) ORDER BY word)) AS mp,
        |    min((cu + 1) / (n + (v + 1))) AS unkp
        |  FROM kept, tot, vv, unkc),
        |tm AS (
        |  SELECT doc_id, lang, list_transform(w, x ->
        |    CASE WHEN mp[x][1] IS NOT NULL THEN x ELSE chr(1) END) AS mt
        |  FROM t, up),
        |ps AS (SELECT doc_id, mt,
        |    unnest(range(1, len(mt) + 1)) AS i FROM tm),
        |pairs AS (SELECT CASE WHEN i = 1 THEN chr(2) ELSE mt[i - 1] END AS prev,
        |    mt[i] AS cur FROM ps),
        |bc AS (SELECT prev || chr(3) || cur AS bg,
        |    CAST(count(*) AS DOUBLE) AS c FROM pairs GROUP BY 1),
        |pt AS (SELECT prev, CAST(count(*) AS DOUBLE) AS ct
        |  FROM pairs GROUP BY 1),
        |bm AS (SELECT map(list(bg ORDER BY bg), list(c ORDER BY bg)) AS bmp
        |  FROM bc),
        |pm AS (SELECT map(list(prev ORDER BY prev), list(ct ORDER BY prev)) AS pmp
        |  FROM pt),
        |sc AS (
        |  SELECT doc_id, lang, len(mt) AS n,
        |    CASE WHEN len(mt) = 0 THEN 0.0 ELSE
        |      list_reduce(list_transform(range(1, len(mt) + 1), i ->
        |        ln(0.7 * coalesce(
        |             bmp[(CASE WHEN i = 1 THEN chr(2) ELSE mt[i - 1] END)
        |                 || chr(3) || mt[i]][1]
        |             / pmp[CASE WHEN i = 1 THEN chr(2) ELSE mt[i - 1] END][1],
        |             0.0)
        |           + (1 - 0.7) * coalesce(mp[mt[i]][1], unkp))),
        |        (a, b) -> a + b)
        |    END AS ll
        |  FROM tm, bm, pm, up),
        |scored AS (
        |  SELECT doc_id, lang, round(exp(-ll / n), 2) AS ppl_r
        |  FROM sc WHERE n > 0),
        |ranked AS (
        |  SELECT doc_id, lang,
        |    percent_rank() OVER (PARTITION BY lang ORDER BY ppl_r) AS pct
        |  FROM scored)
        |SELECT doc_id, lang, round(pct, 6) AS ppl_pct,
        |  CASE WHEN pct < 1.0 / 3 THEN 'head'
        |       WHEN pct < 2.0 / 3 THEN 'middle' ELSE 'tail' END AS bucket
        |FROM ranked ORDER BY doc_id""".stripMargin,

    // The ppl_trigram refit feeding the same per-language tertile tail.
    "ccnet_ppl_buckets_tri" ->
      """WITH t AS (
        |  SELECT doc_id, lang, CASE WHEN len(trim(text)) = 0 THEN []
        |    ELSE string_split(lower(trim(text)), ' ') END AS w
        |  FROM documents),
        |uc AS (
        |  SELECT word, CAST(count(*) AS DOUBLE) AS c
        |  FROM (SELECT unnest(w) AS word FROM t) GROUP BY word),
        |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM uc),
        |kept AS (SELECT word, c FROM uc WHERE c >= 2),
        |vv AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM kept),
        |unkc AS (SELECT (SELECT sum(c) FROM uc)
        |    - coalesce((SELECT sum(c) FROM kept), 0) AS cu),
        |up AS (SELECT map(list(word ORDER BY word),
        |      list((c + 1) / (n + (v + 1)) ORDER BY word)) AS mp,
        |    min((cu + 1) / (n + (v + 1))) AS unkp
        |  FROM kept, tot, vv, unkc),
        |tm AS (
        |  SELECT doc_id, lang, list_transform(w, x ->
        |    CASE WHEN mp[x][1] IS NOT NULL THEN x ELSE chr(1) END) AS mt
        |  FROM t, up),
        |ps AS (SELECT doc_id, mt,
        |    unnest(range(1, len(mt) + 1)) AS i FROM tm),
        |trip AS (SELECT
        |    CASE WHEN i <= 2 THEN chr(2) ELSE mt[i - 2] END AS u,
        |    CASE WHEN i = 1 THEN chr(2) ELSE mt[i - 1] END AS v,
        |    mt[i] AS cur FROM ps),
        |bc AS (SELECT v || chr(3) || cur AS bg,
        |    CAST(count(*) AS DOUBLE) AS c FROM trip GROUP BY 1),
        |pt AS (SELECT v AS prev, CAST(count(*) AS DOUBLE) AS ct
        |  FROM trip GROUP BY 1),
        |tc AS (SELECT u || chr(3) || v || chr(3) || cur AS tg,
        |    CAST(count(*) AS DOUBLE) AS c FROM trip GROUP BY 1),
        |cx AS (SELECT u || chr(3) || v AS ctx,
        |    CAST(count(*) AS DOUBLE) AS ct FROM trip GROUP BY 1),
        |bm AS (SELECT map(list(bg ORDER BY bg), list(c ORDER BY bg)) AS bmp
        |  FROM bc),
        |pm AS (SELECT map(list(prev ORDER BY prev), list(ct ORDER BY prev)) AS pmp
        |  FROM pt),
        |tmm AS (SELECT map(list(tg ORDER BY tg), list(c ORDER BY tg)) AS tgp
        |  FROM tc),
        |cm AS (SELECT map(list(ctx ORDER BY ctx), list(ct ORDER BY ctx)) AS cxp
        |  FROM cx),
        |sc AS (
        |  SELECT doc_id, lang, len(mt) AS n,
        |    CASE WHEN len(mt) = 0 THEN 0.0 ELSE
        |      list_reduce(list_transform(range(1, len(mt) + 1), i ->
        |        ln(0.5 * coalesce(
        |             tgp[(CASE WHEN i <= 2 THEN chr(2) ELSE mt[i - 2] END)
        |                 || chr(3) ||
        |                 (CASE WHEN i = 1 THEN chr(2) ELSE mt[i - 1] END)
        |                 || chr(3) || mt[i]][1]
        |             / cxp[(CASE WHEN i <= 2 THEN chr(2) ELSE mt[i - 2] END)
        |                 || chr(3) ||
        |                 (CASE WHEN i = 1 THEN chr(2) ELSE mt[i - 1] END)][1],
        |             0.0)
        |           + (1 - 0.5) * (0.7 * coalesce(
        |               bmp[(CASE WHEN i = 1 THEN chr(2) ELSE mt[i - 1] END)
        |                   || chr(3) || mt[i]][1]
        |               / pmp[CASE WHEN i = 1 THEN chr(2) ELSE mt[i - 1] END][1],
        |               0.0)
        |             + (1 - 0.7) * coalesce(mp[mt[i]][1], unkp)))),
        |        (a, b) -> a + b)
        |    END AS ll
        |  FROM tm, bm, pm, tmm, cm, up),
        |scored AS (
        |  SELECT doc_id, lang, round(exp(-ll / n), 2) AS ppl_r
        |  FROM sc WHERE n > 0),
        |ranked AS (
        |  SELECT doc_id, lang,
        |    percent_rank() OVER (PARTITION BY lang ORDER BY ppl_r) AS pct
        |  FROM scored)
        |SELECT doc_id, lang, round(pct, 6) AS ppl_pct,
        |  CASE WHEN pct < 1.0 / 3 THEN 'head'
        |       WHEN pct < 2.0 / 3 THEN 'middle' ELSE 'tail' END AS bucket
        |FROM ranked ORDER BY doc_id""".stripMargin,

    // The order-5 refit feeding the same per-language tertile tail.
    "ccnet_ppl_buckets_5" -> (fiveGramRefitSqlPrefix(withLang = true) +
      """, scored AS (
        |  SELECT doc_id, lang, round(exp(-ll / n), 2) AS ppl_r
        |  FROM sc WHERE n > 0),
        |ranked AS (
        |  SELECT doc_id, lang,
        |    percent_rank() OVER (PARTITION BY lang ORDER BY ppl_r) AS pct
        |  FROM scored)
        |SELECT doc_id, lang, round(pct, 6) AS ppl_pct,
        |  CASE WHEN pct < 1.0 / 3 THEN 'head'
        |       WHEN pct < 2.0 / 3 THEN 'middle' ELSE 'tail' END AS bucket
        |FROM ranked ORDER BY doc_id""".stripMargin),

    // Two-stage truncation replayed: per-anchor top-40 by cosine over
    // the FULL corpus (exhaustive probes; self-hit included), then the
    // label filter, then top-3 — both stages tie-broken on the id.
    "embed_hard_negatives_ivf" ->
      """WITH e AS (
        |  SELECT vec_id, embedding, vec_id % 3 AS label FROM embeddings),
        |st1 AS (
        |  SELECT a.vec_id AS anchor_id, a.label AS al, b.vec_id AS neg_id,
        |    b.label AS neg_label,
        |    list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |      CAST(b.embedding AS DOUBLE[])) AS s
        |  FROM (SELECT * FROM e WHERE vec_id < 20) a CROSS JOIN e b
        |  QUALIFY row_number() OVER (PARTITION BY a.vec_id
        |    ORDER BY list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |      CAST(b.embedding AS DOUBLE[])) DESC, b.vec_id) <= 40)
        |SELECT anchor_id, neg_id, neg_label, round(s, 3) AS score
        |FROM st1 WHERE neg_label <> al
        |QUALIFY row_number() OVER (PARTITION BY anchor_id
        |  ORDER BY s DESC, neg_id) <= 3
        |ORDER BY anchor_id, score DESC, neg_id""".stripMargin,

    // The auto tier runs at sampled fetch-recall 1.0, so its candidate
    // set reproduces the exhaustive top-40 per anchor on this corpus —
    // the identical two-stage replay.
    "embed_hard_negatives_ivf_auto" ->
      """WITH e AS (
        |  SELECT vec_id, embedding, vec_id % 3 AS label FROM embeddings),
        |st1 AS (
        |  SELECT a.vec_id AS anchor_id, a.label AS al, b.vec_id AS neg_id,
        |    b.label AS neg_label,
        |    list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |      CAST(b.embedding AS DOUBLE[])) AS s
        |  FROM (SELECT * FROM e WHERE vec_id < 20) a CROSS JOIN e b
        |  QUALIFY row_number() OVER (PARTITION BY a.vec_id
        |    ORDER BY list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |      CAST(b.embedding AS DOUBLE[])) DESC, b.vec_id) <= 40)
        |SELECT anchor_id, neg_id, neg_label, round(s, 3) AS score
        |FROM st1 WHERE neg_label <> al
        |QUALIFY row_number() OVER (PARTITION BY anchor_id
        |  ORDER BY s DESC, neg_id) <= 3
        |ORDER BY anchor_id, score DESC, neg_id""".stripMargin,

    // Same label synthesis, label-mismatch filter BEFORE the per-anchor
    // top-3, same unrounded-score ordering with neg_id tie-break.
    "embed_hard_negatives" ->
      """WITH e AS (
        |  SELECT vec_id, embedding, vec_id % 3 AS label FROM embeddings)
        |SELECT a.vec_id AS anchor_id, b.vec_id AS neg_id,
        |  b.label AS neg_label,
        |  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |    CAST(b.embedding AS DOUBLE[])), 3) AS score
        |FROM (SELECT * FROM e WHERE vec_id < 30) a
        |JOIN e b ON a.label <> b.label
        |QUALIFY row_number() OVER (PARTITION BY a.vec_id
        |  ORDER BY list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |    CAST(b.embedding AS DOUBLE[])) DESC, b.vec_id) <= 3
        |ORDER BY anchor_id, score DESC, neg_id""".stripMargin,

    "ppl_bigram" ->
      """WITH t AS (
        |  SELECT doc_id, CASE WHEN len(trim(text)) = 0 THEN []
        |    ELSE string_split(lower(trim(text)), ' ') END AS w
        |  FROM documents),
        |uc AS (
        |  SELECT word, CAST(count(*) AS DOUBLE) AS c
        |  FROM (SELECT unnest(w) AS word FROM t) GROUP BY word),
        |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM uc),
        |kept AS (SELECT word, c FROM uc WHERE c >= 2),
        |vv AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM kept),
        |unkc AS (SELECT (SELECT sum(c) FROM uc)
        |    - coalesce((SELECT sum(c) FROM kept), 0) AS cu),
        |up AS (SELECT map(list(word ORDER BY word),
        |      list((c + 1) / (n + (v + 1)) ORDER BY word)) AS mp,
        |    min((cu + 1) / (n + (v + 1))) AS unkp
        |  FROM kept, tot, vv, unkc),
        |tm AS (
        |  SELECT doc_id, list_transform(w, x ->
        |    CASE WHEN mp[x][1] IS NOT NULL THEN x ELSE chr(1) END) AS mt
        |  FROM t, up),
        |ps AS (SELECT doc_id, mt,
        |    unnest(range(1, len(mt) + 1)) AS i FROM tm),
        |pairs AS (SELECT CASE WHEN i = 1 THEN chr(2) ELSE mt[i - 1] END AS prev,
        |    mt[i] AS cur FROM ps),
        |bc AS (SELECT prev || chr(3) || cur AS bg,
        |    CAST(count(*) AS DOUBLE) AS c FROM pairs GROUP BY 1),
        |pt AS (SELECT prev, CAST(count(*) AS DOUBLE) AS ct
        |  FROM pairs GROUP BY 1),
        |bm AS (SELECT map(list(bg ORDER BY bg), list(c ORDER BY bg)) AS bmp
        |  FROM bc),
        |pm AS (SELECT map(list(prev ORDER BY prev), list(ct ORDER BY prev)) AS pmp
        |  FROM pt),
        |sc AS (
        |  SELECT doc_id, len(mt) AS n,
        |    CASE WHEN len(mt) = 0 THEN 0.0 ELSE
        |      list_reduce(list_transform(range(1, len(mt) + 1), i ->
        |        ln(0.7 * coalesce(
        |             bmp[(CASE WHEN i = 1 THEN chr(2) ELSE mt[i - 1] END)
        |                 || chr(3) || mt[i]][1]
        |             / pmp[CASE WHEN i = 1 THEN chr(2) ELSE mt[i - 1] END][1],
        |             0.0)
        |           + (1 - 0.7) * coalesce(mp[mt[i]][1], unkp))),
        |        (a, b) -> a + b)
        |    END AS ll
        |  FROM tm, bm, pm, up)
        |SELECT doc_id, n AS lm_tokens, round(ll, 4) AS lm_ll,
        |  CASE WHEN n > 0 THEN round(exp(-ll / n), 4) END AS ppl
        |FROM sc ORDER BY doc_id""".stripMargin,

    // The ppl_bigram refit one order up: trigram counts + (u, v) context
    // totals from the BOS,BOS-prefixed stream, two-level Jelinek–Mercer
    // term with the kernel's exact dyadic tree — 0.5·pml3 + (1 − 0.5) ·
    // (0.7·pml2 + (1 − 0.7)·p_uni), ML divisions at score time over the
    // same integer counts.
    "ppl_trigram" ->
      """WITH t AS (
        |  SELECT doc_id, CASE WHEN len(trim(text)) = 0 THEN []
        |    ELSE string_split(lower(trim(text)), ' ') END AS w
        |  FROM documents),
        |uc AS (
        |  SELECT word, CAST(count(*) AS DOUBLE) AS c
        |  FROM (SELECT unnest(w) AS word FROM t) GROUP BY word),
        |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM uc),
        |kept AS (SELECT word, c FROM uc WHERE c >= 2),
        |vv AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM kept),
        |unkc AS (SELECT (SELECT sum(c) FROM uc)
        |    - coalesce((SELECT sum(c) FROM kept), 0) AS cu),
        |up AS (SELECT map(list(word ORDER BY word),
        |      list((c + 1) / (n + (v + 1)) ORDER BY word)) AS mp,
        |    min((cu + 1) / (n + (v + 1))) AS unkp
        |  FROM kept, tot, vv, unkc),
        |tm AS (
        |  SELECT doc_id, list_transform(w, x ->
        |    CASE WHEN mp[x][1] IS NOT NULL THEN x ELSE chr(1) END) AS mt
        |  FROM t, up),
        |ps AS (SELECT doc_id, mt,
        |    unnest(range(1, len(mt) + 1)) AS i FROM tm),
        |trip AS (SELECT
        |    CASE WHEN i <= 2 THEN chr(2) ELSE mt[i - 2] END AS u,
        |    CASE WHEN i = 1 THEN chr(2) ELSE mt[i - 1] END AS v,
        |    mt[i] AS cur FROM ps),
        |bc AS (SELECT v || chr(3) || cur AS bg,
        |    CAST(count(*) AS DOUBLE) AS c FROM trip GROUP BY 1),
        |pt AS (SELECT v AS prev, CAST(count(*) AS DOUBLE) AS ct
        |  FROM trip GROUP BY 1),
        |tc AS (SELECT u || chr(3) || v || chr(3) || cur AS tg,
        |    CAST(count(*) AS DOUBLE) AS c FROM trip GROUP BY 1),
        |cx AS (SELECT u || chr(3) || v AS ctx,
        |    CAST(count(*) AS DOUBLE) AS ct FROM trip GROUP BY 1),
        |bm AS (SELECT map(list(bg ORDER BY bg), list(c ORDER BY bg)) AS bmp
        |  FROM bc),
        |pm AS (SELECT map(list(prev ORDER BY prev), list(ct ORDER BY prev)) AS pmp
        |  FROM pt),
        |tmm AS (SELECT map(list(tg ORDER BY tg), list(c ORDER BY tg)) AS tgp
        |  FROM tc),
        |cm AS (SELECT map(list(ctx ORDER BY ctx), list(ct ORDER BY ctx)) AS cxp
        |  FROM cx),
        |sc AS (
        |  SELECT doc_id, len(mt) AS n,
        |    CASE WHEN len(mt) = 0 THEN 0.0 ELSE
        |      list_reduce(list_transform(range(1, len(mt) + 1), i ->
        |        ln(0.5 * coalesce(
        |             tgp[(CASE WHEN i <= 2 THEN chr(2) ELSE mt[i - 2] END)
        |                 || chr(3) ||
        |                 (CASE WHEN i = 1 THEN chr(2) ELSE mt[i - 1] END)
        |                 || chr(3) || mt[i]][1]
        |             / cxp[(CASE WHEN i <= 2 THEN chr(2) ELSE mt[i - 2] END)
        |                 || chr(3) ||
        |                 (CASE WHEN i = 1 THEN chr(2) ELSE mt[i - 1] END)][1],
        |             0.0)
        |           + (1 - 0.5) * (0.7 * coalesce(
        |               bmp[(CASE WHEN i = 1 THEN chr(2) ELSE mt[i - 1] END)
        |                   || chr(3) || mt[i]][1]
        |               / pmp[CASE WHEN i = 1 THEN chr(2) ELSE mt[i - 1] END][1],
        |               0.0)
        |             + (1 - 0.7) * coalesce(mp[mt[i]][1], unkp)))),
        |        (a, b) -> a + b)
        |    END AS ll
        |  FROM tm, bm, pm, tmm, cm, up)
        |SELECT doc_id, n AS lm_tokens, round(ll, 4) AS lm_ll,
        |  CASE WHEN n > 0 THEN round(exp(-ll / n), 4) END AS ppl
        |FROM sc ORDER BY doc_id""".stripMargin,

    // The order-5 refit (string-keyed gram tables, per-position join
    // lookups, left-to-right fold — see fiveGramRefitSqlPrefix) with the
    // plain per-doc score tail.
    "ppl_5gram" -> (fiveGramRefitSqlPrefix(withLang = false) +
      """SELECT doc_id, n AS lm_tokens, round(ll, 4) AS lm_ll,
        |  CASE WHEN n > 0 THEN round(exp(-ll / n), 4) END AS ppl
        |FROM sc ORDER BY doc_id""".stripMargin),

    // Two unigram refits over the SHARED vocabulary (union support — a
    // ratio over mismatched supports is not a likelihood ratio), then the
    // same per-token fold. raw ⊇ every scored doc, so no OOV branch fires.
    "dsir_weights" ->
      """WITH t AS (
        |  SELECT doc_id, source, CASE WHEN len(trim(text)) = 0 THEN []
        |    ELSE string_split(lower(trim(text)), ' ') END AS w
        |  FROM documents),
        |tc AS (SELECT word, CAST(count(*) AS DOUBLE) AS n
        |  FROM (SELECT unnest(w) AS word FROM t
        |        WHERE source IN ('src0','src1','src2','src3','src4'))
        |  GROUP BY word),
        |rc AS (SELECT word, CAST(count(*) AS DOUBLE) AS n
        |  FROM (SELECT unnest(w) AS word FROM t) GROUP BY word),
        |u AS (SELECT word FROM tc UNION SELECT word FROM rc),
        |tot AS (SELECT (SELECT CAST(sum(n) AS DOUBLE) FROM tc) AS tt,
        |               (SELECT CAST(sum(n) AS DOUBLE) FROM rc) AS rt,
        |               (SELECT CAST(count(*) AS DOUBLE) FROM u) AS v),
        |m AS (SELECT map(list(word ORDER BY word), list(lr ORDER BY word)) AS mp
        |  FROM (SELECT u.word,
        |          ln((coalesce(tc.n, 0) + 1) / (tt + v)) -
        |          ln((coalesce(rc.n, 0) + 1) / (rt + v)) AS lr
        |        FROM u LEFT JOIN tc ON u.word = tc.word
        |               LEFT JOIN rc ON u.word = rc.word, tot))
        |SELECT doc_id,
        |  round(CASE WHEN len(w) = 0 THEN 0.0 ELSE
        |    list_reduce(list_transform(w, x -> mp[x][1]), (a, b) -> a + b)
        |  END, 4) AS dsir_logw
        |FROM t, m ORDER BY doc_id""".stripMargin,

    // Same refit UNROUNDED, then the exp(logw − max) acceptance against
    // the md5-prefix uniform — the '0'+4-hex < %05x cutoff comparison is
    // the deterministicSample convention (p = 1 formats to '10000', above
    // every prefix).
    "dsir_resample" ->
      """WITH t AS (
        |  SELECT doc_id, source, CASE WHEN len(trim(text)) = 0 THEN []
        |    ELSE string_split(lower(trim(text)), ' ') END AS w
        |  FROM documents),
        |tc AS (SELECT word, CAST(count(*) AS DOUBLE) AS n
        |  FROM (SELECT unnest(w) AS word FROM t
        |        WHERE source IN ('src0','src1','src2','src3','src4'))
        |  GROUP BY word),
        |rc AS (SELECT word, CAST(count(*) AS DOUBLE) AS n
        |  FROM (SELECT unnest(w) AS word FROM t) GROUP BY word),
        |u AS (SELECT word FROM tc UNION SELECT word FROM rc),
        |tot AS (SELECT (SELECT CAST(sum(n) AS DOUBLE) FROM tc) AS tt,
        |               (SELECT CAST(sum(n) AS DOUBLE) FROM rc) AS rt,
        |               (SELECT CAST(count(*) AS DOUBLE) FROM u) AS v),
        |m AS (SELECT map(list(word ORDER BY word), list(lr ORDER BY word)) AS mp
        |  FROM (SELECT u.word,
        |          ln((coalesce(tc.n, 0) + 1) / (tt + v)) -
        |          ln((coalesce(rc.n, 0) + 1) / (rt + v)) AS lr
        |        FROM u LEFT JOIN tc ON u.word = tc.word
        |               LEFT JOIN rc ON u.word = rc.word, tot)),
        |wts AS (SELECT doc_id,
        |    CASE WHEN len(w) = 0 THEN 0.0 ELSE
        |      list_reduce(list_transform(w, x -> mp[x][1]), (a, b) -> a + b)
        |    END AS lw
        |  FROM t, m),
        |mx AS (SELECT max(lw) AS mlw FROM wts)
        |SELECT doc_id FROM wts, mx
        |WHERE '0' || substring(md5('s7' || '|' || CAST(doc_id AS VARCHAR)), 1, 4)
        |      < printf('%05x', CAST(round(exp(lw - mlw) * 65536) AS INT))
        |ORDER BY doc_id""".stripMargin,

    // Replays the whole tokenizer in ANSI SQL: the vocab rule (top-8 words
    // by count desc/word asc + distinct char 1/2-grams over distinct
    // words), then greedy longest-match as a recursive CTE over DISTINCT
    // Detokenization is concatenation: the kernel covers every character
    // exactly once in order, so joined pieces equal the normalized text
    // with whitespace removed — computed here DIRECTLY from the corpus,
    // no tokenizer replay at all.
    "tokenize_roundtrip" ->
      """SELECT doc_id,
        |  md5(regexp_replace(lower(trim(text)), '\s+', '', 'g')) AS detok_md5
        |FROM documents ORDER BY doc_id""".stripMargin,

    // words (at each position the longest vocab piece prefixing the
    // remaining suffix — ORDER BY len DESC, p LIMIT 1 is a total order —
    // else '<unk>' advancing one char), reassembled per doc in word order.
    // substr/len are codepoint-indexed like the kernel; ids are
    // row_number() over the binary-collated piece sort, the idOf contract.
    "tokenize_subword" ->
      """WITH RECURSIVE
        |t AS (SELECT doc_id, CASE WHEN len(trim(text)) = 0 THEN []
        |        ELSE string_split(lower(trim(text)), ' ') END AS ws FROM documents),
        |wi AS (SELECT doc_id, generate_subscripts(ws, 1) AS i, unnest(ws) AS w FROM t),
        |w AS (SELECT doc_id, i, w FROM wi WHERE w != ''),
        |top AS (SELECT w AS p FROM (SELECT w, count(*) AS n FROM w GROUP BY w)
        |        ORDER BY n DESC, w LIMIT 8),
        |dw AS (SELECT DISTINCT w FROM w),
        |g1 AS (SELECT DISTINCT substr(dw.w, u.i, 1) AS p
        |       FROM dw, unnest(generate_series(1, len(dw.w))) AS u(i)),
        |g2 AS (SELECT DISTINCT substr(dw.w, u.i, 2) AS p
        |       FROM dw, unnest(generate_series(1, len(dw.w) - 1)) AS u(i)),
        |vocab AS (SELECT DISTINCT p FROM (SELECT p FROM top UNION ALL
        |          SELECT p FROM g1 UNION ALL SELECT p FROM g2)),
        |ids AS (SELECT p, CAST(row_number() OVER (ORDER BY p) AS INT) AS id
        |        FROM vocab),
        |mp AS (SELECT map(list(p ORDER BY p), list(id ORDER BY p)) AS m FROM ids),
        |tok AS (
        |  SELECT w, 1 AS pos, 0 AS pi, CAST(NULL AS VARCHAR) AS piece FROM dw
        |  UNION ALL
        |  SELECT tok.w,
        |    tok.pos + coalesce((SELECT len(v.p) FROM vocab v
        |      WHERE substr(tok.w, tok.pos, len(v.p)) = v.p
        |      ORDER BY len(v.p) DESC, v.p LIMIT 1), 1),
        |    tok.pi + 1,
        |    coalesce((SELECT v.p FROM vocab v
        |      WHERE substr(tok.w, tok.pos, len(v.p)) = v.p
        |      ORDER BY len(v.p) DESC, v.p LIMIT 1), '<unk>')
        |  FROM tok WHERE tok.pos <= len(tok.w)),
        |wp AS (SELECT w, list(piece ORDER BY pi) AS pieces
        |       FROM tok WHERE pi > 0 GROUP BY w),
        |docs AS (SELECT w.doc_id, flatten(list(wp.pieces ORDER BY w.i)) AS pieces
        |         FROM w JOIN wp ON w.w = wp.w GROUP BY w.doc_id)
        |SELECT d.doc_id,
        |  CAST(coalesce(len(docs.pieces), 0) AS INT) AS n_tokens,
        |  coalesce(array_to_string(docs.pieces, '|'), '') AS pieces_str,
        |  coalesce(array_to_string(
        |    list_transform(docs.pieces, x -> mp.m[x][1]), ','), '') AS token_ids_str
        |FROM documents d CROSS JOIN mp
        |LEFT JOIN docs ON d.doc_id = docs.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // Greedy longest-match under the PINNED BPE inventory (BpeVocabM48 —
    // the gate re-trains from scratch, the oracle replays the learned
    // pieces as literals); the recursive tokenizer and id assignment are
    // the tokenize_subword machinery verbatim.
    "tokenize_bpe" ->
      (s"""WITH RECURSIVE
        |vocab AS (SELECT unnest(${sqlStrList(BpeVocabM48)}) AS p),
        |""" +
      """t AS (SELECT doc_id, CASE WHEN len(trim(text)) = 0 THEN []
        |        ELSE string_split(lower(trim(text)), ' ') END AS ws FROM documents),
        |wi AS (SELECT doc_id, generate_subscripts(ws, 1) AS i, unnest(ws) AS w FROM t),
        |w AS (SELECT doc_id, i, w FROM wi WHERE w != ''),
        |dw AS (SELECT DISTINCT w FROM w),
        |ids AS (SELECT p, CAST(row_number() OVER (ORDER BY p) AS INT) AS id
        |        FROM vocab),
        |mp AS (SELECT map(list(p ORDER BY p), list(id ORDER BY p)) AS m FROM ids),
        |tok AS (
        |  SELECT w, 1 AS pos, 0 AS pi, CAST(NULL AS VARCHAR) AS piece FROM dw
        |  UNION ALL
        |  SELECT tok.w,
        |    tok.pos + coalesce((SELECT len(v.p) FROM vocab v
        |      WHERE substr(tok.w, tok.pos, len(v.p)) = v.p
        |      ORDER BY len(v.p) DESC, v.p LIMIT 1), 1),
        |    tok.pi + 1,
        |    coalesce((SELECT v.p FROM vocab v
        |      WHERE substr(tok.w, tok.pos, len(v.p)) = v.p
        |      ORDER BY len(v.p) DESC, v.p LIMIT 1), '<unk>')
        |  FROM tok WHERE tok.pos <= len(tok.w)),
        |wp AS (SELECT w, list(piece ORDER BY pi) AS pieces
        |       FROM tok WHERE pi > 0 GROUP BY w),
        |docs AS (SELECT w.doc_id, flatten(list(wp.pieces ORDER BY w.i)) AS pieces
        |         FROM w JOIN wp ON w.w = wp.w GROUP BY w.doc_id)
        |SELECT d.doc_id,
        |  CAST(coalesce(len(docs.pieces), 0) AS INT) AS n_tokens,
        |  coalesce(array_to_string(docs.pieces, '|'), '') AS pieces_str,
        |  coalesce(array_to_string(
        |    list_transform(docs.pieces, x -> mp.m[x][1]), ','), '') AS token_ids_str
        |FROM documents d CROSS JOIN mp
        |LEFT JOIN docs ON d.doc_id = docs.doc_id
        |ORDER BY d.doc_id""").stripMargin,

    // The tokenize_bpe greedy-match CTE reduced to per-word piece COUNTS,
    // joined back to word occurrences, aggregated per language. strlen()
    // is DuckDB's byte length — Spark's octet_length.
    "tokenizer_fertility" ->
      (s"""WITH RECURSIVE
        |vocab AS (SELECT unnest(${sqlStrList(BpeVocabM48)}) AS p),
        |""" +
      """t AS (SELECT doc_id, CASE WHEN len(trim(text)) = 0 THEN []
        |        ELSE string_split(lower(trim(text)), ' ') END AS ws FROM documents),
        |wi AS (SELECT doc_id, unnest(ws) AS w FROM t),
        |w AS (SELECT doc_id, w FROM wi WHERE w != ''),
        |dw AS (SELECT DISTINCT w FROM w),
        |tok AS (
        |  SELECT w, 1 AS pos, 0 AS pi FROM dw
        |  UNION ALL
        |  SELECT tok.w,
        |    tok.pos + coalesce((SELECT len(v.p) FROM vocab v
        |      WHERE substr(tok.w, tok.pos, len(v.p)) = v.p
        |      ORDER BY len(v.p) DESC, v.p LIMIT 1), 1),
        |    tok.pi + 1
        |  FROM tok WHERE tok.pos <= len(tok.w)),
        |wp AS (SELECT w, CAST(count(*) AS BIGINT) AS k
        |       FROM tok WHERE pi > 0 GROUP BY w),
        |docs AS (SELECT w.doc_id, CAST(sum(wp.k) AS BIGINT) AS np
        |         FROM w JOIN wp ON w.w = wp.w GROUP BY w.doc_id),
        |per AS (SELECT d.lang, docs.np,
        |    CAST(len(string_split(trim(d.text), ' ')) AS BIGINT) AS nw,
        |    CAST(strlen(d.text) AS BIGINT) AS nb
        |  FROM documents d JOIN docs ON d.doc_id = docs.doc_id)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  round(sum(np) * 1.0 / sum(nw), 4) AS tokens_per_word,
        |  round(sum(nb) * 1.0 / sum(np), 4) AS bytes_per_token
        |FROM per GROUP BY lang ORDER BY lang""").stripMargin,

    // Viterbi inference replayed as exhaustive segmentation enumeration
    // under the PINNED (piece, logprob) literal: every path accumulates
    // score LEFT TO RIGHT over bit-identical doubles (Double.toString
    // round-trips through DuckDB's parser), so the (score DESC, path ASC)
    // argmax — binary collation — picks exactly the kernel's DP winner,
    // including float ties. The <unk> transition (1 char at -20.0) is a
    // candidate at every position, as in the kernel; enumeration is
    // bounded because gate-corpus words are short.
    "tokenize_unigram" ->
      (s"""WITH RECURSIVE
        |vocab(p, lp) AS (VALUES ${sqlScoredRows(UnigramVocabV40)}),
        |""" +
      """t AS (SELECT doc_id, CASE WHEN len(trim(text)) = 0 THEN []
        |        ELSE string_split(lower(trim(text)), ' ') END AS ws FROM documents),
        |wi AS (SELECT doc_id, generate_subscripts(ws, 1) AS i, unnest(ws) AS w FROM t),
        |w AS (SELECT doc_id, i, w FROM wi WHERE w != ''),
        |dw AS (SELECT DISTINCT w FROM w),
        |pos AS (SELECT w, unnest(generate_series(1, len(w))) AS pos FROM dw),
        |cand AS (
        |  SELECT p.w, p.pos, len(v.p) AS adv, v.lp, v.p AS piece
        |  FROM pos p JOIN vocab v ON substr(p.w, p.pos, len(v.p)) = v.p
        |  UNION ALL
        |  SELECT w, pos, 1, -20.0::DOUBLE, '<unk>' FROM pos),
        |seg AS (
        |  SELECT w, 1 AS pos, CAST(0 AS DOUBLE) AS score, '' AS path FROM dw
        |  UNION ALL
        |  SELECT s.w, s.pos + c.adv, s.score + c.lp,
        |    s.path || CASE WHEN s.pos = 1 THEN '' ELSE '|' END || c.piece
        |  FROM seg s JOIN cand c ON s.w = c.w AND s.pos = c.pos),
        |best AS (SELECT w, path FROM (
        |  SELECT w, path,
        |    row_number() OVER (PARTITION BY w ORDER BY score DESC, path ASC) AS rn
        |  FROM seg WHERE pos = len(w) + 1) WHERE rn = 1),
        |wp AS (SELECT w, string_split(path, '|') AS pieces FROM best),
        |ids AS (SELECT p, CAST(row_number() OVER (ORDER BY p) AS INT) AS id
        |        FROM vocab),
        |mp AS (SELECT map(list(p ORDER BY p), list(id ORDER BY p)) AS m FROM ids),
        |docs AS (SELECT w.doc_id, flatten(list(wp.pieces ORDER BY w.i)) AS pieces
        |         FROM w JOIN wp ON w.w = wp.w GROUP BY w.doc_id)
        |SELECT d.doc_id,
        |  CAST(coalesce(len(docs.pieces), 0) AS INT) AS n_tokens,
        |  coalesce(array_to_string(docs.pieces, '|'), '') AS pieces_str,
        |  coalesce(array_to_string(
        |    list_transform(docs.pieces, x -> coalesce(mp.m[x][1], 0)), ','), '') AS token_ids_str
        |FROM documents d CROSS JOIN mp
        |LEFT JOIN docs ON d.doc_id = docs.doc_id
        |ORDER BY d.doc_id""").stripMargin,

    // Zipped unnests over the same start list stay aligned in DuckDB, so
    // chunk_id / token count / slice all read the same start. 0-based
    // starts both sides; list_slice is 1-based inclusive like Spark slice.
    "chunk_docs" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents
        |  WHERE len(trim(text)) > 0),
        |p AS (
        |  SELECT doc_id, w,
        |    list_filter(range(0, len(w), 96), s -> s = 0 OR s < len(w) - 32) AS starts
        |  FROM t)
        |SELECT doc_id,
        |  CAST(unnest(range(0, len(starts))) AS BIGINT) AS chunk_id,
        |  CAST(least(128, len(w) - unnest(starts)) AS BIGINT) AS n_chunk_tokens,
        |  md5(array_to_string(list_slice(w, unnest(starts) + 1, unnest(starts) + 128), ' ')) AS chunk_md5
        |FROM p ORDER BY doc_id, chunk_id""".stripMargin,

    // Same mixed-script construction; per-class counts over the identical
    // literal codepoint ranges (RE2 \x{...} ≡ Java \uXXXX).
    "text_script_mix" ->
      """WITH src AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 3 = 0 THEN ' Привет мир 3×4÷2'
        |         WHEN doc_id % 3 = 1 THEN ' 中文字符测试　汉'
        |         ELSE ' مرحبا بالعالم' END AS text
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    len(regexp_replace(text, '[\s\x{00A0}\x{1680}\x{2000}-\x{200A}\x{2028}\x{2029}\x{202F}\x{205F}\x{3000}]+', '', 'g')) AS nw,
        |    len(regexp_extract_all(text, '[A-Za-z\x{00C0}-\x{00D6}\x{00D8}-\x{00F6}\x{00F8}-\x{024F}]')) AS la,
        |    len(regexp_extract_all(text, '[\x{0400}-\x{04FF}]')) AS cy,
        |    len(regexp_extract_all(text, '[\x{4E00}-\x{9FFF}\x{3040}-\x{30FF}\x{AC00}-\x{D7AF}]')) AS cj,
        |    len(regexp_extract_all(text, '[\x{0600}-\x{06FF}]')) AS ar
        |  FROM src)
        |SELECT doc_id,
        |  round(la * 1.0 / nw, 4) AS latin,
        |  round(cy * 1.0 / nw, 4) AS cyrillic,
        |  round(cj * 1.0 / nw, 4) AS cjk,
        |  round(ar * 1.0 / nw, 4) AS arabic,
        |  round(greatest(0.0, 1.0 - la * 1.0 / nw - cy * 1.0 / nw
        |    - cj * 1.0 / nw - ar * 1.0 / nw), 4) AS other
        |FROM m ORDER BY doc_id""".stripMargin,

    // Same sentence-ize / split / token-count / exclusive-cumsum bin /
    // reassemble pipeline in SQL.
    "chunk_sentences" ->
      """WITH src AS (
        |  SELECT doc_id,
        |    array_to_string(list_transform(range(1, len(w0) + 1),
        |      i -> CASE WHEN i % 7 = 0 THEN w0[i] || '.' ELSE w0[i] END), ' ') AS text
        |  FROM (SELECT doc_id, string_split(trim(text), ' ') AS w0 FROM documents)),
        |sent AS (
        |  SELECT doc_id, unnest(ss) AS s, generate_subscripts(ss, 1) AS pos
        |  FROM (SELECT doc_id, string_split(text, '. ') AS ss FROM src)),
        |tok AS (
        |  SELECT doc_id, s, pos,
        |    CASE WHEN len(trim(s)) = 0 THEN 0
        |         ELSE len(string_split(trim(s), ' ')) END AS t
        |  FROM sent),
        |packed AS (
        |  SELECT *, CAST(floor((sum(t) OVER w - t) * 1.0 / 14) AS BIGINT) AS chunk_id
        |  FROM tok
        |  WINDOW w AS (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING))
        |SELECT doc_id, chunk_id,
        |  string_agg(s, '. ' ORDER BY pos) AS chunk_text,
        |  CAST(sum(t) AS BIGINT) AS n_tokens
        |FROM packed GROUP BY doc_id, chunk_id
        |ORDER BY doc_id, chunk_id""".stripMargin,

    // Exact all-pairs new-vs-old match set (fingerprint or string-shingle
    // Jaccard >= 0.5); hashed-vs-string shingles differ only by 2^-64
    // collisions, the dedup_minhash convention.
    "dedup_incremental" ->
      """WITH t AS (SELECT doc_id, text, string_split(trim(text), ' ') AS w FROM documents),
        |s AS (SELECT doc_id,
        |    CASE WHEN len(w) <= 3 THEN [array_to_string(w, ' ')]
        |    ELSE list_transform(range(1, len(w)-1), i -> array_to_string(list_slice(w, i, i+2), ' ')) END AS sh,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM t),
        |old AS (SELECT * FROM s WHERE doc_id % 2 = 0),
        |nw AS (SELECT * FROM s WHERE doc_id % 2 = 1),
        |excl AS (
        |  SELECT n.doc_id FROM nw n WHERE n.fp IN (SELECT fp FROM old)
        |  UNION
        |  SELECT n.doc_id FROM nw n JOIN old o
        |    ON len(list_distinct(list_intersect(n.sh, o.sh))) * 1.0 /
        |       len(list_distinct(list_concat(n.sh, o.sh))) >= 0.5)
        |SELECT doc_id FROM nw WHERE doc_id NOT IN (SELECT doc_id FROM excl)
        |ORDER BY doc_id""".stripMargin,

    // The quote plant, the minhash keep set, and the winnow passage
    // screen all replayed from scratch: k = 5 gram md5s, w = 4 window
    // minima (the dedup_winnow replay), best corpus match by shared
    // print count with the (count desc, id asc) tie-break.
    "dedup_incremental_winnow" ->
      """WITH d AS (SELECT doc_id, text FROM documents),
        |ev AS (SELECT doc_id AS src_id, text,
        |    array_to_string((string_split(trim(text), ' '))[1:40], ' ') AS quote
        |  FROM d WHERE doc_id % 2 = 0),
        |od AS (SELECT o.doc_id,
        |    CASE WHEN o.doc_id % 10 = 1 THEN o.text || ' ' || e.quote
        |         ELSE o.text END AS text
        |  FROM (SELECT doc_id, text FROM d WHERE doc_id % 2 = 1) o
        |  LEFT JOIN ev e ON o.doc_id - 1 = e.src_id),
        |nt AS (SELECT doc_id, text, string_split(trim(text), ' ') AS w FROM od),
        |ns AS (SELECT doc_id,
        |    CASE WHEN len(w) <= 3 THEN [array_to_string(w, ' ')]
        |    ELSE list_transform(range(1, len(w)-1), i -> array_to_string(list_slice(w, i, i+2), ' ')) END AS sh,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM nt),
        |ot AS (SELECT doc_id, text, string_split(trim(text), ' ') AS w
        |  FROM d WHERE doc_id % 2 = 0),
        |os AS (SELECT doc_id,
        |    CASE WHEN len(w) <= 3 THEN [array_to_string(w, ' ')]
        |    ELSE list_transform(range(1, len(w)-1), i -> array_to_string(list_slice(w, i, i+2), ' ')) END AS sh,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM ot),
        |excl AS (
        |  SELECT n.doc_id FROM ns n WHERE n.fp IN (SELECT fp FROM os)
        |  UNION
        |  SELECT n.doc_id FROM ns n JOIN os o
        |    ON len(list_distinct(list_intersect(n.sh, o.sh))) * 1.0 /
        |       len(list_distinct(list_concat(n.sh, o.sh))) >= 0.5),
        |kept AS (SELECT * FROM od
        |  WHERE doc_id NOT IN (SELECT doc_id FROM excl)),
        |kh AS (SELECT doc_id, list_transform(
        |    CASE WHEN len(w) <= 5 THEN [array_to_string(w, ' ')]
        |      ELSE list_transform(range(1, len(w) - 3),
        |        i -> array_to_string(list_slice(w, i, i + 4), ' ')) END,
        |    g -> md5(g)) AS hs
        |  FROM (SELECT doc_id, string_split(trim(text), ' ') AS w FROM kept)),
        |kf AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(hs) - 3, 1) + 1),
        |    i -> list_aggregate(list_slice(hs, i, i + 3), 'min')))) AS fp
        |  FROM kh),
        |ih AS (SELECT doc_id AS iid, list_transform(
        |    CASE WHEN len(w) <= 5 THEN [array_to_string(w, ' ')]
        |      ELSE list_transform(range(1, len(w) - 3),
        |        i -> array_to_string(list_slice(w, i, i + 4), ' ')) END,
        |    g -> md5(g)) AS hs
        |  FROM (SELECT doc_id, string_split(trim(text), ' ') AS w FROM d
        |        WHERE doc_id % 2 = 0)),
        |idf AS (SELECT iid, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(hs) - 3, 1) + 1),
        |    i -> list_aggregate(list_slice(hs, i, i + 3), 'min')))) AS fp
        |  FROM ih),
        |pairs AS (SELECT k.doc_id, i.iid, CAST(count(*) AS BIGINT) AS n
        |  FROM kf k JOIN idf i ON k.fp = i.fp
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |best AS (SELECT doc_id, iid, n, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY n DESC, iid) AS rn FROM pairs)
        |SELECT k.doc_id, b.iid AS passage_src,
        |  CAST(coalesce(b.n, 0) AS BIGINT) AS passage_shared
        |FROM kept k LEFT JOIN (SELECT * FROM best WHERE rn = 1) b
        |  ON k.doc_id = b.doc_id
        |ORDER BY k.doc_id""".stripMargin,

    // Hash-text window equivalence up to 2^-64 collisions (the repo-wide
    // convention); covered-position check is O(len²) list filtering — fine
    // for an offline oracle.
    "strip_repeated_windows" ->
      """WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
        |k AS (SELECT doc_id, w, list_transform(w, x -> lower(x)) AS kw,
        |    least(3, len(w)) AS wl FROM t),
        |win AS (SELECT doc_id, w, wl,
        |    CASE WHEN len(w) <= 3 THEN [array_to_string(kw, ' ')]
        |      ELSE list_transform(range(1, len(w) - 1), i -> array_to_string(list_slice(kw, i, i + 2), ' ')) END AS wins
        |  FROM k),
        |d AS (SELECT doc_id, w, wl,
        |    list_filter(range(1, len(wins) + 1), i -> list_position(wins, wins[i]) < i) AS dups
        |  FROM win),
        |r AS (SELECT doc_id, w,
        |    list_filter(range(1, len(w) + 1),
        |      j -> len(list_filter(dups, s -> s <= j AND j < s + wl)) = 0) AS keep
        |  FROM d)
        |SELECT doc_id, CAST(len(w) - len(keep) AS BIGINT) AS n_removed,
        |  md5(array_to_string(list_transform(keep, j -> w[j]), ' ')) AS clean_md5
        |FROM r ORDER BY doc_id""".stripMargin,

    "dedup_incremental_grow" ->
      """WITH t AS (SELECT doc_id, text, string_split(trim(text), ' ') AS w FROM documents),
        |s AS (SELECT doc_id,
        |    CASE WHEN len(w) <= 3 THEN [array_to_string(w, ' ')]
        |    ELSE list_transform(range(1, len(w)-1), i -> array_to_string(list_slice(w, i, i+2), ' ')) END AS sh,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM t),
        |old AS (SELECT * FROM s WHERE doc_id % 2 = 0),
        |b AS (SELECT * FROM s WHERE doc_id % 4 = 1),
        |bexcl AS (
        |  SELECT n.doc_id FROM b n WHERE n.fp IN (SELECT fp FROM old)
        |  UNION
        |  SELECT n.doc_id FROM b n JOIN old o
        |    ON len(list_distinct(list_intersect(n.sh, o.sh))) * 1.0 /
        |       len(list_distinct(list_concat(n.sh, o.sh))) >= 0.5),
        |base2 AS (SELECT * FROM old UNION ALL
        |  SELECT * FROM b WHERE doc_id NOT IN (SELECT doc_id FROM bexcl)),
        |c AS (SELECT * FROM s WHERE doc_id % 4 = 3),
        |cexcl AS (
        |  SELECT n.doc_id FROM c n WHERE n.fp IN (SELECT fp FROM base2)
        |  UNION
        |  SELECT n.doc_id FROM c n JOIN base2 o
        |    ON len(list_distinct(list_intersect(n.sh, o.sh))) * 1.0 /
        |       len(list_distinct(list_concat(n.sh, o.sh))) >= 0.5)
        |SELECT doc_id FROM c WHERE doc_id NOT IN (SELECT doc_id FROM cexcl)
        |ORDER BY doc_id""".stripMargin,

    "text_repetition" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    string_split(lower(trim(text)), ' ') AS words,
        |    CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n,
        |    CAST(len(regexp_extract_all(text, '#|\.\.\.')) AS BIGINT) AS n_sym
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, words, n, n_sym,
        |    CASE WHEN n >= 2 THEN list_transform(range(1, n), i -> words[i] || ' ' || words[i+1])
        |         ELSE [] END AS bi,
        |    CASE WHEN n >= 3 THEN list_transform(range(1, n-1), i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])
        |         ELSE [] END AS tri
        |  FROM t)
        |SELECT doc_id,
        |  round(CASE WHEN n = 0 THEN 0.0 ELSE 1.0 - len(list_distinct(words)) * 1.0 / n END, 4) AS rep_ratio,
        |  round(CASE WHEN len(bi) = 0 THEN 0.0
        |        ELSE list_max(list_transform(list_distinct(bi), b -> len(list_filter(bi, x -> x = b)))) * 1.0 / len(bi) END, 4) AS top_bigram_frac,
        |  round(CASE WHEN len(tri) = 0 THEN 0.0
        |        ELSE len(list_filter(tri, u -> len(list_filter(tri, x -> x = u)) > 1)) * 1.0 / len(tri) END, 4) AS dup_trigram_frac,
        |  round(CASE WHEN n = 0 THEN 0.0 ELSE n_sym * 1.0 / n END, 4) AS symbol_ratio,
        |  round(CASE WHEN n = 0 THEN 0.0
        |        ELSE len(list_filter(words, w -> regexp_matches(w, '[a-z]'))) * 1.0 / n END, 4) AS alpha_frac
        |FROM g ORDER BY doc_id""".stripMargin,

    // entropy = ln(n) − (Σ c·ln c)/n with the term list folded LEFT in
    // word-binary order — the engine kernel's exact accumulation order, so
    // the doubles agree bitwise before the round.
    "text_entropy" ->
      """WITH t AS (
        |  SELECT doc_id, CASE WHEN len(trim(text)) = 0 THEN []
        |    ELSE string_split(lower(trim(text)), ' ') END AS w FROM documents),
        |c AS (
        |  SELECT doc_id, wd, CAST(count(*) AS DOUBLE) AS cnt
        |  FROM (SELECT doc_id, unnest(w) AS wd FROM t)
        |  WHERE wd <> '' GROUP BY doc_id, wd),
        |s AS (
        |  SELECT doc_id, CAST(sum(cnt) AS DOUBLE) AS n,
        |    list(cnt * ln(cnt) ORDER BY wd) AS terms
        |  FROM c GROUP BY doc_id),
        |e AS (
        |  SELECT doc_id,
        |    round(ln(n) - list_reduce(terms, (a, b) -> a + b) / n, 4) AS ent
        |  FROM s)
        |SELECT d.doc_id, coalesce(e.ent, 0.0) AS word_entropy,
        |  coalesce(e.ent, 0.0) < 3.0 AS low_entropy
        |FROM documents d LEFT JOIN e USING (doc_id) ORDER BY doc_id""".stripMargin,

    "ann_sq8_search" ->
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 3),
        |s AS (
        |  SELECT vec_id,
        |    greatest(list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) / 127.0, 1e-30) AS scale,
        |    CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |d AS (
        |  SELECT vec_id, list_transform(v, x -> round(x / scale) * scale) AS dv
        |  FROM s)
        |SELECT d.vec_id, round(list_cosine_similarity(d.dv, q.qv), 3) AS score
        |FROM d, q
        |ORDER BY list_cosine_similarity(d.dv, q.qv) DESC, d.vec_id
        |LIMIT 12""".stripMargin,

    // Settings-routed PQ store: same pinned-codebook encode → reconstruct →
    // cosine as ann_ivfpq_search, query vector 4.
    "ann_pq_vs" ->
      s"""WITH cb(sub, code, c) AS (VALUES $PqCodebooksM8K16),
        |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 4),
        |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |enc AS (
        |  SELECT v.vec_id, cb.sub, cb.code, cb.c,
        |    list_distance(list_slice(v.v, cb.sub*8 + 1, cb.sub*8 + 8), cb.c) AS dist
        |  FROM v CROSS JOIN cb),
        |pick AS (
        |  SELECT vec_id, sub, c FROM enc
        |  QUALIFY row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, code) = 1),
        |rec AS (
        |  SELECT vec_id, flatten(list(c ORDER BY sub)) AS r FROM pick GROUP BY vec_id)
        |SELECT r.vec_id, round(list_cosine_similarity(r.r, q.qv), 3) AS score
        |FROM rec r, q
        |ORDER BY list_cosine_similarity(r.r, q.qv) DESC, r.vec_id
        |LIMIT 12""".stripMargin,

    // PQ encode (per-subspace squared-distance argmin, ties → lowest code)
    // → reconstruction → cosine, from the pinned codebooks. list_distance
    // is the monotone sqrt of the squared distance NearestCentroid
    // minimizes, so the argmin and its tie-break agree exactly.
    "ann_ivfpq_search" ->
      s"""WITH cb(sub, code, c) AS (VALUES $PqCodebooksM8K16),
        |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 5),
        |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |enc AS (
        |  SELECT v.vec_id, cb.sub, cb.code, cb.c,
        |    list_distance(list_slice(v.v, cb.sub*8 + 1, cb.sub*8 + 8), cb.c) AS dist
        |  FROM v CROSS JOIN cb),
        |pick AS (
        |  SELECT vec_id, sub, c FROM enc
        |  QUALIFY row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, code) = 1),
        |rec AS (
        |  SELECT vec_id, flatten(list(c ORDER BY sub)) AS r FROM pick GROUP BY vec_id)
        |SELECT r.vec_id, round(list_cosine_similarity(r.r, q.qv), 3) AS score
        |FROM rec r, q
        |ORDER BY list_cosine_similarity(r.r, q.qv) DESC, r.vec_id
        |LIMIT 12""".stripMargin,

    // The identical decomposed tail, normalized by DuckDB's own
    // nfc_normalize / strip_accents.
    "text_normalize" ->
      s"""SELECT doc_id,
         |  nfc_normalize(text || '$decomposedTail') AS nfc,
         |  strip_accents(text || '$decomposedTail') AS plain
         |FROM documents ORDER BY doc_id""".stripMargin,

    // All three CCNet stages refit from scratch over the SHRINKING
    // corpora: blocklist survivors (blk), the lang-NB refit ON blk with
    // the agreement filter (s2), then the bigram-LM refit ON s2 with the
    // unrounded perplexity cut — the lang_id_nb and ppl_bigram oracle
    // bodies re-rooted at each stage's input.
    "ccnet_pipeline" ->
      """WITH blk AS (
        |  SELECT * FROM documents
        |  WHERE len(list_filter(
        |    ['spark', 'slow query', 'drop table', 'scan merge', 'customer'],
        |    p -> contains(lower(text), p))) = 0),
        |t AS (
        |  SELECT doc_id, lang,
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS s
        |  FROM blk),
        |g AS (
        |  SELECT doc_id, lang, list_concat(
        |      list_transform(range(1, len(s) + 1), i -> substr(s, i, 1)),
        |      list_transform(range(1, len(s)), i -> substr(s, i, 2))) AS gr
        |  FROM t),
        |cnt AS (
        |  SELECT y, gram, CAST(count(*) AS DOUBLE) AS c
        |  FROM (SELECT lang AS y, unnest(gr) AS gram FROM g) GROUP BY y, gram),
        |voc AS (SELECT CAST(count(DISTINCT gram) AS DOUBLE) AS v FROM cnt),
        |tot AS (SELECT y, CAST(sum(c) AS DOUBLE) AS t FROM cnt GROUP BY y),
        |cls AS (
        |  SELECT lang AS y, ln(CAST(count(*) AS DOUBLE)) -
        |    ln((SELECT CAST(count(*) AS DOUBLE) FROM blk)) AS prior
        |  FROM blk GROUP BY lang),
        |m AS (
        |  SELECT cnt.y, map(list(gram ORDER BY gram),
        |      list(ln((c + 1) / (t + v)) ORDER BY gram)) AS mp,
        |    min(ln(1 / (t + v))) AS oov
        |  FROM cnt JOIN tot ON cnt.y = tot.y, voc GROUP BY cnt.y),
        |lsc AS (
        |  SELECT g.doc_id, g.lang, m.y AS cand,
        |    CASE WHEN len(g.gr) = 0 THEN cls.prior
        |      ELSE list_reduce(list_transform(g.gr, x -> coalesce(mp[x][1], oov)),
        |        (a, b) -> a + b) + cls.prior END AS score
        |  FROM g CROSS JOIN m JOIN cls ON m.y = cls.y),
        |rk AS (
        |  SELECT doc_id, lang, cand, score,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, cand) AS rn
        |  FROM lsc),
        |pred AS (
        |  SELECT r.doc_id, r.lang, r.cand AS lp,
        |    r.score - coalesce(s.score, r.score) AS margin
        |  FROM rk r LEFT JOIN (SELECT doc_id, score FROM rk WHERE rn = 2) s
        |    ON r.doc_id = s.doc_id
        |  WHERE r.rn = 1),
        |s2 AS (SELECT b.* FROM blk b
        |  JOIN pred p ON b.doc_id = p.doc_id AND p.lp = b.lang
        |    AND p.margin >= 2.0),
        |t2 AS (
        |  SELECT doc_id, CASE WHEN len(trim(text)) = 0 THEN []
        |    ELSE string_split(lower(trim(text)), ' ') END AS w
        |  FROM s2),
        |uc AS (
        |  SELECT word, CAST(count(*) AS DOUBLE) AS c
        |  FROM (SELECT unnest(w) AS word FROM t2) GROUP BY word),
        |tot2 AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM uc),
        |kept AS (SELECT word, c FROM uc WHERE c >= 2),
        |vv AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM kept),
        |unkc AS (SELECT (SELECT sum(c) FROM uc)
        |    - coalesce((SELECT sum(c) FROM kept), 0) AS cu),
        |up AS (SELECT map(list(word ORDER BY word),
        |      list((c + 1) / (n + (v + 1)) ORDER BY word)) AS mp,
        |    min((cu + 1) / (n + (v + 1))) AS unkp
        |  FROM kept, tot2, vv, unkc),
        |tm AS (
        |  SELECT doc_id, list_transform(w, x ->
        |    CASE WHEN mp[x][1] IS NOT NULL THEN x ELSE chr(1) END) AS mt
        |  FROM t2, up),
        |ps AS (SELECT doc_id, mt,
        |    unnest(range(1, len(mt) + 1)) AS i FROM tm),
        |prs AS (SELECT CASE WHEN i = 1 THEN chr(2) ELSE mt[i - 1] END AS prev,
        |    mt[i] AS cur FROM ps),
        |bc AS (SELECT prev || chr(3) || cur AS bg,
        |    CAST(count(*) AS DOUBLE) AS c FROM prs GROUP BY 1),
        |pt AS (SELECT prev, CAST(count(*) AS DOUBLE) AS ct
        |  FROM prs GROUP BY 1),
        |bm AS (SELECT map(list(bg ORDER BY bg), list(c ORDER BY bg)) AS bmp
        |  FROM bc),
        |pm AS (SELECT map(list(prev ORDER BY prev), list(ct ORDER BY prev)) AS pmp
        |  FROM pt),
        |psc AS (
        |  SELECT doc_id, len(mt) AS n,
        |    CASE WHEN len(mt) = 0 THEN 0.0 ELSE
        |      list_reduce(list_transform(range(1, len(mt) + 1), i ->
        |        ln(0.7 * coalesce(
        |             bmp[(CASE WHEN i = 1 THEN chr(2) ELSE mt[i - 1] END)
        |                 || chr(3) || mt[i]][1]
        |             / pmp[CASE WHEN i = 1 THEN chr(2) ELSE mt[i - 1] END][1],
        |             0.0)
        |           + (1 - 0.7) * coalesce(mp[mt[i]][1], unkp))),
        |        (a, b) -> a + b)
        |    END AS ll
        |  FROM tm, bm, pm, up)
        |SELECT doc_id, round(exp(-ll / n), 4) AS ppl
        |FROM psc WHERE n > 0 AND exp(-ll / n) <
        |  (SELECT avg(exp(-ll / n)) FROM psc WHERE n > 0)
        |ORDER BY doc_id""".stripMargin,

    // Membership semantics of the Aho–Corasick kernel, replayed as the
    // per-pattern contains() it collapses: distinct terms present, in
    // pattern-list order (list_filter preserves it).
    "blocklist_filter" ->
      """SELECT doc_id,
        |  coalesce(array_to_string(list_filter(
        |    ['spark', 'slow query', 'drop table', 'scan merge', 'customer'],
        |    p -> contains(lower(text), p)), ','), '') AS matched,
        |  len(list_filter(
        |    ['spark', 'slow query', 'drop table', 'scan merge', 'customer'],
        |    p -> contains(lower(text), p))) = 0 AS kept
        |FROM documents ORDER BY doc_id""".stripMargin,

    // The kernel's URL normal form replayed step for step: fragment
    // strip, scheme/authority lowercase, default-port drop, tracking
    // param filter (utm_* prefix + the name blocklist, case-insensitive
    // on the name), binary param sort, bare-root path drop, scheme-less
    // passthrough — over the identical doc_id-synthesized raw URLs.
    "url_dedup" ->
      """WITH raw AS (
        |  SELECT doc_id, CASE doc_id % 6
        |    WHEN 0 THEN 'http://www.Site' || CAST(doc_id % 25 AS VARCHAR)
        |      || '.com/article/' || CAST(doc_id % 25 AS VARCHAR) || '?b=2&a=1'
        |    WHEN 1 THEN 'HTTP://WWW.SITE' || CAST(doc_id % 25 AS VARCHAR)
        |      || '.COM:80/article/' || CAST(doc_id % 25 AS VARCHAR) || '?a=1&b=2#frag'
        |    WHEN 2 THEN 'http://www.site' || CAST(doc_id % 25 AS VARCHAR)
        |      || '.com:80/article/' || CAST(doc_id % 25 AS VARCHAR)
        |      || '?utm_source=x&a=1&UTM_Medium=y&b=2'
        |    WHEN 3 THEN 'http://www.site' || CAST(doc_id % 25 AS VARCHAR)
        |      || '.com/article/' || CAST(doc_id % 25 AS VARCHAR)
        |      || '?a=1&fbclid=zz&b=2&ref=tw'
        |    WHEN 4 THEN 'https://Site' || CAST(doc_id % 25 AS VARCHAR) || '.com:443/'
        |    ELSE 'site' || CAST(doc_id % 25 AS VARCHAR)
        |      || '.com/article/' || CAST(doc_id % 25 AS VARCHAR)
        |    END AS url
        |  FROM documents),
        |n1 AS (SELECT doc_id, string_split(trim(url), '#')[1] AS s FROM raw),
        |n2 AS (SELECT doc_id, s, strpos(s, '://') AS i FROM n1),
        |n3 AS (SELECT doc_id, s,
        |    CASE WHEN i = 0 THEN NULL ELSE lower(substr(s, 1, i - 1)) END AS scheme,
        |    CASE WHEN i = 0 THEN NULL ELSE substr(s, i + 3) END AS rest
        |  FROM n2),
        |n4 AS (SELECT *,
        |    CASE WHEN strpos(rest, '/') = 0 THEN len(rest) + 1
        |         ELSE strpos(rest, '/') END AS ps,
        |    CASE WHEN strpos(rest, '?') = 0 THEN len(rest) + 1
        |         ELSE strpos(rest, '?') END AS pq
        |  FROM n3),
        |n5 AS (SELECT doc_id, s, scheme,
        |    lower(substr(rest, 1, least(ps, pq) - 1)) AS auth0,
        |    substr(rest, least(ps, pq)) AS tail
        |  FROM n4),
        |n6 AS (SELECT doc_id, s, scheme, tail,
        |    CASE WHEN scheme = 'http' AND auth0 LIKE '%:80'
        |           THEN substr(auth0, 1, len(auth0) - 3)
        |         WHEN scheme = 'https' AND auth0 LIKE '%:443'
        |           THEN substr(auth0, 1, len(auth0) - 4)
        |         ELSE auth0 END AS auth
        |  FROM n5),
        |n7 AS (SELECT doc_id, s, scheme, auth,
        |    CASE WHEN strpos(tail, '?') = 0 THEN tail
        |         ELSE substr(tail, 1, strpos(tail, '?') - 1) END AS path0,
        |    CASE WHEN strpos(tail, '?') = 0 THEN ''
        |         ELSE substr(tail, strpos(tail, '?') + 1) END AS query
        |  FROM n6),
        |n8 AS (SELECT doc_id, s, scheme, auth,
        |    CASE WHEN path0 = '/' THEN '' ELSE path0 END AS path,
        |    coalesce(array_to_string(list_sort(list_filter(string_split(query, '&'),
        |      p -> len(p) > 0 AND NOT (
        |        starts_with(lower(string_split(p, '=')[1]), 'utm_') OR
        |        lower(string_split(p, '=')[1]) IN
        |          ('fbclid','gclid','msclkid','mc_eid','ref','igshid')))), '&'),
        |      '') AS qn
        |  FROM n7),
        |norm AS (SELECT doc_id,
        |    CASE WHEN scheme IS NULL THEN s
        |         ELSE scheme || '://' || auth || path ||
        |           CASE WHEN qn = '' THEN '' ELSE '?' || qn END
        |    END AS url_norm
        |  FROM n8)
        |SELECT min(doc_id) AS doc_id, url_norm
        |FROM norm GROUP BY url_norm ORDER BY doc_id""".stripMargin,

    // Same URL synthesis; the SQL replays the heuristic last-2/3-label
    // rule, which coincides with the full PSL algorithm on every URL
    // this gate plants (.com and .co.uk) — the PSL-only families
    // (wildcards, exceptions, prefectures) are pinned by psl_domain's
    // generated oracle. Then the per-domain stats and row_number() cap.
    "domain_cap" ->
      """WITH u AS (SELECT doc_id,
        |    CASE doc_id % 4
        |      WHEN 0 THEN 'http://www.Site' || (doc_id % 10) || '.com/p' || doc_id
        |      WHEN 1 THEN 'http://blog.site' || (doc_id % 10) || '.com/p' || doc_id || '?x=1'
        |      WHEN 2 THEN 'https://shop.site' || (doc_id % 10) || '.co.uk/p' || doc_id
        |      ELSE 'site' || (doc_id % 10) || '.com/p' || doc_id END AS url
        |  FROM documents),
        |h AS (SELECT doc_id,
        |    lower(regexp_extract(
        |      CASE WHEN contains(url, '://')
        |           THEN regexp_replace(url, '^[^:]*://', '') ELSE url END,
        |      '^([^/?:]*)', 1)) AS host
        |  FROM u),
        |lab AS (SELECT doc_id, host, string_split(host, '.') AS labels,
        |    len(string_split(host, '.')) AS n FROM h),
        |d AS (SELECT doc_id,
        |    CASE WHEN n <= 1 THEN host
        |         WHEN n >= 3
        |           AND labels[-2] IN ('co','com','net','org','ac','gov','edu')
        |           AND len(labels[-1]) = 2
        |           THEN labels[-3] || '.' || labels[-2] || '.' || labels[-1]
        |         ELSE labels[-2] || '.' || labels[-1] END AS domain
        |  FROM lab),
        |s AS (SELECT domain, CAST(count(*) AS BIGINT) AS n_docs
        |      FROM d GROUP BY 1),
        |tot AS (SELECT sum(n_docs) AS t FROM s),
        |kept AS (SELECT doc_id, domain FROM (
        |  SELECT doc_id, domain,
        |    row_number() OVER (PARTITION BY domain ORDER BY doc_id) AS rn
        |  FROM d) WHERE rn <= 5)
        |SELECT k.doc_id, k.domain, s.n_docs,
        |  round(s.n_docs * 1.0 / tot.t, 6) AS share
        |FROM kept k JOIN s USING (domain) CROSS JOIN tot
        |ORDER BY k.doc_id""".stripMargin,

    // Same URL synthesis; the registrable-domain CASE below is GENERATED
    // at oracle-dump time from the same parsed PSL snapshot Spark reads
    // (graft.functions.Psl.duckDbRegistrableSql), so the two engines
    // cannot drift on the rule set.
    "psl_domain" ->
      s"""WITH u AS (SELECT doc_id,
         |    CASE doc_id % 8
         |      WHEN 0 THEN 'http://www.Site' || (doc_id % 10) || '.com/p' || doc_id
         |      WHEN 1 THEN 'https://shop.site' || (doc_id % 10) || '.co.uk/a?x=1'
         |      WHEN 2 THEN 'http://blog.site' || (doc_id % 10) || '.kyoto.jp/p' || doc_id
         |      WHEN 3 THEN 'http://x.site' || (doc_id % 10) || '.kobe.jp/'
         |      WHEN 4 THEN 'http://www.city.kobe.jp/ward' || (doc_id % 10)
         |      WHEN 5 THEN 'school' || (doc_id % 10) || '.sch.uk/home'
         |      WHEN 6 THEN 'https://my.school' || (doc_id % 10) || '.k12.ca.us:8080/x'
         |      ELSE 'http://deep.a.b.site' || (doc_id % 10) || '.com/x' END AS url
         |  FROM documents),
         |h AS (SELECT doc_id,
         |    lower(regexp_extract(
         |      CASE WHEN contains(url, '://')
         |           THEN regexp_replace(url, '^[^:]*://', '') ELSE url END,
         |      '^([^/?:]*)', 1)) AS host
         |  FROM u)
         |SELECT doc_id,
         |  ${graft.functions.Psl.duckDbRegistrableSql("host")} AS domain
         |FROM h ORDER BY doc_id""".stripMargin,

    // Identical markup wrapping, then the fixed-order strip chains with
    // RE2 'g' replaces (backreference syntax is \1 here vs Spark's $1 —
    // same semantics).
    "text_markup_strip" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    '# Heading ' || (doc_id % 5) || chr(10) || '**bold' || (doc_id % 5)
        |      || '** and *ital* [link text](http://example.com/' || (doc_id % 5)
        |      || ') ![alt' || (doc_id % 5) || '](img.png)' || chr(10) || '```'
        |      || chr(10) || text || chr(10) || '```' || chr(10)
        |      || '> quoted line' || chr(10) || '---' || chr(10) || text AS md,
        |    '\section{Intro ' || (doc_id % 5) || '}% trailing comment'
        |      || chr(10) || '\textbf{' || text || '} $x^2 + y_' || (doc_id % 5)
        |      || '$ and $$\sum_i i$$ \emph{end}\\' AS tex
        |  FROM documents)
        |SELECT doc_id,
        |  md5(trim(regexp_replace(
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(md,
        |      '(?m)^```[^\n]*$', '', 'g'),
        |      '!\[([^\]]*)\]\([^)]*\)', '\1', 'g'),
        |      '\[([^\]]*)\]\([^)]*\)', '\1', 'g'),
        |      '(?m)^#{1,6}[ \t]*', '', 'g'),
        |      '\*\*([^*]*)\*\*', '\1', 'g'),
        |      '\*([^*]*)\*', '\1', 'g'),
        |      '(?m)^>[ \t]?', '', 'g'),
        |      '(?m)^(-{3,}|={3,})[ \t]*$', '', 'g'),
        |      '[ \t]+', ' ', 'g'))) AS md_md5,
        |  md5(trim(regexp_replace(
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |    regexp_replace(tex,
        |      '(?m)%[^\n]*', '', 'g'),
        |      '\$\$[^$]*\$\$', ' ', 'g'),
        |      '\$[^$]*\$', ' ', 'g'),
        |      '\\[a-zA-Z]+\*?(\[[^\]]*\])?', '', 'g'),
        |      '[{}]', '', 'g'),
        |      '[ \t]+', ' ', 'g'))) AS tex_md5
        |FROM m ORDER BY doc_id""".stripMargin,

    // The same line construction, then every Table-A1 signal replayed
    // with the shapes the per-signal gates already pin, and the same
    // null-safe keep conjunction.
    "gopher_quality_filter" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    regexp_replace(text, '\. ', '.' || chr(10), 'g')
        |      || CASE WHEN doc_id % 3 = 0
        |         THEN chr(10) || '- bullet item' || chr(10) || 'snipped tail...'
        |         ELSE '' END AS t2
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, t2,
        |    CAST(CASE WHEN len(trim(t2)) = 0 THEN 0
        |      ELSE len(string_split_regex(trim(t2), '\s+')) END AS BIGINT)
        |      AS n_words,
        |    CASE WHEN len(trim(t2)) = 0 THEN 0.0
        |      ELSE len(regexp_replace(t2, '\s+', '', 'g')) * 1.0
        |        / len(string_split_regex(trim(t2), '\s+')) END AS mwl,
        |    CASE WHEN len(trim(t2)) = 0 THEN 0.0
        |      ELSE len(regexp_extract_all(t2, '#|\.\.\.')) * 1.0
        |        / len(string_split_regex(trim(t2), '\s+')) END AS sym,
        |    CASE WHEN len(trim(t2)) = 0 THEN 0.0
        |      ELSE len(list_filter(string_split_regex(lower(trim(t2)), '\s+'),
        |        w -> regexp_matches(w, '[a-z]'))) * 1.0
        |        / len(string_split_regex(lower(trim(t2)), '\s+')) END AS alpha,
        |    len(list_filter(list_distinct(string_split_regex(lower(trim(t2)), '\s+')),
        |      w -> w IN ('the','be','to','of','and','that','have','with')))
        |      AS n_stop_hits,
        |    list_filter(string_split(t2, chr(10)), x -> len(trim(x)) > 0) AS ls
        |  FROM t),
        |f AS (
        |  SELECT doc_id, n_words, mwl, sym, alpha,
        |    CAST(n_stop_hits AS BIGINT) AS n_stop_hits,
        |    CASE WHEN len(ls) = 0 THEN NULL ELSE
        |      len(list_filter(ls, x -> substring(trim(x), 1, 1) IN ('-','*','•')))
        |        * 1.0 / len(ls) END AS bullet,
        |    CASE WHEN len(ls) = 0 THEN NULL ELSE
        |      len(list_filter(ls, x -> right(trim(x), 3) = '...'
        |        OR right(trim(x), 1) = '…')) * 1.0 / len(ls) END AS ellip
        |  FROM s)
        |SELECT doc_id, n_words, round(mwl, 4) AS mean_word_len,
        |  round(sym, 4) AS symbol_ratio, round(alpha, 4) AS alpha_frac,
        |  round(bullet, 4) AS bullet_frac, round(ellip, 4) AS ellipsis_frac,
        |  n_stop_hits,
        |  (n_words BETWEEN 50 AND 100000 AND mwl BETWEEN 3.0 AND 10.0
        |   AND sym <= 0.1 AND alpha >= 0.8
        |   AND coalesce(bullet <= 0.9, TRUE)
        |   AND coalesce(ellip <= 0.3, TRUE)
        |   AND n_stop_hits >= 2) AS kept
        |FROM f ORDER BY doc_id""".stripMargin,

    // The identical sentence construction (8-word chunks + '.') and
    // plants, then the line-retention rules and page rules replayed
    // step for step; clean text md5-pinned.
    "c4_quality_filter" ->
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        |  FROM documents),
        |t AS (
        |  SELECT doc_id,
        |    array_to_string(list_transform(
        |      range(0, CAST(ceil(len(w) / 8.0) AS INT)),
        |      i -> array_to_string(w[i*8+1 : i*8+8], ' ') || '.'), chr(10))
        |      || CASE WHEN doc_id % 5 = 0
        |         THEN chr(10) || 'click here to enable javascript support today.'
        |         ELSE '' END
        |      || CASE WHEN doc_id % 7 = 0
        |         THEN chr(10) || 'nav crumb' ELSE '' END
        |      || CASE WHEN doc_id % 9 = 0
        |         THEN chr(10) || 'template artifact { unrendered block.'
        |         ELSE '' END
        |      || CASE WHEN doc_id % 11 = 0
        |         THEN chr(10) || 'Lorem Ipsum dolor sit amet placeholder text here.'
        |         ELSE '' END
        |      || CASE WHEN doc_id % 13 = 0
        |         THEN chr(10) || 'this sentence mentions unsafeword clearly and loudly.'
        |         ELSE '' END AS t2
        |  FROM w),
        |c AS (SELECT doc_id, t2,
        |    coalesce(array_to_string(list_filter(string_split(t2, chr(10)),
        |      x -> right(trim(x), 1) IN ('.', '!', '?', '"')
        |        AND len(string_split_regex(trim(x), '\s+')) >= 5
        |        AND NOT contains(lower(trim(x)), 'javascript')), chr(10)),
        |      '') AS clean
        |  FROM t)
        |SELECT doc_id,
        |  CAST(CASE WHEN len(clean) = 0 THEN 0
        |    ELSE len(string_split(clean, chr(10))) END AS BIGINT) AS n_lines_kept,
        |  CAST(len(regexp_extract_all(clean, '[.!?]')) AS BIGINT) AS n_sentences,
        |  (len(regexp_extract_all(clean, '[.!?]')) >= 3
        |    AND NOT contains(lower(t2), 'lorem ipsum')
        |    AND NOT contains(t2, '{')
        |    AND NOT contains(lower(t2), 'unsafeword')) AS kept,
        |  md5(clean) AS clean_md5
        |FROM c ORDER BY doc_id""".stripMargin,

    // Identical line construction (sentence breaks → newlines + the
    // deterministic bullet/ellipsis tail on every third doc), then the
    // three line fractions over non-empty lines.
    "text_line_stats" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    regexp_replace(text, '\. ', '.' || chr(10), 'g')
        |      || CASE WHEN doc_id % 3 = 0
        |         THEN chr(10) || '- bullet item' || chr(10) || 'snipped tail...'
        |         ELSE '' END AS t2
        |  FROM documents),
        |l AS (
        |  SELECT doc_id,
        |    list_filter(string_split(t2, chr(10)), x -> len(trim(x)) > 0) AS ls
        |  FROM t)
        |SELECT doc_id,
        |  CASE WHEN len(ls) = 0 THEN NULL ELSE
        |    round(len(list_filter(ls, x -> substring(trim(x), 1, 1) IN ('-','*','•'))) * 1.0 / len(ls), 4) END AS bullet_frac,
        |  CASE WHEN len(ls) = 0 THEN NULL ELSE
        |    round(len(list_filter(ls, x -> right(trim(x), 3) = '...' OR right(trim(x), 1) = '…')) * 1.0 / len(ls), 4) END AS ellipsis_frac,
        |  CASE WHEN len(ls) = 0 THEN NULL ELSE
        |    round(len(list_filter(ls, x -> len(string_split(trim(x), ' ')) < 3)) * 1.0 / len(ls), 4) END AS short_frac
        |FROM l ORDER BY doc_id""".stripMargin,

    "text_stats" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |    string_split(lower(trim(text)), ' ') AS words,
        |    CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens,
        |    CAST(len(regexp_extract_all(text, '[A-Za-z0-9]{1,4}|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe,
        |    len(regexp_replace(text, '[^.,!?;:]', '', 'g')) * 1.0 / len(text) AS praw
        |  FROM documents),
        |h AS (
        |  SELECT *,
        |    len(list_filter(words, w -> w IN ('the','and','of','to','in','is','you','that'))) AS en,
        |    len(list_filter(words, w -> w IN ('der','die','das','und','ist','nicht','ein','zu'))) AS de,
        |    len(list_filter(words, w -> w IN ('el','los','de','que','y','en','un','por'))) AS es,
        |    len(list_filter(words, w -> w IN ('le','les','et','est','une','des','dans','pour'))) AS fr,
        |    len(list_filter(words, w -> w IN ('the','a','an','and','or','of','to','in','is','it','that','for','on','with','as'))) * 1.0 / len(words) AS sraw
        |  FROM t)
        |SELECT doc_id, n_tokens, n_bpe,
        |  round(praw, 4) AS punct_ratio,
        |  round(sraw, 4) AS stop_ratio,
        |  round((least(len(text)*1.0/500, 1.0) + least(sraw*5, 1.0) + greatest(0.0, 1.0 - praw*10)) / 3.0, 4) AS quality,
        |  CASE WHEN fr > greatest(en, de, es) THEN 'fr'
        |       WHEN es > greatest(en, de) THEN 'es'
        |       WHEN de > en THEN 'de' ELSE 'en' END AS pred_lang,
        |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |FROM h ORDER BY doc_id""".stripMargin,

    "multimodal_prompt" ->
      """SELECT doc_id,
        |  CAST(22 + 4 * ceil(strlen(text) / 3.0) AS BIGINT) AS n_img_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    // The gridPng integer formula, re-run in SQL: cosine is
    // scale-invariant and the blocks are constant gray, so the decoded
    // luma-grid embedding's pair scores equal the raw grid cosines.
    "image_embed_neardup" ->
      """WITH v AS (
        |  SELECT doc_id AS i, CAST(list_transform(range(0, 64), c ->
        |    ((17*((doc_id%4)+1)*(c+3)) % 160) + 20 +
        |    CASE WHEN doc_id < 4 THEN 0 ELSE (doc_id*13 + c*7) % 60 END)
        |    AS DOUBLE[]) AS vec
        |  FROM documents WHERE doc_id < 24)
        |SELECT a.i AS id1, b.i AS id2,
        |  round(list_cosine_similarity(a.vec, b.vec), 3) AS score
        |FROM v a JOIN v b ON a.i < b.i
        |WHERE list_cosine_similarity(a.vec, b.vec) >= 0.96
        |ORDER BY id1, id2""".stripMargin,

    "multimodal_meta" ->
      """SELECT doc_id, CAST(len(text) AS BIGINT) AS n_bytes,
        |  CAST(len(text) % 640 AS BIGINT) AS width,
        |  CAST(len(text) % 30 + 1 AS BIGINT) AS frames
        |FROM documents ORDER BY doc_id""".stripMargin,

    // BM25 with the Lucene idf variant, k1=1.2 b=0.75; the + chain and
    // parenthesization mirror the Spark expressions so IEEE doubles agree.
    // The tombstoned-search contract: totals (n, sumdl) from the FULL
    // corpus (stale until compaction), tf/dl/df from the survivors only.
    "bm25_delete" ->
      """WITH t AS (
        |  SELECT doc_id, CASE WHEN len(trim(text)) = 0 THEN []
        |    ELSE string_split(lower(trim(text)), ' ') END AS w
        |  FROM documents),
        |d AS (
        |  SELECT doc_id, CAST(len(w) AS DOUBLE) AS dl,
        |    CAST(len(list_filter(w, x -> x = 'spark')) AS DOUBLE) AS tf0,
        |    CAST(len(list_filter(w, x -> x = 'join')) AS DOUBLE) AS tf1,
        |    CAST(len(list_filter(w, x -> x = 'window')) AS DOUBLE) AS tf2
        |  FROM t),
        |stale AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n, CAST(sum(dl) AS DOUBLE) AS sumdl
        |  FROM d),
        |surv AS (SELECT * FROM d WHERE doc_id % 3 != 0),
        |fresh AS (
        |  SELECT
        |    CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
        |    CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
        |    CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df2
        |  FROM surv)
        |SELECT doc_id, round(score, 3) AS score FROM (
        |  SELECT surv.doc_id,
        |    ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5)) * tf0 * 2.2 / (tf0 + 1.2 * (1.0 - 0.75 + 0.75 * dl / (sumdl / n)))
        |    + ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5)) * tf1 * 2.2 / (tf1 + 1.2 * (1.0 - 0.75 + 0.75 * dl / (sumdl / n)))
        |    + ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5)) * tf2 * 2.2 / (tf2 + 1.2 * (1.0 - 0.75 + 0.75 * dl / (sumdl / n))) AS score
        |  FROM surv, stale, fresh) q
        |WHERE score > 0
        |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,

    "bm25_search" ->
      """WITH t AS (
        |  SELECT doc_id, CASE WHEN len(trim(text)) = 0 THEN []
        |    ELSE string_split(lower(trim(text)), ' ') END AS w
        |  FROM documents),
        |d AS (
        |  SELECT doc_id, CAST(len(w) AS DOUBLE) AS dl,
        |    CAST(len(list_filter(w, x -> x = 'spark')) AS DOUBLE) AS tf0,
        |    CAST(len(list_filter(w, x -> x = 'join')) AS DOUBLE) AS tf1,
        |    CAST(len(list_filter(w, x -> x = 'window')) AS DOUBLE) AS tf2
        |  FROM t),
        |s AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n, CAST(sum(dl) AS DOUBLE) AS sumdl,
        |    CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
        |    CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
        |    CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df2
        |  FROM d)
        |SELECT doc_id, round(score, 3) AS score FROM (
        |  SELECT d.doc_id,
        |    ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5)) * tf0 * 2.2 / (tf0 + 1.2 * (1.0 - 0.75 + 0.75 * dl / (sumdl / n)))
        |    + ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5)) * tf1 * 2.2 / (tf1 + 1.2 * (1.0 - 0.75 + 0.75 * dl / (sumdl / n)))
        |    + ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5)) * tf2 * 2.2 / (tf2 + 1.2 * (1.0 - 0.75 + 0.75 * dl / (sumdl / n))) AS score
        |  FROM d, s) q
        |WHERE score > 0
        |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,

    "bm25_saved" -> Bm25SavedOracle,

    // BM25 over SNAPSHOT 2 (the engine's cross-check vs a clean rebuild is
    // asserted Spark-side; this pins the scores themselves).
    "bm25_refresh" ->
      """WITH snap2 AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 10 NOT IN (1, 2)
        |  UNION ALL
        |  SELECT doc_id, text || ' graft refreshed' FROM documents WHERE doc_id % 10 = 2
        |  UNION ALL
        |  SELECT doc_id + 100000, text || ' appended copy' FROM documents WHERE doc_id % 10 = 3),
        |t AS (
        |  SELECT doc_id, CASE WHEN len(trim(text)) = 0 THEN []
        |    ELSE string_split(lower(trim(text)), ' ') END AS w
        |  FROM snap2),
        |d AS (
        |  SELECT doc_id, CAST(len(w) AS DOUBLE) AS dl,
        |    CAST(len(list_filter(w, x -> x = 'spark')) AS DOUBLE) AS tf0,
        |    CAST(len(list_filter(w, x -> x = 'join')) AS DOUBLE) AS tf1,
        |    CAST(len(list_filter(w, x -> x = 'window')) AS DOUBLE) AS tf2
        |  FROM t),
        |s AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n, CAST(sum(dl) AS DOUBLE) AS sumdl,
        |    CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
        |    CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
        |    CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df2
        |  FROM d)
        |SELECT doc_id, round(score, 3) AS score FROM (
        |  SELECT d.doc_id,
        |    ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5)) * tf0 * 2.2 / (tf0 + 1.2 * (1.0 - 0.75 + 0.75 * dl / (sumdl / n)))
        |    + ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5)) * tf1 * 2.2 / (tf1 + 1.2 * (1.0 - 0.75 + 0.75 * dl / (sumdl / n)))
        |    + ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5)) * tf2 * 2.2 / (tf2 + 1.2 * (1.0 - 0.75 + 0.75 * dl / (sumdl / n))) AS score
        |  FROM d, s) q
        |WHERE score > 0
        |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,

    // The appended index computes the same stats totals and posting rows as
    // a fresh full-corpus build, so the same oracle is the truth.
    "bm25_append" -> Bm25SavedOracle,

    // Three BM25 queries over one tokenized-docs CTE: per-term tf/df
    // computed once (the shared-scan form of the batch), per-query score
    // sums in the engine's op order, top-8 per query via row_number over
    // the UNROUNDED score.
    "bm25_batch_search" ->
      """WITH t AS (
        |  SELECT doc_id, CASE WHEN len(trim(text)) = 0 THEN []
        |    ELSE string_split(lower(trim(text)), ' ') END AS w
        |  FROM documents),
        |d AS (
        |  SELECT doc_id, CAST(len(w) AS DOUBLE) AS dl,
        |    CAST(len(list_filter(w, x -> x = 'spark')) AS DOUBLE) AS tfa,
        |    CAST(len(list_filter(w, x -> x = 'join')) AS DOUBLE) AS tfb,
        |    CAST(len(list_filter(w, x -> x = 'window')) AS DOUBLE) AS tfc,
        |    CAST(len(list_filter(w, x -> x = 'filter')) AS DOUBLE) AS tfd
        |  FROM t),
        |s AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n, CAST(sum(dl) AS DOUBLE) AS sumdl,
        |    CAST(sum(CASE WHEN tfa > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS dfa,
        |    CAST(sum(CASE WHEN tfb > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS dfb,
        |    CAST(sum(CASE WHEN tfc > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS dfc,
        |    CAST(sum(CASE WHEN tfd > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS dfd
        |  FROM d),
        |scored AS (
        |  SELECT d.doc_id, dl, tfa, tfb, tfc, tfd, n, sumdl, dfa, dfb, dfc, dfd,
        |    ln(1.0 + (n - dfa + 0.5) / (dfa + 0.5)) * tfa * 2.2 / (tfa + 1.2 * (1.0 - 0.75 + 0.75 * dl / (sumdl / n))) AS sa,
        |    ln(1.0 + (n - dfb + 0.5) / (dfb + 0.5)) * tfb * 2.2 / (tfb + 1.2 * (1.0 - 0.75 + 0.75 * dl / (sumdl / n))) AS sb,
        |    ln(1.0 + (n - dfc + 0.5) / (dfc + 0.5)) * tfc * 2.2 / (tfc + 1.2 * (1.0 - 0.75 + 0.75 * dl / (sumdl / n))) AS sc,
        |    ln(1.0 + (n - dfd + 0.5) / (dfd + 0.5)) * tfd * 2.2 / (tfd + 1.2 * (1.0 - 0.75 + 0.75 * dl / (sumdl / n))) AS sd
        |  FROM d, s),
        |perq AS (
        |  SELECT 1 AS qid, doc_id, sa + sb AS score FROM scored
        |  UNION ALL
        |  SELECT 2 AS qid, doc_id, sc + sd AS score FROM scored
        |  UNION ALL
        |  SELECT 3 AS qid, doc_id, sa + sc AS score FROM scored)
        |SELECT qid, doc_id, round(score, 3) AS score FROM (
        |  SELECT *, row_number() OVER (PARTITION BY qid
        |    ORDER BY score DESC, doc_id) AS rn
        |  FROM perq)
        |WHERE rn <= 8 AND score > 0
        |ORDER BY qid, score DESC, doc_id""".stripMargin,

    "hybrid_search_rrf" -> HybridRrfOracle,

    // Saved tiers compute the same truth (bm25_saved ≡ ad-hoc BM25;
    // nProbe = nCells IVF ≡ exact cosine), so the oracle is shared.
    "hybrid_search_saved" -> HybridRrfOracle,

    // Exact NOT EXISTS over all corpus×eval cosine pairs — the definition
    // the broadcast nested-loop anti-join implements. The norm > 0 guards
    // mirror the route's zero-vector semantics (undefined-not-contaminated):
    // without them DuckDB's list_cosine_similarity yields NaN for a zero
    // vector and NaN >= τ is TRUE under DuckDB's NaN-greatest ordering, so
    // a zero vector would contaminate (or be contaminated by) everything.
    "decontaminate_semantic" ->
      """SELECT a.vec_id FROM embeddings a
        |WHERE a.vec_id % 2 = 0 AND NOT EXISTS (
        |  SELECT 1 FROM embeddings b WHERE b.vec_id % 2 = 1
        |  AND list_dot_product(CAST(a.embedding AS DOUBLE[]),
        |                       CAST(a.embedding AS DOUBLE[])) > 0
        |  AND list_dot_product(CAST(b.embedding AS DOUBLE[]),
        |                       CAST(b.embedding AS DOUBLE[])) > 0
        |  AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                             CAST(b.embedding AS DOUBLE[])) >= 0.45)
        |ORDER BY vec_id""".stripMargin,

    // String 5-grams in SQL vs FNV-hashed grams in Spark: identical counts
    // up to 2^-64 hash collisions (dedup_ngram_jaccard convention).
    "decontaminate_ngram" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(w) <= 5 THEN [array_to_string(w, ' ')]
        |      ELSE list_transform(range(1, len(w) - 3), i -> array_to_string(list_slice(w, i, i + 4), ' ')) END) AS sh
        |  FROM t),
        |ev AS (SELECT list_distinct(flatten(list(sh))) AS egrams FROM g WHERE doc_id % 20 = 0)
        |SELECT g.doc_id,
        |  CAST(len(list_intersect(g.sh, ev.egrams)) AS BIGINT) AS contam_grams,
        |  len(list_intersect(g.sh, ev.egrams)) >= 1 AS contaminated
        |FROM g, ev ORDER BY g.doc_id""".stripMargin,

    "boilerplate_windows" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(w) <= 8 THEN [array_to_string(w, ' ')]
        |      ELSE list_transform(range(1, len(w) - 6), i -> array_to_string(list_slice(w, i, i + 7), ' ')) END) AS sh
        |  FROM t),
        |e AS (SELECT doc_id, unnest(sh) AS gram FROM g),
        |shared AS (SELECT gram FROM e GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
        |perdoc AS (SELECT e.doc_id, count(*) AS sw FROM e JOIN shared USING (gram) GROUP BY e.doc_id)
        |SELECT g.doc_id, CAST(len(g.sh) AS BIGINT) AS total_windows,
        |  CAST(coalesce(p.sw, 0) AS BIGINT) AS shared_windows,
        |  round(coalesce(p.sw, 0) * 1.0 / len(g.sh), 4) AS boiler_frac
        |FROM g LEFT JOIN perdoc p USING (doc_id)
        |ORDER BY g.doc_id""".stripMargin,

    // String windows stand in for the Spark side's FNV window hashes (the
    // dedup_ngram_jaccard convention); positions are 1-based here vs
    // 0-based in Spark, but the outputs (count + cleaned text) are
    // position-free so the two agree exactly.
    "boilerplate_strip" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(trim(text), ' ') AS w,
        |    list_transform(string_split(trim(text), ' '), x -> lower(x)) AS k
        |  FROM documents),
        |gr AS (
        |  SELECT doc_id, w, k,
        |    CASE WHEN len(k) <= 8 THEN [array_to_string(k, ' ')]
        |      ELSE list_transform(range(1, len(k) - 6), i -> array_to_string(list_slice(k, i, i + 7), ' ')) END AS grams
        |  FROM t),
        |e AS (SELECT doc_id, unnest(list_distinct(grams)) AS gram FROM gr),
        |shared AS (SELECT gram FROM e GROUP BY gram HAVING count(*) >= 2),
        |sh AS (SELECT coalesce(list(gram), CAST([] AS VARCHAR[])) AS sg FROM shared),
        |c AS (
        |  SELECT gr.doc_id, gr.w,
        |    list_distinct(flatten(list_transform(
        |      list_filter(range(1, len(gr.grams) + 1), i -> list_contains(sh.sg, gr.grams[i])),
        |      s -> range(s, s + least(8, len(gr.k)))))) AS covered
        |  FROM gr, sh)
        |SELECT doc_id, CAST(len(covered) AS BIGINT) AS n_removed,
        |  md5(coalesce(array_to_string(list_filter(w, (x, i) -> NOT list_contains(covered, i)), ' '), '')) AS clean_md5
        |FROM c ORDER BY doc_id""".stripMargin,

    // The boilerplate_strip refit at window 25 over the span-injected
    // corpus — same injection, same window algebra, whole-doc windows for
    // docs of <= 25 words.
    "dedup_exactsubstr" ->
      ("""WITH inj AS (
        |  SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN text || ' """ +
        "this document is provided as is without warranty of any kind " +
        "either express or implied including but not limited to the " +
        "implied warranties of merchantability and fitness for a " +
        "particular purpose" + """' ELSE text END AS text
        |  FROM documents),
        |t AS (
        |  SELECT doc_id, string_split(trim(text), ' ') AS w,
        |    list_transform(string_split(trim(text), ' '), x -> lower(x)) AS k
        |  FROM inj),
        |gr AS (
        |  SELECT doc_id, w, k,
        |    CASE WHEN len(k) <= 25 THEN [array_to_string(k, ' ')]
        |      ELSE list_transform(range(1, len(k) - 23), i -> array_to_string(list_slice(k, i, i + 24), ' ')) END AS grams
        |  FROM t),
        |e AS (SELECT doc_id, unnest(list_distinct(grams)) AS gram FROM gr),
        |shared AS (SELECT gram FROM e GROUP BY gram HAVING count(*) >= 2),
        |sh AS (SELECT coalesce(list(gram), CAST([] AS VARCHAR[])) AS sg FROM shared),
        |c AS (
        |  SELECT gr.doc_id, gr.w,
        |    list_distinct(flatten(list_transform(
        |      list_filter(range(1, len(gr.grams) + 1), i -> list_contains(sh.sg, gr.grams[i])),
        |      s -> range(s, s + least(25, len(gr.k)))))) AS covered
        |  FROM gr, sh)
        |SELECT doc_id, CAST(len(covered) AS BIGINT) AS n_removed,
        |  md5(coalesce(array_to_string(list_filter(w, (x, i) -> NOT list_contains(covered, i)), ' '), '')) AS clean_md5
        |FROM c ORDER BY doc_id""").stripMargin,

    // Same window-coverage construction run TWICE — once on lowercased
    // window keys (the case-folding default), once on verbatim words (the
    // byte-exact published rule) — over the per-doc case-varied planted
    // span (word i uppercased iff bit ((i-1) mod 13) of doc_id; DuckDB
    // lambda indices are 1-based where Spark's are 0-based).
    "dedup_exactsubstr_cs" ->
      ("""WITH inj AS (
        |  SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN text || ' ' ||
        |    array_to_string(list_transform(string_split('""" +
        "this document is provided as is without warranty of any kind " +
        "either express or implied including but not limited to the " +
        "implied warranties of merchantability and fitness for a " +
        "particular purpose" + """', ' '),
        |      (x, i) -> CASE WHEN CAST(floor(doc_id / (2.0 ** ((i - 1) % 13))) AS BIGINT) % 2 = 1
        |                THEN upper(x) ELSE x END), ' ')
        |    ELSE text END AS text
        |  FROM documents),
        |t AS (
        |  SELECT doc_id, string_split(trim(text), ' ') AS w,
        |    list_transform(string_split(trim(text), ' '), x -> lower(x)) AS k
        |  FROM inj),
        |gr AS (
        |  SELECT doc_id, w,
        |    CASE WHEN len(k) <= 25 THEN [array_to_string(k, ' ')]
        |      ELSE list_transform(range(1, len(k) - 23), i -> array_to_string(list_slice(k, i, i + 24), ' ')) END AS grams_ci,
        |    CASE WHEN len(w) <= 25 THEN [array_to_string(w, ' ')]
        |      ELSE list_transform(range(1, len(w) - 23), i -> array_to_string(list_slice(w, i, i + 24), ' ')) END AS grams_cs
        |  FROM t),
        |e_ci AS (SELECT doc_id, unnest(list_distinct(grams_ci)) AS gram FROM gr),
        |shared_ci AS (SELECT gram FROM e_ci GROUP BY gram HAVING count(*) >= 2),
        |sh_ci AS (SELECT coalesce(list(gram), CAST([] AS VARCHAR[])) AS sg FROM shared_ci),
        |e_cs AS (SELECT doc_id, unnest(list_distinct(grams_cs)) AS gram FROM gr),
        |shared_cs AS (SELECT gram FROM e_cs GROUP BY gram HAVING count(*) >= 2),
        |sh_cs AS (SELECT coalesce(list(gram), CAST([] AS VARCHAR[])) AS sg FROM shared_cs),
        |c AS (
        |  SELECT gr.doc_id, gr.w,
        |    list_distinct(flatten(list_transform(
        |      list_filter(range(1, len(gr.grams_ci) + 1), i -> list_contains(sh_ci.sg, gr.grams_ci[i])),
        |      s -> range(s, s + least(25, len(gr.w)))))) AS cov_ci,
        |    list_distinct(flatten(list_transform(
        |      list_filter(range(1, len(gr.grams_cs) + 1), i -> list_contains(sh_cs.sg, gr.grams_cs[i])),
        |      s -> range(s, s + least(25, len(gr.w)))))) AS cov_cs
        |  FROM gr, sh_ci, sh_cs)
        |SELECT doc_id, CAST(len(cov_ci) AS BIGINT) AS n_removed_ci,
        |  CAST(len(cov_cs) AS BIGINT) AS n_removed_cs,
        |  md5(coalesce(array_to_string(list_filter(w, (x, i) -> NOT list_contains(cov_cs, i)), ' '), '')) AS clean_cs_md5
        |FROM c ORDER BY doc_id""").stripMargin,

    "pii_redact" ->
      """WITH inj AS (
        |  SELECT doc_id, text || ' reach me at user' || CAST(doc_id AS VARCHAR)
        |    || '@example.com or +1-555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
        |    || '-0199 ssn 987-65-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |    || ' host 10.2.' || CAST(doc_id % 256 AS VARCHAR) || '.77 done' AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
        |  CAST(len(regexp_extract_all(t, '\+\d{1,3}-\d{3}-\d{3}-\d{4}')) AS BIGINT) AS n_phone,
        |  CAST(len(regexp_extract_all(t, '\b\d{3}-\d{2}-\d{4}\b')) AS BIGINT) AS n_ssn,
        |  CAST(len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ip,
        |  md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\+\d{1,3}-\d{3}-\d{3}-\d{4}', '<PHONE>', 'g'),
        |    '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g')) AS red_md5
        |FROM inj ORDER BY doc_id""".stripMargin
  )
}
