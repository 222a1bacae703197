package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** BM25 lexical (keyword) search — the sparse-retrieval sibling of the dense
  * `semSearch` tier, the standard first-stage retriever of public hybrid
  * search pipelines (Robertson & Zaragoza, "The Probabilistic Relevance
  * Framework: BM25 and Beyond", 2009).
  *
  * Two tiers, mirroring the dense-search design (`embed/IvfIndex.scala`):
  *
  *   - [[bm25Search]]: ad-hoc scoring over a corpus frame. Because the query
  *     terms are a small literal set, per-document term frequencies are
  *     per-row codegen'd expressions — NO corpus-wide explode, no posting
  *     shuffle. Cost = one tiny stats aggregate + one scoring scan with
  *     TakeOrderedAndProject top-k. That is the 100 TB shape for a one-off
  *     query: two passes over the text column and nothing else.
  *
  *   - [[LexIndex]]: a durable inverted index (term → postings) saved as
  *     parquet PARTITIONED BY a term hash bucket, so a query reads only the
  *     buckets its terms hash to (partition pruning, same trick as the IVF
  *     cell layout). Amortizes the corpus scan across many queries.
  *
  * All math is double-precision and evaluated in a fixed left-to-right term
  * order so a DuckDB oracle reproduces scores bit-for-bit (modulo libm ulp).
  */
object Lexical {

  /** Lowercased whitespace tokens (empty array for blank text) — the same
    * tokenization convention as `TextFunctions`/`Dedup`, so oracles can use
    * `string_split(lower(trim(text)), ' ')`.
    */
  def tokens(c: Column): Column =
    when(length(trim(c)) === 0, array().cast("array<string>"))
      .otherwise(split(lower(trim(c)), "\\s+"))

  /** Parse a free-text query into distinct lowercase terms (order kept). */
  def queryTerms(query: String): Seq[String] =
    query.toLowerCase.trim.split("\\s+").filter(_.nonEmpty).distinct.toSeq

  /** Robertson idf with the +1 floor (Lucene's variant — always positive):
    * ln(1 + (N − df + 0.5)/(df + 0.5)).
    */
  private def idf(n: Column, df: Column): Column =
    log(lit(1.0) + (n - df + lit(0.5)) / (df + lit(0.5)))

  /** One term's BM25 contribution given tf, doc length and corpus stats. */
  private[operators] def termScore(tf: Column, dl: Column, n: Column, sumDl: Column,
      df: Column, k1: Double, b: Double): Column = {
    val avgdl = sumDl / n
    idf(n, df) * tf * lit(k1 + 1.0) /
      (tf + lit(k1) * (lit(1.0) - b + lit(b) * dl / avgdl))
  }

  /** Score `df` against `query` and return the top `k` rows (all original
    * columns + `scoreCol`), ordered score-desc then `tieBreak`.
    *
    * Plan shape: tf per query term is `size(filter(tokens, _ == term))` —
    * codegen'd, per-row; corpus stats (N, Σdl, df per term) are ONE
    * single-row aggregate broadcast back via cross join; the final top-k is
    * TakeOrderedAndProject. No explode, no posting-list shuffle, no driver
    * collect of anything bigger than the one stats row.
    */
  def bm25Search(df: DataFrame, textCol: String, query: String, k: Int,
      scoreCol: String = "bm25", tieBreak: Seq[Column] = Seq.empty,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val terms = queryTerms(query)
    require(terms.nonEmpty, "bm25Search: query has no terms")
    // Both the stats aggregate and the scoring pass re-tokenize every row
    // — a compactly-written corpus (few files) would otherwise run both
    // CPU-heavy scans on as many cores as it has files.
    val base = graft.core.Parallelism.spread(df)
      .withColumn("__toks", tokens(col(textCol)))
      .withColumn("__dl", size(col("__toks")).cast("double"))
    val withTf = terms.zipWithIndex.foldLeft(base) { case (d, (t, i)) =>
      d.withColumn(s"__tf$i",
        size(filter(col("__toks"), w => w === lit(t))).cast("double"))
    }.drop("__toks")
    val statCols =
      Seq(count(lit(1)).cast("double").as("__n"),
        sum(col("__dl")).cast("double").as("__sumdl")) ++
      terms.indices.map(i =>
        sum(when(col(s"__tf$i") > 0, 1).otherwise(0)).cast("double").as(s"__df$i"))
    val stats = withTf.agg(statCols.head, statCols.tail: _*)
    // Left-to-right fold fixes IEEE addition order — the oracle writes the
    // same + chain, so doubles agree bit-for-bit.
    val score = terms.indices.map { i =>
      termScore(col(s"__tf$i"), col("__dl"), col("__n"), col("__sumdl"),
        col(s"__df$i"), k1, b)
    }.reduce(_ + _)
    withTf.crossJoin(broadcast(stats))
      .withColumn(scoreCol, score)
      .filter(col(scoreCol) > 0)
      .select((df.columns.map(col) :+ col(scoreCol)): _*)
      .orderBy(col(scoreCol).desc +: tieBreak: _*)
      .limit(k)
  }

  /** Reciprocal-rank fusion (Cormack et al., SIGIR 2009) of already-ranked
    * retrieval lists — the standard way to combine this BM25 tier with the
    * dense `semSearch` tier into hybrid search. Each input frame is
    * `(idCol, scoreCol)`; fused score = Σ_lists 1/(k + rank).
    *
    * Inputs are top-k lists (bounded — a global rank window over ≤ a few
    * hundred rows, not a corpus-wide sort), so the single-partition window
    * is safe by construction; the corpus-scale work happened inside the
    * retrievers.
    */
  /** Top-k TF-IDF terms per document — corpus keyword/feature extraction
    * (tf × ln(N/df), the classic weighting of Salton & Buckley 1988). Plan:
    * the same explode + (id, term) groupBy as the index build, a term-keyed
    * df aggregate joined back, and a per-doc rank that lowers to two-phase
    * WindowGroupLimit (≤ k rows per doc cross the final exchange). `nDocs`
    * avoids a count job when the caller already knows it. Every score is a
    * single product of exact per-term values — no accumulation order, so a
    * SQL oracle reproduces it bit-for-bit.
    */
  def tfidfTopTerms(df: DataFrame, textCol: String, idCol: String, k: Int,
      scoreCol: String = "tfidf", nDocs: Long = -1L): DataFrame = {
    require(k >= 1, s"k $k must be >= 1")
    val n = (if (nDocs > 0) nDocs else df.count()).toDouble
    val post = graft.core.Parallelism.spread(df)
      .select(col(idCol).as("id"), explode(tokens(col(textCol))).as("term"))
      .groupBy("id", "term").agg(count(lit(1)).cast("double").as("tf"))
    val dfs = post.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col(scoreCol).desc, col("term"))
    post.join(dfs, "term")
      .withColumn(scoreCol, col("tf") * log(lit(n) / col("df")))
      .withColumn("__r", row_number().over(w))
      .filter(col("__r") <= k).drop("__r", "tf", "df")
      .select(col("id"), col("term"), col(scoreCol))
  }

  def rrfFuse(lists: Seq[DataFrame], idCol: String, scoreCol: String,
      k: Int = 60, topK: Int = 10, fusedCol: String = "rrf"): DataFrame = {
    require(lists.nonEmpty, "rrfFuse: no input lists")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col(scoreCol).desc, col(idCol))
    val ranked = lists.map(df =>
      df.select(col(idCol), row_number().over(w).as("__r")))
    ranked.reduce(_ unionAll _)
      .groupBy(col(idCol))
      .agg(sum(lit(1.0) / (lit(k.toDouble) + col("__r"))).as(fusedCol))
      .orderBy(col(fusedCol).desc, col(idCol))
      .limit(topK)
  }
}

/** Durable inverted index for BM25: postings parquet partitioned by a term
  * hash bucket + a doc-length table + one tiny stats JSON. Search reads only
  * the partitions the query terms hash to — the same partition-pruning
  * layout as the saved IVF index (`IvfIndex.save`), applied to sparse
  * retrieval. At 100 TB a query touches nTerms/nBuckets of the postings,
  * not the corpus.
  *
  * The bucket count comes from the data unless the caller fixes it: one
  * bucket per 16 MB of estimated input, at most 64
  * (`graft.core.Parallelism.directories`). A small index is one directory,
  * so its appends write a few files and its reads start no parallel
  * listing job; an index estimated above 64 × 16 MB keeps the full
  * 64-directory layout and its pruning.
  */
object LexIndex {

  val bucketCol = "__term_bucket"

  /** The cap of the data-sized bucket count. */
  private val maxBuckets = 64

  private def bucketOf(term: Column, nBuckets: Int): Column =
    pmod(xxhash64(term), lit(nBuckets.toLong)).cast("int")

  /** The buckets `terms` hash to — `bucketOf`'s xxhash64 (seed 42) computed
    * on the driver, so no job runs just to learn which partitions to prune.
    */
  private def bucketsOf(terms: Seq[String], nBuckets: Int): Seq[Int] =
    terms.map { t =>
      val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
        org.apache.spark.unsafe.types.UTF8String.fromString(t),
        org.apache.spark.sql.types.StringType, 42L)
      math.floorMod(h, nBuckets.toLong).toInt
    }.distinct

  /** The saved postings, refusing the pre-denormalization layout loudly:
    * dl-less posting files would surface null doc lengths and silently zero
    * old docs' score contributions (an append beside them, or a search).
    */
  private def readPostings(spark: SparkSession, path: String,
      what: String): DataFrame = {
    val post = graft.core.BatchCommit.readData(spark, path, "postings")
    require(post.columns.contains("dl"),
      s"$what: $path uses the legacy postings layout (no dl column) — rebuild with save()")
    post
  }

  /** Build postings `(term, id, tf, dl, bucket)` — one explode + one groupBy
    * (term, id): the canonical index-build shuffle, paid once per corpus.
    * The doc length is DENORMALIZED into every posting row (the standard
    * inverted-index layout): +8 bytes per posting buys searches that never
    * touch a corpus-sized doc-length table — a pruned-bucket read is the
    * whole query-time IO.
    */
  def postings(df: DataFrame, textCol: String, idCol: String,
      nBuckets: Int): DataFrame =
    postingsFromPerDoc(perDocFrame(df, textCol, idCol), nBuckets)

  /** `(id, dl, __toks)` per document — tokenize once: size and explode both
    * read the projected array; a second split() of every document doubles
    * the build's scan cost.
    */
  private def perDocFrame(df: DataFrame, textCol: String,
      idCol: String): DataFrame =
    graft.core.Parallelism.spread(df)
      .select(col(idCol).as("id"), Lexical.tokens(col(textCol)).as("__toks"))
      .select(col("id"), size(col("__toks")).cast("double").as("dl"),
        col("__toks"))

  private def postingsFromPerDoc(perDoc: DataFrame, nBuckets: Int): DataFrame =
    perDoc
      .select(col("id"), col("dl"), explode(col("__toks")).as("term"))
      .groupBy(col("term"), col("id"), col("dl"))
      .agg(count(lit(1)).cast("double").as("tf"))
      .withColumn(bucketCol, bucketOf(col("term"), nBuckets))

  /** Doc lengths `(id, dl)` — build-time stats input (n, Σdl cover docs with
    * zero tokens too, which have no posting rows).
    */
  def docLengths(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol).as("id"),
      size(Lexical.tokens(col(textCol))).cast("double").as("dl"))

  /** Parse the stats sidecar: `(n, sumdl, nBuckets, nEmpty)`. One parser —
    * what [[append]] updates is exactly what [[search]] reads; a format
    * change that misses a site fails here loudly, not as drifted scores.
    * `nEmpty` (zero-token docs — they have no postings and can never match)
    * defaults to 0 for sidecars written before the field existed.
    */
  private def readStats(path: String): (Double, Double, Int, Double) = {
    val stats = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path, "stats.json")),
      java.nio.charset.StandardCharsets.UTF_8)
    def fieldOpt(name: String): Option[Double] =
      s""""$name":([-0-9.eE]+)""".r.findFirstMatchIn(stats)
        .map(_.group(1).toDouble)
    def field(name: String): Double =
      fieldOpt(name).getOrElse(sys.error(s"LexIndex stats.json missing $name"))
    (field("n"), field("sumdl"), field("nBuckets").toInt,
      fieldOpt("nEmpty").getOrElse(0.0))
  }

  /** Corpus totals for the sidecar: `(docCount, Σ dl, emptyDocCount)` in one
    * tiny agg. The empty-doc count lets [[describe]] distinguish "doc with
    * no postings by construction" from deletion-induced staleness.
    */
  private def docStats(df: DataFrame, textCol: String,
      idCol: String): (Double, Double, Double) = {
    val r = docLengths(df, textCol, idCol)
      .agg(count(lit(1)).cast("double"), sum(col("dl")).cast("double"),
        sum(when(col("dl") === 0, 1).otherwise(0)).cast("double")).head()
    (r.getDouble(0), if (r.isNullAt(1)) 0.0 else r.getDouble(1),
      if (r.isNullAt(2)) 0.0 else r.getDouble(2))
  }

  /** Atomically (re)write the stats sidecar (temp + rename — a reader never
    * sees a torn file).
    */
  private def writeStats(path: String, n: Double, sumdl: Double, nBuckets: Int,
      nEmpty: Double): Unit = {
    val statsPath = java.nio.file.Paths.get(path, "stats.json")
    val tmp = statsPath.resolveSibling("stats.json.tmp")
    java.nio.file.Files.write(tmp,
      s"""{"n":$n,"sumdl":$sumdl,"nBuckets":$nBuckets,"nEmpty":$nEmpty}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(tmp, statsPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Overwrite `dest` with bucket-partitioned `post`. More than
    * [[fewBuckets]] buckets shuffle by bucket, one file per directory. Up
    * to that many, each of the input's tasks writes its own file per
    * bucket: a shuffle by so few bucket ids leaves most cores idle, or
    * puts every row in one task when the ids hash together. On 4 cores,
    * compacting a 21 MB index into 2 buckets took 4.3–5.0 s with the
    * shuffle and 3.1–3.4 s without it (3.4–3.6 s into 16 buckets).
    */
  private def writeBuckets(post: DataFrame, nBuckets: Int, dest: String): Unit =
    (if (nBuckets > fewBuckets) post.repartition(col(bucketCol)) else post)
      .write.mode("overwrite").partitionBy(bucketCol).parquet(dest)

  private val fewBuckets = 4

  /** Give an index with no posting rows its postings schema on disk: a
    * partitioned write of zero rows leaves no data file, and every later
    * read of the directory would fail to infer a schema. One empty file in
    * bucket 0 carries it, so search, describe and append see an empty
    * index. Runs only when the caller's stats show no postings.
    */
  private def writeEmptyPostings(post: DataFrame, dest: String): Unit =
    post.drop(bucketCol).limit(0).write.mode("overwrite")
      .parquet(s"$dest/$bucketCol=0")

  /** Write the index: bucket-partitioned postings (doc length denormalized
    * in), stats JSON (`{"n":…,"sumdl":…,"nBuckets":…}` — driver-side, tiny).
    *
    * `nBuckets` 0 (the default) sizes the bucket count from `df`'s plan
    * estimate: `ceil(estimate / 16 MB)`, clamped to `[1, 64]`; a positive
    * value is kept as given. [[append]], [[search]] and [[describe]] follow
    * the count the sidecar records. An explicit count does not survive
    * [[compactDeletes]], which re-derives it from the postings.
    *
    * The corpus stats (n, Σdl, empty docs) are observed INSIDE the postings
    * write via `Dataset.observe` on the per-document frame (above the
    * explode, so each document counts once): one corpus scan builds the
    * index AND its sidecar, where a separate [[docStats]] job re-tokenized
    * every document a second time — at 100 TB that second scan was half the
    * save's cost. Observed metrics are exact for successful queries
    * (SPARK-29345); if the write path ever fails to surface them, the
    * [[docStats]] scan runs as the fallback, so the sidecar can never be
    * silently wrong.
    */
  def save(df: DataFrame, textCol: String, idCol: String, path: String,
      nBuckets: Int = 0): Unit = {
    require(nBuckets >= 0, s"LexIndex.save: nBuckets $nBuckets must be >= 0")
    val buckets =
      if (nBuckets > 0) nBuckets
      else graft.core.Parallelism.directories(df, maxBuckets, s"LexIndex.save($path) buckets")
    val obs = org.apache.spark.sql.Observation("lex_save_stats")
    val perDoc = perDocFrame(df, textCol, idCol)
      .observe(obs,
        count(lit(1)).cast("double").as("n"),
        coalesce(sum(col("dl")), lit(0.0)).as("sumdl"),
        coalesce(sum(when(col("dl") === 0, 1).otherwise(0)).cast("double"),
          lit(0.0)).as("nEmpty"))
    writeBuckets(postingsFromPerDoc(perDoc, buckets), buckets,
      path + "/postings")
    // obs.get blocks until the write's QueryExecution event delivers the
    // metrics — guard with a timeout so a Spark version that stopped
    // surfacing observed metrics for V1 writes degrades to the fallback
    // scan instead of hanging the save.
    val observed: Map[String, Any] = try {
      val fut = scala.concurrent.Future(obs.get)(
        scala.concurrent.ExecutionContext.global)
      scala.concurrent.Await.result(fut,
        scala.concurrent.duration.Duration(10, "s"))
    } catch {
      case _: java.util.concurrent.TimeoutException => Map.empty
    }
    val (n, sumdl, nEmpty) =
      if (observed.nonEmpty)
        (observed("n").asInstanceOf[Double],
          observed("sumdl").asInstanceOf[Double],
          observed("nEmpty").asInstanceOf[Double])
      else {
        // LOUD: the fallback re-tokenizes the whole corpus — at scale that
        // doubles the save. A deployment where metric delivery is
        // persistently slow must see this in its logs, not infer it from
        // save times.
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"LexIndex.save($path): observed write metrics did not arrive " +
            "within 10 s — falling back to a second full corpus scan for " +
            "the stats sidecar (the save just paid tokenize twice)")
        docStats(df, textCol, idCol)
      }
    if (n == nEmpty) writeEmptyPostings(
      postings(df, textCol, idCol, buckets), path + "/postings")
    writeStats(path, n, sumdl, buckets, nEmpty)
    // A rebuild supersedes any interrupted append — clear its dangling mark.
    graft.core.BatchCommit.clearMark(df.sparkSession, path)
  }

  /** Append new documents to a saved index without a rebuild — the sparse
    * sibling of `IvfIndex.append`: postings for the new batch land in the
    * SAME term hash buckets (nBuckets from the stats sidecar) via
    * dynamic-partition append, and the corpus stats (n, Σdl) update in the
    * sidecar so BM25's idf/avgdl reflect the grown corpus. Cost: one
    * tokenize + postings shuffle over the NEW batch; the existing postings
    * are never read. Caller contract: ids must be new (append does not
    * dedup — run the dedup index first on a growing crawl).
    *
    * Crash-safe: the whole append runs under the
    * [[graft.core.BatchCommit]] two-phase mark — a crash anywhere (during
    * the postings commit, or between it and the stats move) is recovered by
    * RE-RUNNING THE SAME BATCH, which converges exactly-once on the clean
    * result; a replay of a fully committed batch is a no-op. The begin mark
    * pins the pre-append (n, Σdl), so a crash after the stats move cannot
    * double-count the batch on recovery.
    */
  def append(df: DataFrame, textCol: String, idCol: String, path: String): Unit = {
    val spark = df.sparkSession
    val statsPath = java.nio.file.Paths.get(path, "stats.json")
    require(java.nio.file.Files.exists(statsPath),
      s"LexIndex.append: no index at $path (missing stats.json)")
    readPostings(spark, path, "LexIndex.append")
    val (_, _, nBuckets, _) = readStats(path)
    // The preflight job also sums the batch's stats delta (Σdl, empty docs).
    val pre = graft.core.BatchCommit.preflight(docLengths(df, textCol, idCol),
      "id", graft.core.BatchCommit.readTombstones(spark, path),
      sum(col("dl")).cast("double"),
      sum(when(col("dl") === 0, 1).otherwise(0)).cast("double"))
    graft.core.BatchCommit.appendExactlyOnce(spark, path, "postings", pre,
      graft.core.BatchCommit.tombstonedRefusal("LexIndex.append", path),
      sidecarState = {
        val (n0, sumdl0, _, nEmpty0) = readStats(path)
        Map("n0" -> n0, "sumdl0" -> sumdl0, "nEmpty0" -> nEmpty0)
      },
      writeStaged = staging =>
        postings(df, textCol, idCol, nBuckets)
          .repartition(col(bucketCol))
          .write.mode("overwrite").partitionBy(bucketCol)
          .parquet(staging),
      updateSidecar = p =>
        writeStats(path, p("n0") + pre.rows, p("sumdl0") + pre.extra.getDouble(0),
          nBuckets, p.getOrElse("nEmpty0", 0.0) + pre.extra.getDouble(1)))
  }

  /** Delete documents from a saved index without rewriting postings —
    * tombstones under the shared [[graft.core.BatchCommit]] protocol
    * (content-token batch dirs, idempotent replay, O(batch) write, zero
    * index IO). [[search]] subtracts tombstoned docs' postings, so deleted
    * documents can never be returned; like Lucene before a merge, the
    * COLLECTION stats (n, Σdl → idf/avgdl) stay stale until
    * [[compactDeletes]] — per-term df is already fresh (it is computed
    * from the surviving postings at query time). Returns the number of
    * distinct ids tombstoned.
    */
  def delete(df: DataFrame, idCol: String, path: String): Long = {
    require(java.nio.file.Files.exists(java.nio.file.Paths.get(path, "stats.json")),
      s"LexIndex.delete: no index at $path (missing stats.json)")
    // Postings carry the id under the canonical "id" column — normalize so
    // the reader-side anti-join lines up whatever the caller's idCol was.
    graft.core.BatchCommit.writeTombstones(
      df.select(col(idCol).as("id")), "id", path)
  }

  /** Rewrite a tombstoned index at `dest` without the deleted postings and
    * with EXACT recomputed stats — never in place (a crashed compaction
    * leaves `src` untouched). Stats are recomputed from the surviving
    * postings ((n, Σdl) over distinct ids), which equals a fresh
    * [[save]] on the surviving documents — except that zero-token
    * documents (which have no postings and can never match a query) drop
    * out of n; document-count consumers of stats.json should prefer the
    * corpus over a compacted index.
    *
    * The bucket count is re-derived by [[save]]'s rule (capped at 64), not
    * copied from `src`, so an explicit count given to [[save]] is dropped:
    * an index that grew by appends re-buckets here, and one that shrank
    * merges its directories. The estimate is of the surviving postings,
    * not of the documents [[save]] sized from, and postings run larger, so
    * a compaction may pick more buckets than the save did even when
    * nothing was deleted.
    */
  def compactDeletes(spark: SparkSession, src: String, dest: String): Unit = {
    require(src != dest, "LexIndex.compactDeletes: dest must differ from src (no in-place rewrite)")
    graft.core.BatchCommit.requireClean(spark, src, "LexIndex")
    val post = graft.core.BatchCommit.subtractTombstones(spark, src,
      graft.core.BatchCommit.readData(spark, src, "postings"))
    val nBuckets = graft.core.Parallelism.directories(post, maxBuckets,
      s"LexIndex.compactDeletes($dest) buckets")
    val bucketed = post.withColumn(bucketCol, bucketOf(col("term"), nBuckets))
    writeBuckets(bucketed, nBuckets, s"$dest/postings")
    val r = post.groupBy("id").agg(first(col("dl")).as("dl"))
      .agg(count(lit(1)).cast("double"), sum(col("dl")).cast("double")).head()
    if (r.getDouble(0) == 0.0) writeEmptyPostings(bucketed, s"$dest/postings")
    // Zero-token docs have no postings, so they drop out of the recomputed
    // n entirely — the compacted sidecar has no empty docs by construction.
    writeStats(dest, r.getDouble(0), if (r.isNullAt(1)) 0.0 else r.getDouble(1),
      nBuckets, nEmpty = 0.0)
  }

  /** Index observability — the sparse sibling of `IvfIndex.describe`:
    * live docs and postings (tombstones subtracted), distinct terms,
    * bucket count, pending tombstones, and the STALENESS of the sidecar
    * stats (sidecar n minus sidecar empty-doc count minus live docs —
    * zero on a fresh index even when the corpus holds posting-less empty
    * docs, then grows with deletions until [[compactDeletes]]; idf/avgdl
    * drift with it, the Lucene pre-merge contract made visible).
    */
  final case class LexIndexInfo(docs: Long, postings: Long, terms: Long,
      nBuckets: Int, tombstoned: Long, statsDocsStale: Double)

  def describe(spark: SparkSession, path: String): LexIndexInfo = {
    graft.core.BatchCommit.requireClean(spark, path, "LexIndex")
    val (n, _, nBuckets, nEmpty) = readStats(path)
    val post = graft.core.BatchCommit.subtractTombstones(spark, path,
      graft.core.BatchCommit.readData(spark, path, "postings"))
    val r = post.agg(count(lit(1)), countDistinct(col("id")),
      countDistinct(col("term"))).head()
    val tomb = graft.core.BatchCommit.readTombstones(spark, path)
      .map(_.count()).getOrElse(0L)
    LexIndexInfo(r.getLong(1), r.getLong(0), r.getLong(2), nBuckets, tomb,
      n - nEmpty - r.getLong(1))
  }

  /** The saved postings of `terms`, each row carrying its BM25 contribution
    * `__s` — the one scoring path of [[search]] and [[searchBatch]]. Reads
    * stats.json (driver, bytes) and the postings partitions of the terms'
    * buckets (pruned scan) — nothing else; doc lengths ride inside the
    * posting rows and document frequencies come from the pruned postings
    * themselves, so query cost is independent of corpus size.
    */
  private def scoredPostings(spark: SparkSession, path: String,
      terms: Seq[String], k1: Double, b: Double, what: String): DataFrame = {
    // An interrupted append means the stats may be stale by its batch and
    // the postings may hold a partial batch — scores would silently drift.
    graft.core.BatchCommit.requireClean(spark, path, "LexIndex")
    val (n, sumdl, nBuckets, _) = readStats(path)
    // Deleted docs' postings are subtracted ABOVE the pruned scan, so they
    // can never score; per-term df below is therefore survivor-fresh, while
    // (n, avgdl) stay stale until compactDeletes — the Lucene contract.
    val post = graft.core.BatchCommit.subtractTombstones(spark, path,
      readPostings(spark, path, what)
        .filter(col(bucketCol).isin(bucketsOf(terms, nBuckets): _*) &&
          col("term").isin(terms: _*)))
    val dfs = post.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    // lit(sumdl) / lit(n) folds to the constant avgdl. An index of no
    // documents (n = 0) has no postings to score, but the fold of 0 / 0
    // would still fail the plan, so it divides by 1 instead.
    post.join(broadcast(dfs), "term")
      .withColumn("__s", Lexical.termScore(col("tf"), col("dl"),
        lit(math.max(n, 1.0)), lit(sumdl), col("df"), k1, b))
  }

  /** Search a saved index ([[scoredPostings]]). Returns `(id, scoreCol)`
    * top-k.
    */
  def search(spark: SparkSession, path: String, query: String, k: Int,
      scoreCol: String = "bm25", k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val terms = Lexical.queryTerms(query)
    require(terms.nonEmpty, "LexIndex.search: query has no terms")
    scoredPostings(spark, path, terms, k1, b, "LexIndex.search")
      .groupBy("id").agg(sum(col("__s")).as(scoreCol))
      .orderBy(col(scoreCol).desc, col("id"))
      .limit(k)
  }

  /** Batch retrieval: top-k per query for a WHOLE query set in one job —
    * the eval/RAG workload ([[search]] per query would be Q driver-
    * scheduled jobs). The queries tokenize on the driver (a bounded tuning/
    * eval set), the postings scan prunes to the UNION of all queries' term
    * buckets, per-term df is computed once and shared, and the (query,
    * term) table broadcasts into the postings join to fan each posting out
    * to the queries containing its term. Per-query top-k lowers to
    * WindowGroupLimit, so map tasks keep ≤ k rows per query before the one
    * shuffle on the query id. Returns `(qid, id, scoreCol)`.
    */
  def searchBatch(spark: SparkSession, path: String,
      queries: Seq[(Long, String)], k: Int, scoreCol: String = "bm25",
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queries.nonEmpty, "LexIndex.searchBatch: no queries")
    val termsByQ = queries.map { case (qid, q) => (qid, Lexical.queryTerms(q)) }
    termsByQ.foreach { case (qid, ts) =>
      require(ts.nonEmpty, s"LexIndex.searchBatch: query $qid has no terms")
    }
    val allTerms = termsByQ.flatMap(_._2).distinct
    import spark.implicits._
    val qt = termsByQ.flatMap { case (qid, ts) => ts.map(t => (qid, t)) }
      .toDF("__qid", "term")
    val perPost = scoredPostings(spark, path, allTerms, k1, b,
      "LexIndex.searchBatch").join(broadcast(qt), "term")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col(scoreCol).desc, col("id"))
    perPost.groupBy(col("__qid").as("qid"), col("id"))
      .agg(sum(col("__s")).as(scoreCol))
      .withColumn("__rank", row_number().over(w))
      .filter(col("__rank") <= k)
      .drop("__rank")
  }
}
