package graftbench

import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft._
import graft.core.{Persist, Sem, SemSettings}
import graft.embed.{HashingEmbedder, IvfIndex}
import graft.operators.{Dedup, LexIndex, Lexical}

/** Many small microbatches against three live indexes. Set-up builds a
  * lexical index, an IVF index and a dedup index over a base corpus. Each
  * operation ingests one microbatch (dedup against the index → append to
  * the dedup index → lexical append → IVF append; the commit latency runs
  * until the batch is searchable), deletes on every batch, compacts both
  * indexes on every `CompactEvery`-th, and runs `Queries` lexical and IVF
  * searches before the next commit. A run measures exactly one compaction
  * cycle, `CompactEvery` batches, whatever the time limit.
  */
final class IndexChurn(ctx: Ctx) extends Workload {
  import IndexChurn._
  val name = "index_churn"
  private val spark = ctx.spark
  import spark.implicits._

  private val churn = new Gen.Churn(ctx.seed, BaseDocs)
  private val embedder = HashingEmbedder(64)

  // Live state of the current round.
  private var root: java.nio.file.Path = _
  private var gen = 0
  private val live = mutable.LinkedHashMap.empty[Long, String]
  private var ingestedBytes = 0L
  private var lastCompacted = false

  // Per-phase latency samples (ms) and counts.
  private val commitMs = mutable.ArrayBuffer.empty[Double]
  private val searchMs = mutable.ArrayBuffer.empty[Double]
  private var deleted = 0L
  private var dropped = 0L

  private def lexPath = root.resolve(s"lex-$gen").toString
  private def ivfPath = root.resolve(s"ivf-$gen").toString
  private def dedupPath = root.resolve("dedup").toString

  def inputProps: Map[String, Any] = churn.props ++ Map(
    "ivf_cells" -> Cells, "ivf_probes" -> NProbe,
    "delete_ids_per_batch" -> DeleteIds, "compact_every" -> CompactEvery,
    "queries_per_batch" -> 2 * Queries)

  private def settings(tr: Tracer): SemSettings =
    Sem.settings.copy(embedder = if (tr.enabled) TimedEmbedder(embedder) else embedder)

  private def frame(docs: Seq[Gen.Doc]): DataFrame =
    docs.map(d => (d.id, d.text)).toDF("id", "text")

  def setup(r: Int): Unit = {
    root = ctx.work.resolve(s"churn-$r")
    gen = 0
    live.clear()
    churn.base.foreach(d => live(d.id) = d.text)
    ingestedBytes = churn.base.map(_.text.getBytes("UTF-8").length.toLong).sum
    Sem.withSettings(settings(Tracer.off)) {
      val base = frame(churn.base).repartition(4)
      LexIndex.save(base, "text", "id", lexPath)
      val (indexed, model) = IvfIndex.build(base, "text", Cells)
      IvfIndex.save(indexed, model, "text", "id", ivfPath)
      indexed.unpersist()
      Dedup.saveDedupIndex(base, "text", "id", dedupPath)
    }
    Workload.releaseBlocks(spark)
  }

  /** Each round builds three indexes (about 3 s), so fewer rounds. */
  override def setupRounds: Int = 3

  /** No warm-up batch: the three set-up rounds already ran the index
    * writers, and one more microbatch costs as much as a measured one.
    */
  def warmup(): Unit = ()

  def op(i: Int, tr: Tracer): OpOut = Sem.withSettings(settings(tr)) {
    val b = i
    val docs = churn.batch(b)
    val batch = frame(docs)
    ingestedBytes += docs.map(_.text.getBytes("UTF-8").length.toLong).sum
    val t0 = System.nanoTime()
    val survivors = tr.span("core.commit") {
      val kept = tr.span("operators.dedup.drop_against") {
        Persist.stage(Dedup.dropAgainstIndex(batch, "text", "id", dedupPath, threshold = 0.5))
      }
      tr.span("operators.dedup.append") { Dedup.appendToDedupIndex(kept, "text", "id", dedupPath) }
      tr.span("operators.lexical.append") { LexIndex.append(kept, "text", "id", lexPath) }
      tr.span("embed.ivf.append") { IvfIndex.append(kept, "text", "id", ivfPath) }
      kept
    }
    val commit = (System.nanoTime() - t0) / 1e6
    commitMs += commit
    // The client learns which documents it ingested, as an ingest API
    // would report them; the bench keeps them as its own truth.
    val keptIds = survivors.select("id").as[Long].collect().toSet
    val byId = docs.map(d => d.id -> d.text).toMap
    keptIds.foreach(id => live(id) = byId(id))
    dropped += docs.length - keptIds.size
    val r = new scala.util.Random(ctx.seed * 31L + b)
    val ids = live.keys.toIndexedSeq
    val victims = Seq.fill(DeleteIds)(ids(r.nextInt(ids.length))).distinct
    val del = victims.toDF("id")
    tr.span("operators.lexical.delete") { LexIndex.delete(del, "id", lexPath) }
    tr.span("embed.ivf.delete") { IvfIndex.delete(del, "id", ivfPath) }
    victims.foreach(live.remove)
    deleted += victims.length
    lastCompacted = b % CompactEvery == 0
    if (lastCompacted) {
      val (lexOld, ivfOld) = (lexPath, ivfPath)
      gen += 1
      tr.span("operators.lexical.compact") { LexIndex.compactDeletes(spark, lexOld, lexPath) }
      tr.span("embed.ivf.compact") { IvfIndex.compactDeletes(spark, ivfOld, ivfPath) }
      Workload.deleteTree(java.nio.file.Paths.get(lexOld))
      Workload.deleteTree(java.nio.file.Paths.get(ivfOld))
    }
    (0 until Queries).foreach { q =>
      val query = churn.query(b, q)
      val s0 = System.nanoTime()
      tr.span("operators.lexical.search") { LexIndex.search(spark, lexPath, query, K).collect() }
      val s1 = System.nanoTime()
      tr.span("embed.ivf.search") {
        val (cells, model) = IvfIndex.load(spark, ivfPath)
        val qv = Sem.settings.embedder.embedOne(query).toSeq
        IvfIndex.search(cells, model, "text", qv, K, nProbe = NProbe).collect()
      }
      val s2 = System.nanoTime()
      searchMs += (s1 - s0) / 1e6
      searchMs += (s2 - s1) / 1e6
    }
    OpOut(docs.length.toLong, commit)
  }

  def check(i: Int): Checks =
    if (lastCompacted) checkpoint(i) else Checks.none

  /** Index answers against brute force over the bench's own live snapshot.
    * Right after a compaction the lexical statistics are exact, so BM25
    * over the snapshot must give the same ranking and scores.
    */
  private def checkpoint(b: Int): Checks = Sem.withSettings(settings(Tracer.off)) {
    val snapshot = live.toSeq.toDF("id", "text").cache()
    val (cells, model) = IvfIndex.load(spark, ivfPath)
    val out = (0 until Queries).map { q =>
      val query = churn.query(b, q)
      val lex = Checks.of(s"LexIndex.search equals bm25Search (batch $b, '$query')") {
        val got = LexIndex.search(spark, lexPath, query, K).collect()
          .map(r => (r.getLong(0), r.getDouble(1)))
        val want = Lexical.bm25Search(snapshot, "text", query, K, tieBreak = Seq(col("id")))
          .select("id", "bm25").collect().map(r => (r.getLong(0), r.getDouble(1)))
        sameRanking(got.toSeq, want.toSeq)
      }
      val qv = Sem.settings.embedder.embedOne(query).toSeq
      val ivf = Checks.of(s"IvfIndex.search with all cells equals semSearchVec (batch $b, '$query')") {
        val got = IvfIndex.search(cells, model, "text", qv, K, nProbe = model.nCells,
          tieBreak = Seq(col("id"))).select("id", "vec_scores").collect()
          .map(r => (r.getLong(0), r.getDouble(1)))
        val want = snapshot.semSearchVec("text", qv, K, tieBreak = Seq(col("id")))
          .select("id", "vec_scores").collect().map(r => (r.getLong(0), r.getDouble(1)))
        sameRanking(got.toSeq, want.toSeq)
      }
      lex ++ ivf
    }.reduce(_ ++ _)
    snapshot.unpersist()
    out
  }

  /** One commit takes seconds, so a time limit would measure a host-speed
    * dependent number of them, each with a different mix of delete and
    * compaction work. Batch 0 compacts, so every run reaches a checkpoint.
    */
  override def fixedOps: Option[Int] = Some(CompactEvery)

  override def extras: Map[String, Any] = {
    val commitTail = Trace.tail(commitMs)
    val searchTail = Trace.tail(searchMs)
    val indexBytes = Seq(lexPath, ivfPath, dedupPath)
      .map(p => Workload.treeBytes(java.nio.file.Paths.get(p))).sum
    Map(
      "commit_p50_ms" -> Trace.median(commitMs),
      "commit_tail_ms" -> commitTail.map(_.value),
      "commit_tail_percentile" -> commitTail.map(_.label),
      "commit_samples" -> commitMs.length,
      "search_p50_ms" -> Trace.median(searchMs),
      "search_tail_ms" -> searchTail.map(_.value),
      "search_tail_percentile" -> searchTail.map(_.label),
      "search_samples" -> searchMs.length,
      "index_bytes_per_input_byte" -> indexBytes.toDouble / ingestedBytes,
      "docs_deleted" -> deleted,
      "docs_dropped_as_duplicates" -> dropped,
      "live_docs" -> live.size)
  }

  override def resetPhase(): Unit = {
    commitMs.clear(); searchMs.clear(); deleted = 0L; dropped = 0L
  }
}

object IndexChurn {
  val BaseDocs = 400
  val Cells = 16
  val NProbe = 4
  val K = 10
  val Queries = 1
  val DeleteIds = 4
  val CompactEvery = 2

  /** Same ids in the same order, scores equal to 1e-9 relative; ids whose
    * scores tie within that tolerance may swap places.
    */
  def sameRanking(got: Seq[(Long, Double)], want: Seq[(Long, Double)]): Boolean = {
    def close(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
    got.length == want.length && got.zip(want).forall { case (g, w) => close(g._2, w._2) } && {
      val boundary = want.lastOption.map(_._2)
      val gotIds = got.map(_._1).toSet
      val wantIds = want.map(_._1).toSet
      // Ids may differ only among entries tied with the last score.
      (gotIds diff wantIds).forall(id => got.find(_._1 == id).exists(g => boundary.exists(close(g._2, _)))) &&
      (wantIds diff gotIds).forall(id => want.find(_._1 == id).exists(w => boundary.exists(close(w._2, _))))
    }
  }
}
