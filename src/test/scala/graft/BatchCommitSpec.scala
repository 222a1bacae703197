package graft

import org.apache.spark.sql.functions._
import graft.core.BatchCommit
import graft.operators.{Dedup, LexIndex}

/** Crash-recovery contract of the exactly-once batch-append protocol
  * (`core/BatchCommit.scala`): every crash window of an append — mid data
  * commit, between data and sidecar, between sidecar and done-mark — must be
  * recovered by RE-RUNNING THE SAME BATCH, converging on exactly the clean
  * result; committed batches replay as no-ops; readers and other batches
  * refuse a dangling begin.
  */
class BatchCommitSpec extends SparkSpec {
  import spark.implicits._

  private def corpusA = Seq(
    (1L, "spark join window functions"),
    (2L, "spark streaming watermark state")
  ).toDF("doc_id", "text")

  private def batchB = Seq(
    (3L, "window aggregation over events"),
    (4L, "join strategies broadcast shuffle")
  ).toDF("doc_id", "text")

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/idx"

  private def searchRows(path: String): Seq[(Long, Double)] =
    LexIndex.search(spark, path, "spark window join", k = 10)
      .as[(Long, Double)].collect().sortBy(_._1).toSeq

  private def controlRows: Seq[(Long, Double)] = {
    val p = tmp("lex_control")
    LexIndex.save(corpusA, "text", "doc_id", p, nBuckets = 8)
    LexIndex.append(batchB, "text", "doc_id", p)
    searchRows(p)
  }

  test("LexIndex: replay of a fully committed append is a no-op (same token skips)") {
    val p = tmp("lex_replay")
    LexIndex.save(corpusA, "text", "doc_id", p, nBuckets = 8)
    LexIndex.append(batchB, "text", "doc_id", p)
    LexIndex.append(batchB, "text", "doc_id", p) // at-least-once redelivery
    assert(searchRows(p) == controlRows,
      "a committed batch replay must not double postings or stats")
  }

  test("writer lease: a held lease refuses a second writer, a stale lease " +
      "is broken, and appends release it") {
    val p = tmp("lex_lease")
    LexIndex.save(corpusA, "text", "doc_id", p, nBuckets = 8)
    // Simulate a live concurrent writer: hold the lease, then append.
    val lock = java.nio.file.Paths.get(p, BatchCommit.leaseFile)
    java.nio.file.Files.write(lock,
      s"""{"holder":"other-writer","ts":${System.currentTimeMillis}}"""
        .getBytes("UTF-8"))
    val e = intercept[IllegalStateException] {
      LexIndex.append(batchB, "text", "doc_id", p)
    }
    assert(e.getMessage.contains("another writer holds the lease"), e.getMessage)
    // A STALE lease (its holder crashed long ago) is broken and the append
    // proceeds — and afterwards the lease is released again.
    java.nio.file.Files.write(lock,
      """{"holder":"crashed-writer","ts":1}""".getBytes("UTF-8"))
    LexIndex.append(batchB, "text", "doc_id", p)
    assert(searchRows(p) == controlRows)
    assert(!java.nio.file.Files.exists(lock),
      "the lease must be released after a successful append")
  }

  test("writer lease: a LIVE body longer than the TTL is renewed — a " +
      "second writer must NOT judge it stale and break it") {
    val p = tmp("lex_renew")
    LexIndex.save(corpusA, "text", "doc_id", p, nBuckets = 8)
    // ttl 1.5s, body 4.5s: without renewal the lease timestamp would be
    // 3× the TTL old by the second acquisition attempt, which would break
    // it and append concurrently. Renewal every ttl/3 (500 ms) keeps it
    // fresh with a >1 s margin against CI scheduler/GC stalls of the
    // renewer thread (a tighter 400 ms TTL made this a timing flake).
    BatchCommit.withWriterLease(spark, p, holder = "long-writer",
        ttlMs = 1500) {
      Thread.sleep(4500)
      val e = intercept[IllegalStateException] {
        BatchCommit.withWriterLease(spark, p, holder = "impatient",
          ttlMs = 1500) { fail("second writer must not acquire a live lease") }
      }
      assert(e.getMessage.contains("another writer holds the lease"),
        e.getMessage)
    }
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(p, BatchCommit.leaseFile)),
      "the lease must be released after the body")
  }

  test("writer lease: an EMPTY lock file (a torn write) is judged by its " +
      "mtime, never defaulted to stale") {
    val p = tmp("lex_torn")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(p))
    val lock = java.nio.file.Paths.get(p, BatchCommit.leaseFile)
    java.nio.file.Files.write(lock, Array.emptyByteArray)
    // A FRESH empty lease is a write caught mid-flight: breaking it would
    // admit a concurrent append. The waiter must refuse, not acquire.
    val e = intercept[IllegalStateException] {
      BatchCommit.withWriterLease(spark, p, holder = "eager", ttlMs = 2000) {
        fail("an empty-but-fresh lock must be treated as LIVE")
      }
    }
    assert(e.getMessage.contains("another writer holds the lease"),
      e.getMessage)
    // The SAME empty file with an mtime older than the TTL is a crashed
    // writer's wreckage: broken, and the waiter proceeds.
    java.nio.file.Files.setLastModifiedTime(lock,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis - 60000))
    var ran = false
    BatchCommit.withWriterLease(spark, p, holder = "next", ttlMs = 2000) {
      ran = true
    }
    assert(ran, "an empty lock older than the TTL must be broken")
    assert(!java.nio.file.Files.exists(lock))
  }

  test("writer lease: a TRUNCATED heartbeat with a parsable ts prefix is " +
      "judged by its mtime, never by the truncated number") {
    val p = tmp("lex_hb_torn")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(p))
    val lock = java.nio.file.Paths.get(p, BatchCommit.leaseFile)
    // Ancient lock ts (the holder renews through the sidecar, never the
    // lock) + a heartbeat caught mid-truncation: the prefix `{"ts":17236`
    // PARSES as an ancient timestamp. A waiter trusting it would break a
    // live holder's lease; the complete-JSON check must defer to the
    // file's FRESH mtime instead → the lease is live → refuse.
    java.nio.file.Files.write(lock,
      """{"holder":"hb-holder","ts":1}""".getBytes("UTF-8"))
    val hb = java.nio.file.Paths.get(p, BatchCommit.leaseFile + ".hb.hb-holder")
    java.nio.file.Files.write(hb, """{"ts":17236""".getBytes("UTF-8"))
    val e = intercept[IllegalStateException] {
      BatchCommit.withWriterLease(spark, p, holder = "waiter", ttlMs = 2000) {
        fail("a fresh-but-torn heartbeat must vouch for its holder")
      }
    }
    assert(e.getMessage.contains("another writer holds the lease"),
      e.getMessage)
    // The SAME torn heartbeat, aged past the TTL: the holder stopped
    // renewing → stale → broken, and the sweep removes the sidecar too.
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis - 60000)
    java.nio.file.Files.setLastModifiedTime(hb, old)
    var ran = false
    BatchCommit.withWriterLease(spark, p, holder = "next", ttlMs = 2000) {
      ran = true
    }
    assert(ran)
    assert(!java.nio.file.Files.exists(hb),
      "breaking a stale lease must sweep its holder's heartbeat")
  }

  test("writer lease: renewal never touches the lock — a concurrent " +
      "reader always sees the holder's intact lease, the heartbeat " +
      "sidecar advances, and nothing survives release") {
    val p = tmp("lex_renew_atomic")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(p))
    val lock = java.nio.file.Paths.get(p, BatchCommit.leaseFile)
    val hb = java.nio.file.Paths.get(p,
      BatchCommit.leaseFile + ".hb.atomic-writer")
    // ttl 300 ms → a heartbeat every 100 ms; the body hammers lock reads
    // for 1.2 s. The lock file must NEVER be missing or torn mid-body (the
    // old temp+rename renewal had a delete+rename fallback window on
    // dest-exists-refusing filesystems), and the heartbeat must advance so
    // a waiter judges the long-running holder live.
    BatchCommit.withWriterLease(spark, p, holder = "atomic-writer",
        ttlMs = 300) {
      val deadline = System.currentTimeMillis + 1200
      var hbSeen = false
      while (System.currentTimeMillis < deadline) {
        val txt = try new String(java.nio.file.Files.readAllBytes(lock),
          "UTF-8") catch { case _: java.io.IOException => null }
        assert(txt != null && txt.contains("\"holder\":\"atomic-writer\""),
          s"reader observed a missing/torn lease: [$txt]")
        hbSeen ||= java.nio.file.Files.exists(hb)
      }
      assert(hbSeen, "the heartbeat sidecar must appear within 4 periods")
    }
    assert(!java.nio.file.Files.exists(lock))
    val strays = java.nio.file.Files.list(java.nio.file.Paths.get(p))
      .toArray.map(_.toString).filter(_.contains(BatchCommit.leaseFile))
    assert(strays.isEmpty,
      s"lease/heartbeat files must not survive release: ${strays.toSeq}")
  }

  test("writer lease: verifyOwned aborts before adoption when the lease " +
      "was broken as stale (writer paused past TTL)") {
    val p = tmp("lex_verify_owned")
    LexIndex.save(corpusA, "text", "doc_id", p, nBuckets = 8)
    val lock = java.nio.file.Paths.get(p, BatchCommit.leaseFile)
    BatchCommit.withWriterLeaseHandle(spark, p, holder = "gc-paused") { lease =>
      lease.verifyOwned() // held — must not throw
      // Simulate a second writer having broken this lease as stale while
      // this writer was paused: the lock now names the successor.
      java.nio.file.Files.write(lock,
        s"""{"holder":"successor","ts":${System.currentTimeMillis}}"""
          .getBytes("UTF-8"))
      val e = intercept[IllegalStateException] { lease.verifyOwned() }
      assert(e.getMessage.contains("writer lease lost"), e.getMessage)
    }
    // Release must leave the SUCCESSOR's lease untouched.
    assert(java.nio.file.Files.exists(lock),
      "releasing a lost lease must not delete the successor's")
    java.nio.file.Files.delete(lock)
  }

  test("LexIndex: crash after adoption+stats but before done-mark recovers without double-count") {
    val p = tmp("lex_crash_stats")
    LexIndex.save(corpusA, "text", "doc_id", p, nBuckets = 8)
    LexIndex.append(batchB, "text", "doc_id", p)
    // Rewind the done-mark to begin (same token + payload): the exact state
    // after a crash that committed BOTH the postings and the stats move but
    // died before the final mark transition.
    val m = BatchCommit.readMark(spark, p).get
    assert(m.done)
    BatchCommit.writeMark(spark, p, m.token, done = false, m.payload)
    intercept[IllegalStateException] { searchRows(p) } // readers refuse
    LexIndex.append(batchB, "text", "doc_id", p) // the recovery replay
    // Stats must come from the mark's pinned (n0, sumdl0) — re-reading the
    // already-advanced sidecar would double-add the batch.
    assert(searchRows(p) == controlRows,
      "recovery must converge on the clean result, not double-count stats")
  }

  test("LexIndex: crash mid-adoption (partial batch files) recovers to the clean result") {
    val p = tmp("lex_crash_partial")
    LexIndex.save(corpusA, "text", "doc_id", p, nBuckets = 8)
    LexIndex.append(batchB, "text", "doc_id", p)
    val m = BatchCommit.readMark(spark, p).get
    // Rebuild the crash state: mark back to begin, stats back to pre-append
    // (from the mark payload), and DELETE one of the batch's adopted files —
    // a partial prefix of the batch is in the live tree.
    BatchCommit.writeMark(spark, p, m.token, done = false, m.payload)
    val postingsDir = java.nio.file.Paths.get(p, "postings")
    val adopted = java.nio.file.Files.walk(postingsDir).iterator().asScala
      .filter(f => f.getFileName.toString.startsWith(s"b${m.token}-")).toSeq
    assert(adopted.nonEmpty, "the batch's files must be token-prefixed")
    java.nio.file.Files.delete(adopted.head)
    graft.core.MetaIo.write(spark, p + "/stats.json",
      s"""{"n":${m.payload("n0")},"sumdl":${m.payload("sumdl0")},"nBuckets":8}""")
    LexIndex.append(batchB, "text", "doc_id", p)
    assert(searchRows(p) == controlRows,
      "partial adoption must be cleaned up and the batch redone exactly-once")
  }

  test("LexIndex: a DIFFERENT batch refuses over a dangling begin") {
    val p = tmp("lex_foreign")
    LexIndex.save(corpusA, "text", "doc_id", p, nBuckets = 8)
    LexIndex.append(batchB, "text", "doc_id", p)
    val m = BatchCommit.readMark(spark, p).get
    BatchCommit.writeMark(spark, p, m.token, done = false, m.payload)
    val other = Seq((9L, "some other batch")).toDF("doc_id", "text")
    val e = intercept[IllegalStateException] {
      LexIndex.append(other, "text", "doc_id", p)
    }
    assert(e.getMessage.contains("interrupted append"), e.getMessage)
    // A rebuild clears the dangling state.
    LexIndex.save(corpusA, "text", "doc_id", p, nBuckets = 8)
    LexIndex.append(batchB, "text", "doc_id", p)
    assert(searchRows(p) == controlRows)
  }

  test("dedup index: overlapping ids fail loudly by default, drop mode anti-joins them") {
    val p = tmp("dedup_guard")
    Dedup.saveDedupIndex(corpusA, "text", "doc_id", p, numHashes = 16, shingleLen = 2)
    val overlapping = Seq(
      (2L, "spark streaming watermark state"), // id already indexed
      (5L, "an entirely new document here")
    ).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.appendToDedupIndex(overlapping, "text", "doc_id", p)
    }
    assert(e.getMessage.contains("already in the index"), e.getMessage)
    assert(spark.read.parquet(s"$p/docs").count() == 2,
      "a refused append must not mutate the index")
    Dedup.appendToDedupIndex(overlapping, "text", "doc_id", p, onExistingIds = "drop")
    val ids = spark.read.parquet(s"$p/docs").select("id").as[Long]
      .collect().sorted.toSeq
    assert(ids == Seq(1L, 2L, 5L), s"drop mode must add only the new id: $ids")
  }

  test("dedup index: committed-batch replay skips; interrupted append recovers; readers refuse dangling") {
    val p = tmp("dedup_replay")
    Dedup.saveDedupIndex(corpusA, "text", "doc_id", p, numHashes = 16, shingleLen = 2)
    val batch = Seq((5L, "fresh crawl document one"), (6L, "fresh crawl document two"))
      .toDF("doc_id", "text")
    Dedup.appendToDedupIndex(batch, "text", "doc_id", p)
    // Exact replay of the committed batch: token matches the done mark → no-op
    // (this is why a retried crawl batch cannot double-insert state).
    Dedup.appendToDedupIndex(batch, "text", "doc_id", p)
    assert(spark.read.parquet(s"$p/docs").count() == 4)
    // Interrupted append: mark back to begin — readers refuse, the same
    // batch recovers, and the result matches the clean state.
    val m = BatchCommit.readMark(spark, p).get
    BatchCommit.writeMark(spark, p, m.token, done = false, m.payload)
    intercept[IllegalStateException] {
      Dedup.dropAgainstIndex(batch, "text", "doc_id", p).collect()
    }
    Dedup.appendToDedupIndex(batch, "text", "doc_id", p)
    val ids = spark.read.parquet(s"$p/docs").select("id").as[Long]
      .collect().sorted.toSeq
    assert(ids == Seq(1L, 2L, 5L, 6L), s"recovery must converge exactly-once: $ids")
  }

  test("IvfIndex: committed-batch replay is a no-op") {
    import graft.embed.IvfIndex
    import graft.operators.EmbedOps
    def vec(a: Int): Seq[Float] = Seq.tabulate(8)(d => if (d == a) 1.0f else 0.05f)
    val base = Seq((0L, vec(0)), (1L, vec(1))).toDF("id", EmbedOps.vecCol("emb"))
    val p = tmp("ivf_replay")
    val (indexed, model) = IvfIndex.build(base, "emb", nCells = 2, seed = 7)
    IvfIndex.save(indexed, model, "emb", "id", p)
    indexed.unpersist()
    val extra = Seq((10L, vec(3)), (11L, vec(4))).toDF("id", EmbedOps.vecCol("emb"))
    IvfIndex.append(extra, "emb", "id", p)
    IvfIndex.append(extra, "emb", "id", p) // redelivered batch
    val (loaded, _) = IvfIndex.load(spark, p)
    assert(loaded.count() == 4, "a committed batch replay must not duplicate vectors")
  }

  test("preflight token is pinned at 1 and 7 partitions (marks already on " +
      "disk stay replayable)") {
    val fixed = (1L to 12L).map(i => (i * 7919L, s"doc $i")).toDF("doc_id", "text")
    for (parts <- Seq(1, 7)) {
      val pre = BatchCommit.preflight(fixed.repartition(parts), "doc_id", None)
      assert(pre.token == PinnedToken && pre.rows == 12L && pre.clashes == 0L,
        s"$parts partitions: $pre")
    }
  }

  test("LexIndex and IvfIndex: a committed batch replays as a no-op even " +
      "after one of its ids was deleted") {
    val p = tmp("lex_replay_deleted")
    LexIndex.save(corpusA, "text", "doc_id", p, nBuckets = 8)
    LexIndex.append(batchB, "text", "doc_id", p)
    LexIndex.delete(batchB.filter($"doc_id" === 3L), "doc_id", p)
    val committed = BatchCommit.readMark(spark, p)
    LexIndex.append(batchB, "text", "doc_id", p) // at-least-once redelivery
    assert(BatchCommit.readMark(spark, p) == committed)
    assert(searchRows(p).map(_._1).toSet == Set(1L, 2L, 4L))

    val (ivf, extra) = ivfIndex("ivf_replay_deleted")
    graft.embed.IvfIndex.append(extra, "emb", "id", ivf)
    graft.embed.IvfIndex.delete(extra.filter($"id" === 10L), "id", ivf)
    graft.embed.IvfIndex.append(extra, "emb", "id", ivf)
    assert(graft.embed.IvfIndex.load(spark, ivf)._1.select("id").as[Long]
      .collect().sorted.toSeq == Seq(0L, 1L, 11L))
  }

  test("LexIndex and dedup index: an empty batch is a no-op and writes no mark") {
    val lex = tmp("lex_empty")
    LexIndex.save(corpusA, "text", "doc_id", lex, nBuckets = 8)
    LexIndex.append(batchB.filter($"doc_id" < 0L), "text", "doc_id", lex)
    assert(BatchCommit.readMark(spark, lex).isEmpty)
    assert(searchRows(lex).map(_._1).toSet == Set(1L, 2L))
    val dd = tmp("dedup_empty")
    Dedup.saveDedupIndex(corpusA, "text", "doc_id", dd, numHashes = 16, shingleLen = 2)
    Dedup.appendToDedupIndex(batchB.filter($"doc_id" < 0L), "text", "doc_id", dd)
    assert(BatchCommit.readMark(spark, dd).isEmpty)
    assert(spark.read.parquet(s"$dd/docs").count() == 2)
  }

  test("LexIndex and IvfIndex: a fresh batch holding a tombstoned id is " +
      "refused before its begin mark") {
    val p = tmp("lex_fresh_tombstoned")
    LexIndex.save(corpusA, "text", "doc_id", p, nBuckets = 8)
    LexIndex.append(batchB, "text", "doc_id", p)
    LexIndex.delete(corpusA.filter($"doc_id" === 2L), "doc_id", p)
    val committed = BatchCommit.readMark(spark, p)
    val fresh = Seq((2L, "spark streaming again"), (7L, "a new document"))
      .toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      LexIndex.append(fresh, "text", "doc_id", p)
    }
    assert(e.getMessage.contains("LexIndex.append") &&
      e.getMessage.contains("tombstoned"), e.getMessage)
    assert(BatchCommit.readMark(spark, p) == committed,
      "a refused batch must not write its begin mark")

    val (ivf, _) = ivfIndex("ivf_fresh_tombstoned")
    graft.embed.IvfIndex.delete(vecs(1L -> 1), "id", ivf)
    val e2 = intercept[IllegalArgumentException] {
      graft.embed.IvfIndex.append(vecs(1L -> 1, 12L -> 5), "emb", "id", ivf)
    }
    assert(e2.getMessage.contains("IvfIndex.append") &&
      e2.getMessage.contains("tombstoned"), e2.getMessage)
    assert(BatchCommit.readMark(spark, ivf).isEmpty,
      "a refused batch must not write its begin mark")
  }

  /** The fixed batch's token as marks already on disk carry it: a format
    * change would make their batches unreplayable.
    */
  private val PinnedToken = "35628242cbad35b3n12"

  private def vecs(rows: (Long, Int)*) = rows.map { case (id, axis) =>
    (id, Seq.tabulate(8)(d => if (d == axis) 1.0f else 0.05f))
  }.toDF("id", graft.operators.EmbedOps.vecCol("emb"))

  /** A saved IVF index holding ids 0 and 1, and a batch of ids 10 and 11. */
  private def ivfIndex(prefix: String): (String, org.apache.spark.sql.DataFrame) = {
    val p = tmp(prefix)
    val (indexed, model) =
      graft.embed.IvfIndex.build(vecs(0L -> 0, 1L -> 1), "emb", nCells = 2, seed = 7)
    graft.embed.IvfIndex.save(indexed, model, "emb", "id", p)
    indexed.unpersist()
    (p, vecs(10L -> 3, 11L -> 4))
  }

  private implicit class IterOps[T](it: java.util.Iterator[T]) {
    def asScala: Iterator[T] = new Iterator[T] {
      def hasNext: Boolean = it.hasNext
      def next(): T = it.next()
    }
  }
}
