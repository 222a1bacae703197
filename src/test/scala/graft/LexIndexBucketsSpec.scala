package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Lexical, LexIndex}

/** The data-sized bucket count of `LexIndex`: an explicit count wins, a
  * small index gets one bucket, an estimate above 64 × 16 MB
  * keeps the full 64, and compaction re-derives the count.
  */
class LexIndexBucketsSpec extends SparkSpec {
  import spark.implicits._

  private def corpus(ids: Range): DataFrame =
    ids.map(i => (i.toLong,
      s"spark join w${i % 7} t${i % 11} window" + " x" * (i % 3)))
      .toDF("doc_id", "text")

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** `__term_bucket=*` directories under the index's postings. */
  private def bucketDirs(path: String): Int = {
    val s = java.nio.file.Files.list(java.nio.file.Paths.get(path, "postings"))
    try s.filter(_.getFileName.toString.startsWith(LexIndex.bucketCol + "=")).count().toInt
    finally s.close()
  }

  private def assertSameAsAdhoc(path: String, docs: DataFrame, query: String): Unit = {
    val saved = LexIndex.search(spark, path, query, k = 100)
      .select(col("id"), col("bm25")).as[(Long, Double)].collect().toMap
    val adhoc = Lexical.bm25Search(docs, "text", query, k = 100)
      .select(col("doc_id"), col("bm25")).as[(Long, Double)].collect().toMap
    assert(saved.nonEmpty && saved.keySet == adhoc.keySet)
    saved.foreach { case (id, s) =>
      assert(math.abs(s - adhoc(id)) < 1e-9, s"doc $id: saved $s vs adhoc ${adhoc(id)}")
    }
  }

  test("an explicit nBuckets is kept") {
    val path = tmp("lexbk") + "/idx"
    LexIndex.save(corpus(0 until 40), "text", "doc_id", path, nBuckets = 8)
    assert(LexIndex.describe(spark, path).nBuckets == 8)
  }

  test("a few buckets written without the shuffle by bucket search like bm25Search") {
    // Up to 4 buckets, each write task writes its own file per bucket.
    val path = tmp("lexbk") + "/idx"
    val docs = corpus(0 until 40).repartition(3)
    LexIndex.save(docs, "text", "doc_id", path, nBuckets = 3)
    assert(bucketDirs(path) == 3)
    assertSameAsAdhoc(path, docs, "spark w3 t5")
  }

  test("a tiny frame gets one bucket") {
    val path = tmp("lexbk") + "/idx"
    LexIndex.save(corpus(0 until 40), "text", "doc_id", path)
    assert(LexIndex.describe(spark, path).nBuckets == 1)
    assert(bucketDirs(path) == 1)
  }

  test("an estimate above 64 × 16 MB gets 64 buckets") {
    val root = tmp("lexbk")
    val docs = corpus(0 until 40)
    docs.write.parquet(s"$root/docs")
    val key = "spark.sql.sources.fileCompressionFactor"
    val prev = spark.conf.getOption(key)
    // A parquet scan's estimate is its file size times this factor: 1e6
    // lifts the few-KB corpus far above 64 × 16 MB without large data.
    spark.conf.set(key, "1000000")
    try {
      val big = spark.read.parquet(s"$root/docs")
      assert(big.queryExecution.optimizedPlan.stats.sizeInBytes > BigInt(64L * (16L << 20)))
      LexIndex.save(big, "text", "doc_id", s"$root/idx")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
    assert(LexIndex.describe(spark, s"$root/idx").nBuckets == 64)
    assertSameAsAdhoc(s"$root/idx", docs, "spark w3 t5")
  }

  test("compactDeletes re-derives the bucket count from the survivors") {
    val root = tmp("lexbk")
    val docs = corpus(0 until 40)
    LexIndex.save(docs, "text", "doc_id", s"$root/idx", nBuckets = 8)
    LexIndex.delete(docs.filter($"doc_id" % 5 === 0), "doc_id", s"$root/idx")
    LexIndex.compactDeletes(spark, s"$root/idx", s"$root/compacted")
    assert(LexIndex.describe(spark, s"$root/compacted").nBuckets == 1)
    assert(bucketDirs(s"$root/compacted") == 1)
    assertSameAsAdhoc(s"$root/compacted", docs.filter($"doc_id" % 5 =!= 0),
      "spark w3 t5")
  }

  test("a default-count index searches like bm25Search after save, append " +
      "and compaction") {
    val root = tmp("lexbk")
    val all = corpus(0 until 60)
    LexIndex.save(corpus(0 until 40), "text", "doc_id", s"$root/idx")
    assertSameAsAdhoc(s"$root/idx", corpus(0 until 40), "join w2 t4")
    LexIndex.append(corpus(40 until 60), "text", "doc_id", s"$root/idx")
    assertSameAsAdhoc(s"$root/idx", all, "join w2 t4")
    LexIndex.delete(all.filter($"doc_id" % 4 === 1), "doc_id", s"$root/idx")
    LexIndex.compactDeletes(spark, s"$root/idx", s"$root/compacted")
    assertSameAsAdhoc(s"$root/compacted", all.filter($"doc_id" % 4 =!= 1),
      "join w2 t4")
  }
}
