package graft

import scala.jdk.CollectionConverters._
import graft.operators.LexIndex
import graft.tools.JobCounter

/** Job and task budget of the lexical commit path on a small index: no
  * job as wide as Spark's parallel partition-discovery listing (which
  * starts above 32 directories), and an append that adopts a few files,
  * not one per bucket directory.
  */
class LexCommitBudgetSpec extends SparkSpec {
  import spark.implicits._

  /** Parquet data files under `dir`, at any depth. */
  private def dataFiles(dir: String): Set[String] = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
      .map(_.toString).filter(_.endsWith(".parquet")).toSet
    finally s.close()
  }

  test("lexical commit path: no job of 32+ tasks, an append adopts at most 4 files") {
    // 400 distinct terms: they hash into every one of 64 buckets, while the
    // frame's estimate stays far below the 16 MB of one bucket.
    def doc(i: Long) = (i, (0 until 12).map(j => s"t${(i * 7 + j * 13) % 400}").mkString(" "))
    val corpus = (0L until 120L).map(doc).toDF("id", "text")
    val batch = (1000L until 1010L).map(doc).toDF("id", "text")
    val root = java.nio.file.Files.createTempDirectory("lexbudget").toString
    val (adopted, jobs) = JobCounter.around(spark.sparkContext) {
      LexIndex.save(corpus, "text", "id", s"$root/idx")
      val before = dataFiles(s"$root/idx/postings")
      LexIndex.append(batch, "text", "id", s"$root/idx")
      val adopted = dataFiles(s"$root/idx/postings") -- before
      LexIndex.search(spark, s"$root/idx", "t7 t20 t33", k = 10).collect()
      LexIndex.delete(corpus.filter($"id" % 9 === 0), "id", s"$root/idx")
      LexIndex.compactDeletes(spark, s"$root/idx", s"$root/compacted")
      adopted
    }
    assert(jobs.nonEmpty)
    val wide = jobs.filter(_.tasks >= 32)
    assert(wide.isEmpty, s"jobs of 32+ tasks: $wide")
    assert(adopted.nonEmpty && adopted.size <= 4,
      s"append adopted ${adopted.size} data files")
  }
}
