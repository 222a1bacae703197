package graft

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.graft.ListenerBusBridge
import graft.operators.LexIndex

/** Job and task budget of the lexical commit path on a small index: no
  * job as wide as Spark's parallel partition-discovery listing (which
  * starts above 32 directories), and an append that adopts a few files,
  * not one per bucket directory.
  */
class LexCommitBudgetSpec extends SparkSpec {
  import spark.implicits._

  /** Tasks per job, from the jobs' stage ids and the finished tasks. */
  private final class JobTasks extends SparkListener {
    private val stagesOf = new ConcurrentHashMap[Int, (Seq[Int], String)]()
    private val tasksOf = new ConcurrentHashMap[Int, Int]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      stagesOf.put(e.jobId, (e.stageIds, e.stageInfos.map(_.name).mkString("; ")))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      tasksOf.merge(e.stageId, 1, Integer.sum)
    def jobs: Seq[(Int, Int, String)] = stagesOf.asScala.toSeq.sortBy(_._1).map {
      case (job, (stages, name)) =>
        (job, stages.map(s => tasksOf.getOrDefault(s, 0).intValue).sum, name)
    }
  }

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
    val sc = spark.sparkContext
    ListenerBusBridge.waitUntilEmpty(sc)
    val listener = new JobTasks
    sc.addSparkListener(listener)
    val adopted = try {
      LexIndex.save(corpus, "text", "id", s"$root/idx")
      val before = dataFiles(s"$root/idx/postings")
      LexIndex.append(batch, "text", "id", s"$root/idx")
      val adopted = dataFiles(s"$root/idx/postings") -- before
      LexIndex.search(spark, s"$root/idx", "t7 t20 t33", k = 10).collect()
      LexIndex.delete(corpus.filter($"id" % 9 === 0), "id", s"$root/idx")
      LexIndex.compactDeletes(spark, s"$root/idx", s"$root/compacted")
      ListenerBusBridge.waitUntilEmpty(sc)
      adopted
    } finally sc.removeSparkListener(listener)
    val jobs = listener.jobs
    assert(jobs.nonEmpty)
    val wide = jobs.filter(_._2 >= 32)
    assert(wide.isEmpty, s"jobs of 32+ tasks (job, tasks, stages): $wide")
    assert(adopted.nonEmpty && adopted.size <= 4,
      s"append adopted ${adopted.size} data files")
  }
}
