package graftbench

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class CollectorSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("jobs, tasks, shuffle and written files land on the span that ran them") {
    val sc = spark.sparkContext
    val tr = new Tracer(true, Some(sc))
    val col = SparkCollector.install(sc, tr)
    val out = Files.createTempDirectory("collector-spec").resolve("out").toString
    try {
      spark.range(10).count() // before any span: attributed to span 0
      tr.span("count")(spark.range(1000).count())
      tr.span("write") {
        tr.span("inner") {
          spark.range(1000).repartition(2).write.parquet(out)
        }
      }
      SparkCollector.drain(sc)
      val ids = tr.spans.map(s => s.name -> s.id).toMap
      val count = col.totals(Set(ids("count")))
      val inner = col.totals(Set(ids("inner")))
      assert(count.jobs >= 1 && count.tasks >= 1)
      assert(count.files == 0)
      assert(inner.jobs >= 1)
      assert(inner.shuffleWrite > 0 && inner.shuffleRead > 0)
      assert(inner.files == 2, s"files ${inner.files}")
      assert(inner.write > 0)
      // The outer span ran no job of its own.
      assert(col.totals(Set(ids("write"))).jobs == 0)
      assert(col.totals(Set(0)).jobs >= 1)
      val all = tr.spans.map(_.id).toSet
      assert(col.totals(all).jobs == count.jobs + inner.jobs)
      assert(col.jobIntervals(Set(ids("inner"))).forall { case (a, b) => b >= a })
      assert(col.taskSkew(all) >= 1.0)
    } finally sc.removeSparkListener(col)
  }
}
