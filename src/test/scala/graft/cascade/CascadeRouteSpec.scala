package graft.cascade

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.llm.{FakeBehavior, FakeLM, LMRequest}

class CascadeRouteSpec extends SparkSpec {
  import spark.implicits._

  test("route's CascadeStats equal the band filters' counts; a null score " +
      "counts in the total only") {
    val scored = Seq[(Long, String, Option[Double])](
      (0L, "a", Some(0.9)), (1L, "b", Some(0.7)), (2L, "c", Some(0.5)),
      (3L, "d", Some(0.3)), (4L, "e", Some(0.1)), (5L, "f", None))
      .toDF("__cid", "text", "__pc")
    val args = CascadeArgs(posThreshold = Some(0.7), negThreshold = Some(0.3))
    val (_, stats) = CascadeCore.route(scored, _ => LMRequest(Nil),
      FakeLM(FakeBehavior.KeywordFilter("a")), args, default = true,
      keepCols = Seq("__cid", "text"))
    assert(stats == CascadeStats(total = 6, helperAccepted = 2,
      helperRejected = 2, oracleCalls = 1, tauPos = 0.7, tauNeg = 0.3))
    // The same bands as the routing filters, counted one by one.
    val pc = col("__pc")
    assert(stats.helperAccepted == scored.filter(pc >= 0.7).count())
    assert(stats.helperRejected == scored.filter(pc <= 0.3 && pc < 0.7).count())
    assert(stats.oracleCalls == scored.filter(pc < 0.7 && pc > 0.3).count())
  }
}
