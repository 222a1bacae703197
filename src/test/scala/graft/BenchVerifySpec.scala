package graft

import org.apache.spark.sql.types._
import graft.core.GateTables

/** The round-7 postmortem gates: a throwing query must be LOUD in the bench
  * record (not a fail-fast timing), and a gate-table schema drift must fail
  * once with a named cause (not as N scattered runtime errors).
  */
class BenchVerifySpec extends SparkSpec {

  test("Bench records a throwing query as -1 + an error, never a timing") {
    val queries: Seq[(String, (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame)] = Seq(
      "good" -> ((s, _) => s.range(10).toDF("id")),
      "bad" -> ((_, _) => throw new RuntimeException("boom\nline2 detail")))
    val o = Bench.timeAll(spark, "/nonexistent", queries, passes = 2)
    val t = o.timings.toMap
    assert(t("good") >= 0.0, "a passing query keeps its median timing")
    assert(t("bad") == -1.0, "a throwing query must NOT record elapsed time")
    val errs = o.errors.toMap
    assert(errs.keySet == Set("bad"))
    assert(errs("bad").startsWith("boom"), "message captured")
    assert(!errs("bad").contains("\n"), "message flattened to one JSON-safe line")
    val json = Bench.renderJson(o, "sf", 2, 1.0, 1.0)
    assert(json.contains("\"errors\":{\"bad\":\"boom"), json)
    assert(json.contains("\"n_errors\":1"), json)
    assert(json.contains("\"bad\":-1.0"), json)
    // The total sums only non-erroring queries — no fake speedup from a crash.
    assert(!json.contains("\"value\":-"), json)
  }

  test("renderJson keeps list diagnostics when the scalar diag map is " +
      "empty (they serialized inside its else-branch and vanished)") {
    val o = Bench.Outcome(Seq("q" -> 1.0), Nil)
    val json = Bench.renderJson(o, "sf", 1, 0.0, 0.0,
      diag = Map.empty, diagLists = Map("pickbands_ms" -> Seq(120L, 95L)))
    assert(json.contains("\"pickbands_ms\":[120,95]"), json)
    // And the empty-everything form stays clean JSON.
    val bare = Bench.renderJson(o, "sf", 1, 0.0, 0.0)
    assert(!bare.contains("pickbands"), bare)
  }

  test("every scalar of the summary line is in the full record with the " +
      "same value") {
    val o = Bench.Outcome(Seq("a" -> 1.25, "b" -> -1.0), Seq("b" -> "boom"),
      passTotals = Seq(1.25, 1.5))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    // Bench.main hands n_queries to the full record through its diag map.
    val full = mapper.readTree(Bench.renderJson(o, "sf", 2, 9.5, 2.0,
      diag = Map("n_queries" -> 2L, "gc_ms" -> 7L),
      diagLists = Map("pickbands_ms" -> Seq(3L))))
    val summary = mapper.readTree(
      Bench.renderSummaryJson(o, "sf", 2, 9.5, 2.0))
    import scala.jdk.CollectionConverters._
    val keys = summary.fieldNames.asScala.toSeq.filterNot(_ == "queries_file")
    assert(keys.contains("contended") && keys.contains("pass_totals"), keys)
    keys.foreach(k => assert(full.get(k) == summary.get(k), k))
  }

  test("Bench errors on a partial failure too (throws in one pass only)") {
    var calls = 0
    val flaky: (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame = (s, _) => {
      calls += 1
      if (calls == 2) throw new RuntimeException("flaky pass")
      s.range(3).toDF("id")
    }
    val o = Bench.timeAll(spark, "x", Seq("flaky" -> flaky), passes = 3)
    assert(o.timings.toMap.apply("flaky") == -1.0,
      "one bad pass disqualifies the median — a flaky query is not a clean result")
    assert(o.errors.toMap.apply("flaky").contains("flaky pass"))
  }

  test("ScaleStress.sfLabel reads unquoted JSON numbers from the blow-up " +
      "marker (a mandatory closing quote silently fell back to the " +
      "caller's factor)") {
    val d = java.nio.file.Files.createTempDirectory("graft_sflabel").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(d, "blowup.json"),
      """{"base":"/data/sf0.1","factor":1000,"perturb":0.02}""")
    // Fallback args deliberately wrong: the marker must win on every field.
    assert(graft.tools.ScaleStress.sfLabel(d, "bad", 0, 0.0) ==
      "/data/sf0.1x1000~p0.02")
    // No marker → the fallback values.
    val empty = java.nio.file.Files.createTempDirectory("graft_sflabel2").toString
    assert(graft.tools.ScaleStress.sfLabel(empty, "/data/sf0.1", 30, 0.0) ==
      "/data/sf0.1x30")
  }

  test("GateTables pins all 10 gate tables and matches the shipped testdata") {
    assert(GateTables.expected.keySet == Set("region", "nation", "customer",
      "supplier", "part", "orders", "lineitem", "events", "documents",
      "embeddings"))
    val drift = GateTables.drift(spark, "/root/testdata/sf0.001")
    assert(drift.isEmpty, s"schema drift against shipped testdata:\n${drift.mkString("\n")}")
  }

  test("GateTables names a type change, a missing and an unexpected column") {
    val actual = StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", LongType), // drifted back to epoch ints
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("extra", StringType))) // props dropped, extra added
    val d = GateTables.diffSchema("events", GateTables.expected("events"), actual)
    assert(d.contains("events.ts: expected timestamp_ntz, got bigint"), d)
    assert(d.exists(_.startsWith("events.props: expected string, MISSING")), d)
    assert(d.exists(_.startsWith("events.extra: UNEXPECTED column")), d)
  }
}
