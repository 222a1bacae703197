package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Failures are LOUD: a throwing query lands in `errors.json` beside the
  * oracle SQL (round 7's six crashing queries were silently *absent* from
  * the correctness artifact because an erroring query wrote no parquet dir
  * and nothing else said so), and a gate-table schema drift is reported
  * once, up front, as named `schema:` entries instead of N scattered
  * runtime errors.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = graft.tools.Dev.local(graft.tools.Dev.cpus)
    new java.io.File(outDir).mkdirs()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // Schema tripwire: name the root cause before any query trips over it.
    graft.core.GateTables.drift(spark, sfDir).foreach { d =>
      System.err.println(s"[verify] SCHEMA DRIFT $d")
      errors(s"schema:${d.takeWhile(_ != ':')}") = d
    }
    // Dev-loop filter (same convention as Bench's SPARK_GRAFT_BENCH_ONLY);
    // the driver never sets it, so its runs always dump every query.
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.toString)
        System.err.println(s"[verify] $name failed: $msg")
        errors(name) = msg.linesIterator.take(3).mkString(" ").take(500)
      }
    }
    val json = graft.core.Jsons.obj(SparkEntry.oracleSql.toSeq)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Always written (empty object on a clean run) so "no errors.json" can
    // never be confused with "errors not recorded".
    Files.writeString(Paths.get(s"$outDir/errors.json"),
      graft.core.Jsons.obj(errors.toSeq))
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} error(s) — see $outDir/errors.json")
    spark.stop()
  }
}
