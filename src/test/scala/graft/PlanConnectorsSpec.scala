package graft

import org.apache.spark.sql.functions._
import graft.core.Sem
import graft.llm.{FakeBehavior, FakeLM}
import graft.plan._
import graft.connectors.{DataConnectors, DirectoryReaderLite, WebSearch}
import graft.embed.LexicalReranker
import graft.operators.EmbedOps

class PlanConnectorsSpec extends SparkSpec {
  import spark.implicits._

  test("pushdown moves classical filters before semantic stages") {
    val p = SemPlan(Seq(
      SemFilterOp("the {text} is about sports"),
      SemMapOp("summarize {text}"),
      ClassicalFilter("n_chars > 10")))
    val opt = p.optimized
    assert(opt.ops.head == ClassicalFilter("n_chars > 10"))
  }

  test("pushdown respects columns produced by semantic stages") {
    val p = SemPlan(Seq(
      SemMapOp("summarize {text}", suffix = "_map"),
      ClassicalFilter("_map IS NOT NULL")))
    assert(p.optimized.ops == p.ops) // cannot move past its producer
  }

  test("pushdown keeps a backtick-quoted reference above its producer") {
    val p = SemPlan(Seq(
      SemMapOp("summarize {text}", suffix = "_map"),
      ClassicalFilter("`_map` = 'True'")))
    assert(p.optimized.ops == p.ops)
    val docs = Seq("a long text").toDF("text")
    val out = Sem.withLM(FakeLM(FakeBehavior.Scripted(Seq("True")))) {
      p.optimized.run(docs).collect()
    }
    assert(out.length == 1)
  }

  test("pushdown matches references case-insensitively, as Spark resolves them") {
    val p = SemPlan(Seq(
      SemMapOp("summarize {text}", suffix = "_map"),
      ClassicalFilter("_MAP IS NOT NULL")))
    assert(p.optimized.ops == p.ops)
  }

  test("pushdown leaves a filter whose condition does not parse in place") {
    val p = SemPlan(Seq(
      SemFilterOp("the {text} is about sports"),
      ClassicalFilter("n_chars >")))
    assert(p.optimized.ops == p.ops)
  }

  test("plan round-trips through JSON and runs") {
    val p = SemPlan(Seq(
      ClassicalFilter("id < 3"),
      SemFilterOp("the {text} mentions a delay"),
      SemMapOp("first words of {text}")))
    val p2 = SemPlan.fromJson(p.toJson)
    assert(p2 == p)
    val df = Seq((1L, "a delay here"), (2L, "all fine"), (5L, "a delay there"))
      .toDF("id", "text")
    val out = Sem.withLM(FakeLM(FakeBehavior.KeywordFilter("delay"))) { p2.run(df) }
    assert(out.select("id").as[Long].collect().toSeq == Seq(1L))
  }

  test("prewarmCascades stores learned thresholds into the plan") {
    val docs = (0 until 150).map(i =>
      (i.toLong, if (i % 3 == 0) s"row $i has a delay" else s"row $i fine")).toDF("id", "text")
    val p = SemPlan(Seq(SemFilterCascadeOp("the {text} mentions a delay")))
    val warmed = Sem.withSettings(Sem.settings.copy(
      lm = FakeLM(FakeBehavior.KeywordFilter("delay")),
      helperLm = Some(FakeLM(FakeBehavior.KeywordFilterProb("delay"))))) {
      p.prewarmCascades(docs)
    }
    warmed.ops.head match {
      case SemFilterCascadeOp(_, Some(tp), Some(tn)) => assert(tp >= tn)
      case other => fail(s"expected warmed cascade, got $other")
    }
  }

  test("loadPath dispatches by extension") {
    val dir = java.nio.file.Files.createTempDirectory("graftcsv")
    java.nio.file.Files.writeString(dir.resolve("t.csv"), "a,b\n1,x\n2,y\n")
    val df = DataConnectors.loadPath(spark, dir.resolve("t.csv").toString)
    assert(df.count() == 2 && df.columns.toSeq == Seq("a", "b"))
  }

  test("DirectoryReaderLite extracts text files into page rows") {
    val dir = java.nio.file.Files.createTempDirectory("graftdocs")
    java.nio.file.Files.writeString(dir.resolve("a.txt"), "hello world")
    java.nio.file.Files.writeString(dir.resolve("b.md"), "# title")
    val df = DirectoryReaderLite.toDf(spark, dir.toString + "/*")
    val contents = df.select("content").as[String].collect().toSet
    assert(contents == Set("hello world", "# title"))
  }

  test("local web search ranks by term overlap") {
    val engine = WebSearch.LocalCorpusEngine(Seq(
      ("spark docs", "apache spark dataframe api reference"),
      ("cooking", "pasta tomato sauce recipe")))
    val df = WebSearch.search(spark, engine, "spark dataframe", 1)
    assert(df.select("title").as[String].head() == "spark docs")
  }

  test("lexical reranker puts the overlapping doc first") {
    val r = LexicalReranker()
    val order = r.rerank("neural networks", Seq("cooking pasta", "neural networks intro"), 2)
    assert(order.head == 1)
  }

  test("semSearch with nRerank reorders by the reranker") {
    val docs = Seq((1L, "machine learning neural networks"), (2L, "neural networks"),
      (3L, "cooking")).toDF("id", "text")
    val out = EmbedOps.semSearch(docs, "text", "neural networks", k = 3, nRerank = 2)
    assert(out.count() == 2)
    assert(out.select("id").as[Long].head() == 2L) // exact-overlap doc first
  }

  test("LSH sim-join finds near neighbours without a cross product") {
    val left = Seq((1L, "machine learning neural networks deep models"),
      (2L, "tomato pasta sauce cooking dinner")).toDF("lid", "ltext")
    val right = Seq((10L, "deep machine learning neural models"),
      (11L, "cooking pasta tomato sauce recipes"),
      (12L, "unrelated quantum field theory")).toDF("rid", "rtext")
    val out = EmbedOps.semSimJoinLSH(left, right, "ltext", "rtext", k = 1,
      nBits = 8, bands = 4)
    val m = out.select("lid", "rid").as[(Long, Long)].collect().toMap
    assert(m.get(1L).contains(10L))
    assert(m.get(2L).contains(11L))
  }
}
