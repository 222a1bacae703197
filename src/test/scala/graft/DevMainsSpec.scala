package graft

/** The dev mains check their arguments before they build a session: a
  * missing argument, an unknown mode or an unknown scenario is a usage
  * message naming the valid forms, not an ArrayIndexOutOfBoundsException
  * after Spark start-up.
  */
class DevMainsSpec extends SparkSpec {

  test("Profile rejects a missing argument or an unknown mode with its usage") {
    for (args <- Seq(Array[String](), Array("jobs"), Array("jobs", "/d"),
        Array("explain"), Array("entry", "x"), Array("stages", "/d"),
        Array("jobs", "/d", "q1_agg", "0"), Array("jobs", "/d", "q1_agg", "x"))) {
      val msg = Profile.plan(args).swap.getOrElse(
        fail(s"${args.mkString(" ")} should be refused"))
      Seq("jobs", "explain", "entry").foreach(m => assert(msg.contains(m), msg))
    }
    assert(Profile.plan(Array("jobs", "/d", "q1_agg", "1")).isRight)
    assert(Profile.plan(Array("explain", "/d")).isRight)
    assert(Profile.plan(Array("entry")).isRight)
  }

  test("ScaleStress defaults to gates and rejects an unknown scenario") {
    assert(tools.ScaleStress.scenario(Array()) == Right("gates"))
    Seq("gates", "fuzzy", "io", "dsir").foreach { s =>
      assert(tools.ScaleStress.scenario(Array(s)) == Right(s))
    }
    for (args <- Seq(Array("nope"), Array("io", "dsir"))) {
      val msg = tools.ScaleStress.scenario(args).swap.getOrElse(fail())
      Seq("gates", "fuzzy", "io", "dsir").foreach(s => assert(msg.contains(s), msg))
    }
  }

  test("Dev.warmUp runs on a directory that holds only documents.parquet") {
    // A ScaleStress blow-up directory has documents, embeddings and events
    // but none of the sf dimension tables.
    val dir = java.nio.file.Files.createTempDirectory("warmup").toString
    spark.range(3).selectExpr("id AS doc_id", "'a b' AS text")
      .write.parquet(s"$dir/documents.parquet")
    tools.Dev.warmUp(spark, dir)
  }
}
