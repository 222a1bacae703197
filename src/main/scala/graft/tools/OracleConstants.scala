package graft.tools

/** Regenerates the pinned oracle constants in `Queries.scala` (fitted
  * centroids / PQ codebooks at sf0.01). The fits sort their samples, so
  * every constant is a pure function of the testdata vector multiset — this
  * main exists so the literals can be regenerated with one command if the
  * testdata ever changes:
  *
  *   sbt -batch "runMain graft.tools.OracleConstants /root/testdata/sf0.01"
  */
object OracleConstants {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Dev.local(Dev.cpus)
    // The BPE inventory lists its pieces in collect order, which follows
    // the shuffle layout: the pinned literal was generated at 32 partitions.
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try {
      val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
        .select("embedding").collect().map(_.getSeq[Float](0).toArray)

      def duckRows(cents: Array[Array[Float]]): String =
        cents.zipWithIndex.map { case (c, i) =>
          s"($i, [${c.map(_.toDouble).mkString(",")}]::DOUBLE[])"
        }.mkString(",")

      println("ClusterCentroidsK8 = \"" +
        duckRows(graft.embed.IvfIndex.fitCentroids(vecs, 8, seed = 42)) + "\"")
      println("PartitionCentroidsK5 = \"" +
        duckRows(graft.embed.IvfIndex.fitCentroids(vecs, 5, seed = 42)) + "\"")

      // PQ codebooks as (sub, code, centroid) rows — m=8, ksub=16, seed 42,
      // matching the ann_ivfpq_search gate's fit parameters.
      val dim = vecs.head.length
      val m = 8
      val dsub = dim / m
      val rows = (0 until m).flatMap { s =>
        val slices = vecs.map(p => java.util.Arrays.copyOfRange(p, s * dsub, (s + 1) * dsub))
        graft.embed.IvfIndex.fitCentroids(slices, 16, seed = 42L + s).zipWithIndex.map {
          case (c, code) => s"($s, $code, [${c.map(_.toDouble).mkString(",")}]::DOUBLE[])"
        }
      }
      println("PqCodebooksM8K16 = \"" + rows.mkString(",") + "\"")

      // BPE piece inventory at 48 merges over the documents table — the
      // tokenize_bpe gate's pinned oracle vocab (the merge sequence is
      // deterministic: count desc, then pair lexicographic asc, so this is
      // a pure function of the word-frequency multiset).
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val bpe = graft.operators.Tokenizer.trainBpe(docs, "text", numMerges = 48)
      def scalaStr(p: String): String = "\"" + p.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c => c.toString
      } + "\""
      println("BpeVocabM48 = Seq(" +
        bpe.pieces.map(scalaStr).mkString(", ") + ")")

      // Unigram-LM vocab at vocabSize 40 over the documents table — the
      // tokenize_unigram gate's pinned oracle model. Deterministic hard-EM
      // (trainUnigram's every order-dependent step uses a total order), so
      // (piece, logprob) is a pure function of the word-frequency multiset;
      // Double.toString round-trips bit-exactly through DuckDB's literal
      // parser.
      val uni = graft.operators.Tokenizer.trainUnigram(docs, "text", vocabSize = 40)
      println("UnigramVocabV40 = Seq(" +
        uni.sortedScored.map { case (p, lp) =>
          s"(${scalaStr(p)}, ${java.lang.Double.toString(lp)})"
        }.mkString(", ") + ")")
    } finally spark.stop()
  }
}
