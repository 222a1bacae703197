package graft.embed

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.EmbedOps

/** Product quantization (PQ) — the vector-compression tier above SQ8 in the
  * classic ANN stack (Jégou, Douze, Schmid, "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011; the IVF-PQ codec of the FAISS line
  * of work), re-expressed as native Spark columns.
  *
  * The d-dim space splits into `m` subspaces of `d/m` dims; each subspace
  * gets its own `ksub`-centroid codebook (seeded Lloyd's on a bounded
  * driver-side sample — the same deterministic fit as the IVF coarse
  * quantizer, [[IvfIndex.fitCentroids]]). A vector encodes as `m` small
  * codes: at d=64, m=8, ksub=16 a 256-byte float32 vector becomes 16 bytes
  * of smallint codes (2 bytes in parquet; 4 bits of entropy each) — a 100 TB
  * embedding corpus's index drops to low-single-digit TB, and the codebook
  * (m × ksub × d/m floats) is driver-side metadata.
  *
  * Scoring is asymmetric (ADC): the query stays exact, the corpus side is
  * its reconstruction from codebook centroids. Two equivalent kernels:
  *   - [[reconstructCosineToQuery]]: materialize the reconstructed vector,
  *     exact sequential-dot cosine — bit-reproducible against DuckDB list
  *     SQL, so the oracle gate (`ann_ivfpq_search`) runs this one.
  *   - [[adcCosineToQuery]]: the classic per-query lookup table — `m` table
  *     lookups instead of `d` multiplies per row, all built-in codegen'd
  *     HOFs. Mathematically identical (the dot against a reconstruction
  *     decomposes into per-subspace partial dots); differs only in
  *     float-association order, so parity is spec-pinned to 1e-9 rather
  *     than oracle-hashed.
  *
  * Composes with the IVF tier: fit/encode on an [[IvfIndex.build]]-indexed
  * frame keeps the cell column, [[save]] writes the same cell-partitioned
  * layout (partition-pruned probes), and [[search]] takes the coarse model
  * for nProbe pruning — that pairing IS the IVF-PQ index of the literature.
  */
case class PqModel(codebooks: Array[Array[Array[Float]]]) {
  require(codebooks.nonEmpty && codebooks.head.nonEmpty, "empty PQ codebooks")
  def m: Int = codebooks.length
  def ksub: Int = codebooks.head.length
  def dsub: Int = codebooks.head.head.length
  def dim: Int = m * dsub

  /** Flat driver-side lookup: entry (sub * ksub + code) = centroid as doubles. */
  private[embed] def flatCentroids: Seq[Seq[Double]] =
    codebooks.iterator.flatMap(_.iterator.map(_.map(_.toDouble).toSeq)).toSeq
}

object ProductQuantizer {

  def codesCol(c: String): String = s"__pq_$c"

  /** Fit per-subspace codebooks on a bounded driver-side sample (same
    * budget policy as [[IvfIndex.defaultFitPoints]]): the fit cost is
    * constant in corpus size, and the SORTED sample makes the codebooks a
    * pure function of the vector multiset — reproducible rebuilds, and
    * stable enough to pin in an oracle. Subspace s fits with `seed + s` so
    * codebooks are decorrelated but deterministic.
    */
  def fit(df: DataFrame, c: String, m: Int, ksub: Int = 16, seed: Long = 42,
      fitSampleFraction: Double = -1.0, maxIter: Int = 20): PqModel = {
    val v = EmbedOps.vecCol(c)
    // When the vector column is not already attached AND the auto-sizing
    // path runs (two actions: count + collect), the embedding map would run
    // over the corpus twice — persist for the fit's lifetime (IvfIndex.build
    // does the same). An explicit fitSampleFraction runs only the one
    // collect, where caching the whole corpus's vectors buys nothing.
    val needPersist = !df.columns.contains(v) && fitSampleFraction <= 0
    val indexed = EmbedOps.semIndex(df, c)
    if (needPersist) indexed.persist()
    try {
      val frac =
        if (fitSampleFraction > 0) math.min(1.0, fitSampleFraction)
        else {
          val n = indexed.count()
          math.min(1.0, IvfIndex.defaultFitPoints(ksub).toDouble / math.max(1L, n))
        }
      // Content-hash sampling (the IvfIndex.build convention): membership is
      // a pure function of (vector, seed), so the codebooks really are a pure
      // function of the vector multiset even on the sampled path.
      val fitDf = graft.core.TierChoice.sample(indexed.select(col(v)), v, frac, seed)
      val sample = fitDf.collect().map(_.getSeq[Float](0).toArray)
      require(sample.nonEmpty, "PQ fit sample is empty")
      val dim = sample.head.length
      require(dim % m == 0, s"PQ subspace count $m must divide dim $dim")
      val dsub = dim / m
      val codebooks = Array.tabulate(m) { s =>
        val slices = sample.map(p => java.util.Arrays.copyOfRange(p, s * dsub, (s + 1) * dsub))
        IvfIndex.fitCentroids(slices, ksub, seed + s, maxIter)
      }
      PqModel(codebooks)
    } finally { if (needPersist) indexed.unpersist() }
  }

  /** Encode a float-vector column as `m` smallint codes: per subspace, the
    * nearest codebook centroid (squared-Euclidean argmin, ties → lowest
    * code — the [[graft.functions.NearestCentroid]] tight loop over the
    * sliced sub-vector). One narrow map, no shuffle.
    */
  def encodeExpr(vec: Column, model: PqModel): Column = {
    val codes = (0 until model.m).map { s =>
      graft.functions.VectorExprs.nearestCentroid(
        slice(vec, s * model.dsub + 1, model.dsub), model.codebooks(s))
        .cast("smallint")
    }
    array(codes: _*)
  }

  /** Reconstruction (decode): concatenate the coded centroids, as doubles.
    * Pure built-in HOFs — stays in whole-stage codegen.
    */
  def reconstructExpr(codes: Column, model: PqModel): Column = {
    val lut = typedLit(model.flatCentroids)
    val ksub = model.ksub
    flatten(transform(codes, (code, s) => element_at(lut, s * ksub + code.cast("int") + 1)))
  }

  /** Exact cosine between the query and the reconstructed vector — the
    * oracle-reproducible scoring kernel (sequential dot, same association
    * order as DuckDB's list_cosine_similarity).
    */
  def reconstructCosineToQuery(codes: Column, model: PqModel, qv: Seq[Float]): Column = {
    require(qv.length == model.dim,
      s"PQ dimension mismatch: query dim ${qv.length} vs codebook dim ${model.dim}")
    EmbedOps.cosineSim(reconstructExpr(codes, model), lit(qv.map(_.toDouble).toArray))
  }

  /** ADC scoring: per query, precompute on the driver the partial-dot table
    * `dot(q_s, centroid)` and the centroid square-norm table, then score a
    * row with `m` lookups + adds instead of `dim` multiplies:
    * `cos = Σ_s dotLut[s][code_s] / (‖q‖ · sqrt(Σ_s sqLut[s][code_s]))`.
    * This is the kernel a 100 TB scan wants — the per-row cost is O(m), not
    * O(d), and both lookup tables are (m × ksub) doubles riding the
    * expression tree as literals.
    */
  def adcCosineToQuery(codes: Column, model: PqModel, qv: Seq[Float]): Column = {
    require(qv.length == model.dim,
      s"PQ dimension mismatch: query dim ${qv.length} vs codebook dim ${model.dim}")
    val q = qv.map(_.toDouble).toArray
    val ksub = model.ksub
    val dsub = model.dsub
    val dotLut = new Array[Double](model.m * ksub)
    val sqLut = new Array[Double](model.m * ksub)
    var s = 0
    while (s < model.m) {
      var k = 0
      while (k < ksub) {
        val cent = model.codebooks(s)(k)
        var dot = 0.0; var sq = 0.0; var i = 0
        while (i < dsub) {
          val cv = cent(i).toDouble
          dot += q(s * dsub + i) * cv
          sq += cv * cv
          i += 1
        }
        dotLut(s * ksub + k) = dot
        sqLut(s * ksub + k) = sq
        k += 1
      }
      s += 1
    }
    var qn = 0.0
    var i = 0
    while (i < q.length) { qn += q(i) * q(i); i += 1 }
    val qNorm = math.sqrt(qn)
    val dotL = typedLit(dotLut.toSeq)
    val sqL = typedLit(sqLut.toSeq)
    def lookup(tbl: Column): Column =
      aggregate(
        transform(codes, (code, sIdx) => element_at(tbl, sIdx * ksub + code.cast("int") + 1)),
        lit(0.0), (acc, x) => acc + x)
    val num = lookup(dotL)
    val rNorm = sqrt(lookup(sqL))
    val denom = lit(qNorm) * rNorm
    when(denom === 0.0, lit(0.0)).otherwise(num / denom)
  }

  /** Replace the vector column with PQ codes (embedding first if needed).
    * Any IVF cell column on the frame is untouched, so quantize-after-index
    * yields the IVF-PQ layout.
    */
  def quantize(df: DataFrame, c: String, model: PqModel): DataFrame = {
    val indexed = EmbedOps.semIndex(df, c)
    val v = EmbedOps.vecCol(c)
    indexed
      .withColumn(codesCol(c), encodeExpr(col(v), model))
      .drop(v)
  }

  /** Top-k over a quantized frame. With `ivf` + the frame's cell column the
    * scan probes only the `nProbe` cells nearest the query (partition
    * pruning on a [[save]]d index); `adc = true` scores with the O(m)
    * lookup kernel, `false` with the oracle-exact reconstruction cosine.
    */
  def search(df: DataFrame, c: String, model: PqModel, qv: Seq[Float], k: Int,
      ivf: Option[IvfIndex.IvfModel] = None, nProbe: Int = 1, adc: Boolean = true,
      scoreCol: String = "vec_scores", tieBreak: Seq[Column] = Nil): DataFrame = {
    val pruned = ivf match {
      case Some(coarse) =>
        val probed = coarse.rankCells(qv).take(math.min(nProbe, coarse.nCells))
        df.filter(col(IvfIndex.cellCol).isin(probed.map(Integer.valueOf).toSeq: _*))
      case None => df
    }
    val score =
      if (adc) adcCosineToQuery(col(codesCol(c)), model, qv)
      else reconstructCosineToQuery(col(codesCol(c)), model, qv)
    pruned
      .withColumn(scoreCol, score)
      .orderBy(col(scoreCol).desc +: tieBreak: _*)
      .limit(k)
      .drop(codesCol(c))
  }

  /** Persist the IVF-PQ index: cell-partitioned `(id, codes)` parquet (the
    * same clustered-write layout as [[IvfIndex.save]] — probe reads prune at
    * the file level, and the pre-write repartition keeps it one file per
    * cell instead of tasks × cells) plus both models as driver-side JSON.
    * A frame without a cell column writes unpartitioned (flat PQ).
    */
  def save(quantized: DataFrame, model: PqModel, ivf: Option[IvfIndex.IvfModel], c: String,
      idCol: String, path: String): Unit = {
    val hasCells = quantized.columns.contains(IvfIndex.cellCol)
    val payload =
      if (hasCells) quantized.select(col(idCol), col(codesCol(c)), col(IvfIndex.cellCol))
      else quantized.select(col(idCol), col(codesCol(c)))
    val writer =
      if (hasCells) payload.repartition(col(IvfIndex.cellCol))
        .write.mode("overwrite").partitionBy(IvfIndex.cellCol)
      else payload.write.mode("overwrite")
    writer.parquet(s"$path/cells")
    val cbJson = "{\"codebooks\":[" +
      model.codebooks.map(graft.core.MetaIo.floatMatrixJson).mkString(",") + "]"
    val ivfJson = ivf match {
      case Some(coarse) =>
        ",\"centroids\":" + graft.core.MetaIo.floatMatrixJson(coarse.centroids) + "}"
      case None => "}"
    }
    graft.core.MetaIo.write(quantized.sparkSession, s"$path/pq.json", cbJson + ivfJson)
  }

  /** Load a saved PQ index: the (cell-partitioned) codes frame + models. */
  def load(spark: SparkSession, path: String): (DataFrame, PqModel, Option[IvfIndex.IvfModel]) = {
    val cells = spark.read.parquet(s"$path/cells")
    val root = graft.core.MetaIo.parse(graft.core.MetaIo.read(spark, s"$path/pq.json"))
    val cbNode = root.path("codebooks")
    val codebooks = (0 until cbNode.size())
      .map(i => graft.core.MetaIo.floatMatrix(cbNode.path(i))).toArray
    val ivfNode = root.path("centroids")
    val ivf = if (ivfNode.isMissingNode || ivfNode.size() == 0) None
              else Some(IvfIndex.IvfModel(graft.core.MetaIo.floatMatrix(ivfNode)))
    (cells, PqModel(codebooks), ivf)
  }
}
