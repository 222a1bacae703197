package graft.embed

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.EmbedOps

/** IVF (inverted-file) approximate-nearest-neighbor index — the similarity
  * -search scale path beside brute force and random-hyperplane LSH.
  *
  * Layout (the classic IVF-Flat design from the FAISS line of work, re-expressed
  * for Spark): KMeans centroids partition the vector space into `nCells`
  * coarse cells; every vector is assigned to its nearest centroid's cell
  * (`__ivf_cell` column). A query embeds once on the driver, ranks the tiny
  * centroid table there, and scans only the `nProbe` nearest cells.
  *
  * Why this survives 100 TB: [[save]] writes the index parquet partitioned BY
  * CELL, so the probe filter (`__ivf_cell IN (...)`) is a partition-pruning
  * predicate — Spark never opens the other cells' files. Search cost is
  * nProbe/nCells of the corpus instead of all of it, and the scan that remains
  * is the same codegen'd cosine + TakeOrderedAndProject top-k as exact search.
  * Recall is tuned with nProbe exactly as in published IVF practice.
  */
object IvfIndex {

  val cellCol = "__ivf_cell"

  /** Centroid table — tiny (nCells × dim), lives on the driver / in closures. */
  final case class IvfModel(centroids: Array[Array[Float]]) {
    def nCells: Int = centroids.length
    def dim: Int = if (centroids.isEmpty) 0 else centroids.head.length
    /** Cells ranked by cosine similarity to the query vector. */
    def rankCells(qv: Seq[Float]): Array[Int] = {
      val q = qv.toArray
      centroids.zipWithIndex
        .map { case (c, i) => (i, cosine(q, c)) }
        .sortBy { case (i, s) => (-s, i) }
        .map(_._1)
    }
  }

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    require(a.length == b.length,
      s"IVF dimension mismatch: query dim ${a.length} vs centroid dim ${b.length}")
    // Products promoted to Double BEFORE the multiply — the exact op
    // shape of the ProbeCells kernel (searchBatch's ranking). A
    // Float×Float product rounded to Float first can order two
    // near-tied centroids differently, silently desynchronizing
    // search()'s probe set (and recallReport's tier math) from the
    // batch path's.
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i)
      na += a(i).toDouble * a(i)
      nb += b(i).toDouble * b(i)
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0) 0.0 else dot / denom
  }

  /** Target points for the coarse-quantizer fit: standard IVF practice (the
    * FAISS line of work trains on a bounded sample, ~tens of points per
    * cell) — fitting KMeans on a whole 100 TB corpus is both unnecessary
    * (centroids converge on a sample) and a full extra pass per build.
    */
  def defaultFitPoints(nCells: Int): Long = math.max(16384L, 256L * nCells)

  /** Build the index: embed `c` (no-op if the vector column is already
    * attached), fit the coarse quantizer with seeded Lloyd's k-means on a
    * bounded DRIVER-SIDE sample, assign every vector to its nearest
    * centroid's cell with a tight-loop expression. Returns the indexed
    * frame (persisted — the caller unpersists when done; search/save would
    * otherwise re-run the embedder per action) and the centroid model.
    *
    * Fit layout, deliberately: the quantizer trains on ≤
    * [[defaultFitPoints]] points no matter the corpus size (FAISS-style
    * IVF practice), so the fit is a single bounded collect + local Lloyd's
    * — no per-iteration distributed jobs. Only the cell ASSIGNMENT scans
    * the corpus, as one narrow map with the (nCells × dim) centroid table
    * riding in the expression. At 100 TB that is exactly one extra pass.
    *
    * `fitSampleFraction`: <= 0 (default) auto-sizes the fit sample to
    * [[defaultFitPoints]] points; 1.0 fits on everything (exact
    * small-corpus builds); anything between is an explicit sample rate.
    */
  def build(df: DataFrame, c: String, nCells: Int, seed: Long = 42,
      fitSampleFraction: Double = -1.0, maxIter: Int = 20): (DataFrame, IvfModel) = {
    val indexed = EmbedOps.semIndex(df, c).persist()
    val n = indexed.count()
    val v = EmbedOps.vecCol(c)
    val frac =
      if (fitSampleFraction > 0) math.min(1.0, fitSampleFraction)
      else math.min(1.0, defaultFitPoints(nCells).toDouble / math.max(1L, n))
    // Content-hash sampling (not df.sample, whose Bernoulli draw seeds per
    // partition): membership is a pure function of (vector, seed), so the
    // same corpus yields the same fit sample — and hence identical
    // centroids — no matter how it is partitioned. Reproducible rebuilds.
    val fitDf = graft.core.TierChoice.sample(indexed.select(col(v)), v, frac, seed)
    val sample = fitDf.collect().map(_.getSeq[Float](0).toArray)
    val centroids = fitCentroids(sample, nCells, seed, maxIter)
    val out = indexed.withColumn(cellCol,
      graft.functions.VectorExprs.nearestCentroid(col(v), centroids)).persist()
    out.count()
    indexed.unpersist()
    (out, IvfModel(centroids))
  }

  /** Index with CALLER-SUPPLIED centroids — the bring-your-own-quantizer
    * path. At 100 TB the quantizer is trained ONCE on a driver-sized sample
    * (or reused from the previous index generation so cell ids stay
    * comparable across rebuilds) and the full corpus only pays the narrow
    * O(k·d) assignment scan — never a second k-means over the data. Also
    * the oracle hook: with pinned centroids, cell assignment and probe
    * ranking are pure arithmetic an external engine can reproduce, which
    * makes the PRUNED nProbe < nCells search path hash-checkable (the
    * exhaustive-probe gates only certify the nProbe = nCells tier).
    */
  def buildWithCentroids(df: DataFrame, c: String,
      centroids: Array[Array[Float]]): (DataFrame, IvfModel) = {
    require(centroids.nonEmpty, "buildWithCentroids: empty centroid table")
    require(centroids.forall(_.length == centroids.head.length),
      "buildWithCentroids: ragged centroid table")
    val indexed = EmbedOps.semIndex(df, c)
    val v = EmbedOps.vecCol(c)
    val out = indexed.withColumn(cellCol,
      graft.functions.VectorExprs.nearestCentroid(col(v), centroids))
    (out, IvfModel(centroids.map(_.clone())))
  }

  /** Recall@k per probe tier against the exact top-k — the tuning table
    * for the recall/IO trade (how many of the nCells cell-partitions must
    * a query actually read?). ONE distributed job answers EVERY
    * (query, tier) cell: the exhaustive top-k is computed per query with
    * each hit's CELL retained, and an exact-top-k member appears in the
    * tier-t result iff its cell is among the query's first t probed
    * cells — anything that outranks it among tier-t candidates also
    * outranks it globally, and fewer than k such rows exist. (The
    * previous form scheduled |queries| × |tiers| sequential pruned
    * search jobs — ~12 s of driver-side job latency on a ×30 tuning run
    * that this one job answers identically.) Returns
    * (query_id, n_probe, recall), recall ≡ 1.0 at nProbe ≥ nCells.
    */
  def recallReport(indexed: DataFrame, model: IvfModel, c: String,
      queries: Seq[(Long, Seq[Float])], k: Int, nProbes: Seq[Int],
      idCol: String): DataFrame = {
    require(queries.nonEmpty && nProbes.nonEmpty,
      "recallReport: need at least one query and one probe tier")
    val spark = indexed.sparkSession
    import spark.implicits._
    val v = EmbedOps.vecCol(c)
    if (!indexed.columns.contains(v)) {
      // Quantized (SQ8) index: the batched raw-vector scorer can't run —
      // keep the per-(query, tier) pruned-search form search() already
      // supports for codes columns (a tuning run over a handful of
      // probes; the one-job fast path needs the raw vectors).
      require(indexed.columns.contains(Quantize.codesCol(c)),
        s"recallReport: frame has neither $v nor ${Quantize.codesCol(c)}")
      def topIds(qv: Seq[Float], np: Int): Set[Any] =
        search(indexed, model, c, qv, k, nProbe = np,
            tieBreak = Seq(col(idCol)))
          .select(idCol).collect().map(_.get(0)).toSet
      val out = for ((qid, qv) <- queries) yield {
        val exact = topIds(qv, model.nCells)
        nProbes.sorted.map { np =>
          val got = if (np >= model.nCells) exact else topIds(qv, np)
          (qid, np,
            got.intersect(exact).size.toDouble / math.max(1, exact.size))
        }
      }
      return out.flatten.toDF("query_id", "n_probe", "recall")
    }
    val qdf = queries.toDF("__qid", "__qv")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__qid"))
      .orderBy(col("__s").desc, col(idCol))
    val hits = indexed
      .select(col(idCol), col(cellCol), col(v))
      .crossJoin(broadcast(qdf))
      .withColumn("__s", EmbedOps.cosineSim(col(v), col("__qv")))
      .withColumn("__r", row_number().over(w))
      .filter(col("__r") <= k)
      .select(col("__qid"), col(cellCol))
      .collect().map(r => (r.getLong(0), r.getInt(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val out = for ((qid, qv) <- queries) yield {
      // The query's probe order over the SAME ranking search() uses.
      val rankOf = model.rankCells(qv).zipWithIndex.toMap
      val cells = hits.getOrElse(qid, Array.empty[Int])
      val n = math.max(1, cells.length)
      nProbes.sorted.map { np =>
        (qid, np, cells.count(cl => rankOf(cl) < np).toDouble / n)
      }
    }
    out.flatten.toDF("query_id", "n_probe", "recall")
  }

  /** Public fit entry for other operators (semClusterBy shares the layout):
    * `nRestarts` seeded k-means++ runs, keep the lowest-SSE solution.
    * Restarts dodge the single-run local optima a lone Lloyd's descent can
    * land in, and the sample is SORTED (lexicographic on the vector) before
    * fitting, so the result is a pure function of the sample MULTISET — the
    * same corpus fits identical centroids no matter how Spark partitioned
    * or ordered the collect, which makes index rebuilds reproducible and
    * the fitted centroids stable enough to pin in an oracle.
    */
  /** Run `body(start, end, chunkIdx)` over FIXED size-⌈n/64⌉ chunks on up
    * to `availableProcessors` threads. The chunk count is
    * machine-independent and every merge the callers do is in chunk-index
    * order, so floating-point results are identical on any core count —
    * the fit stays a pure function of (points, k, seed), just faster.
    */
  private def parChunks(n: Int, maxChunks: Int = 64)(
      body: (Int, Int, Int) => Unit): Unit = {
    // Below the parallel threshold: ONE chunk, so the callers' partial
    // merges degenerate to the legacy single-accumulator FP order — small
    // fits (every sf0.01 gate, hence every pinned-centroid oracle) are
    // bit-identical to the pre-parallel implementation.
    if (n < 4096) { body(0, n, 0); return }
    val nChunks = maxChunks
    val chunk = math.max(1, (n + nChunks - 1) / nChunks)
    val actual = (n + chunk - 1) / chunk
    val threads = math.min(Runtime.getRuntime.availableProcessors, actual)
    if (threads <= 1) {
      var ci = 0
      while (ci < actual) {
        body(ci * chunk, math.min(n, (ci + 1) * chunk), ci); ci += 1
      }
      return
    }
    val next = new java.util.concurrent.atomic.AtomicInteger(0)
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val ts = (0 until threads).map { _ =>
      new Thread(() =>
        try {
          var ci = next.getAndIncrement()
          while (ci < actual && err.get() == null) {
            body(ci * chunk, math.min(n, (ci + 1) * chunk), ci)
            ci = next.getAndIncrement()
          }
        } catch { case t: Throwable => err.compareAndSet(null, t) })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    if (err.get() != null) throw err.get()
  }

  private[embed] def chunkCountFor(n: Int, maxChunks: Int = 64): Int =
    if (n < 4096) 1
    else {
      val chunk = math.max(1, (n + maxChunks - 1) / maxChunks)
      (n + chunk - 1) / chunk
    }

  /** Chunk-count cap for the Lloyd pass, whose per-chunk partial buffers
    * are k × dim doubles EACH: 64 chunks at the cells-route cap (k=1024,
    * dim=768) would be ~400 MB of driver partials — enough to OOM a
    * default heap. Bound total partials to ~64 MB. A pure function of
    * (k, dim) — never machine load — so fitted centroids stay
    * deterministic on any core count.
    */
  private[graft] def lloydChunkCap(k: Int, dim: Int): Int = {
    val budgetBytes = 64L << 20
    math.max(1, math.min(64L, budgetBytes / math.max(1L, k.toLong * dim * 8)).toInt)
  }

  /** Seeded k-means fit with restarts. NOTE the restart-work cap: when a
    * single Lloyd pass exceeds `maxRestartFlops` (n·k·dim·maxIter flops),
    * `nRestarts` is IGNORED and exactly one restart runs — on a big
    * sample, k-means++ init makes marginal restarts nearly worthless and
    * the cap keeps fit cost bounded. Callers that genuinely want multiple
    * restarts on a large fit must raise `maxRestartFlops` explicitly.
    * Deterministic: the effective restart count is a pure function of
    * (n, k, dim, maxIter, maxRestartFlops), never machine load.
    */
  def fitCentroids(points0: Array[Array[Float]], k: Int, seed: Long,
      maxIter: Int = 20, nRestarts: Int = 5,
      maxRestartFlops: Double = 2e9): Array[Array[Float]] = {
    val points = points0.clone()
    java.util.Arrays.sort(points, new java.util.Comparator[Array[Float]] {
      override def compare(a: Array[Float], b: Array[Float]): Int = {
        val n = math.min(a.length, b.length)
        var i = 0
        while (i < n) {
          val c = java.lang.Float.compare(a(i), b(i))
          if (c != 0) return c
          i += 1
        }
        java.lang.Integer.compare(a.length, b.length)
      }
    })
    def sse(cents: Array[Array[Float]]): Double = {
      val partials = new Array[Double](chunkCountFor(points.length))
      parChunks(points.length) { (s, e, ci) =>
        var total = 0.0
        var p = s
        while (p < e) {
          val pt = points(p)
          var best = Double.MaxValue
          var c = 0
          while (c < cents.length) {
            var d = 0.0; var i = 0
            while (i < pt.length) { val x = pt(i).toDouble - cents(c)(i); d += x * x; i += 1 }
            if (d < best) best = d
            c += 1
          }
          total += best
          p += 1
        }
        partials(ci) = total
      }
      // Chunk-order merge: deterministic FP sum on any thread count.
      var t = 0.0; var ci = 0
      while (ci < partials.length) { t += partials(ci); ci += 1 }
      t
    }
    // Restarts buy conditioning on SMALL fits; on a big sample each Lloyd
    // pass is already n·k·dim·iters flops and k-means++ init makes the
    // marginal restart nearly worthless — cap the total work instead of
    // paying 5× on a 60k-point fit. Deterministic: the count is a pure
    // function of (n, k, dim, maxIter), never of machine load.
    val flopsPerRestart =
      points.length.toDouble * k * points.headOption.map(_.length).getOrElse(0) * maxIter
    val restarts =
      if (flopsPerRestart > maxRestartFlops) 1 else math.max(1, nRestarts)
    if (restarts == 1) lloyd(points, k, seed, maxIter) // no rival → no SSE pass
    else (0 until restarts)
      .map(r => lloyd(points, k, seed + r, maxIter))
      .minBy(sse)
  }

  /** Seeded Lloyd's k-means over a driver-local sample: deterministic
    * shuffled-distinct init, squared-Euclidean assignment (ties → lowest
    * index, matching [[graft.functions.NearestCentroid]]), mean update,
    * empty clusters keep their previous centroid.
    */
  private[embed] def lloyd(points: Array[Array[Float]], k: Int, seed: Long,
      maxIter: Int): Array[Array[Float]] = {
    require(points.nonEmpty, "IVF fit sample is empty")
    val dim = points.head.length
    val rng = new scala.util.Random(seed)

    // Seeded k-means++ init (Arthur & Vassilvitskii 2007): first centroid
    // uniform, each next sampled with probability ∝ squared distance to the
    // nearest chosen centroid — deterministic given the seed, and far
    // better-conditioned than uniform init on small samples.
    def d2(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < dim) { val d = a(i).toDouble - b(i); s += d * d; i += 1 }
      s
    }
    val init = scala.collection.mutable.ArrayBuffer[Array[Float]](
      points(rng.nextInt(points.length)).clone())
    val minD2 = points.map(p => d2(p, init.head))
    while (init.length < math.max(1, k)) {
      val total = minD2.sum
      val pick =
        if (total <= 0) points(rng.nextInt(points.length)) // all points identical
        else {
          var u = rng.nextDouble() * total
          var i = 0
          while (i < points.length - 1 && u > minD2(i)) { u -= minD2(i); i += 1 }
          points(i)
        }
      init += pick.clone()
      // Parallel distance refresh: independent per-point writes, no merge.
      parChunks(points.length) { (s, e, _) =>
        var i = s
        while (i < e) {
          val d = d2(points(i), pick)
          if (d < minD2(i)) minD2(i) = d
          i += 1
        }
      }
    }
    val centroids = init.toArray
    val assign = new Array[Int](points.length)
    val chunkCap = lloydChunkCap(centroids.length, dim)
    val nChunks = chunkCountFor(points.length, chunkCap)
    // Buffers hoisted out of the iteration loop (nChunks×k×dim doubles —
    // allocated once and zeroed per pass, not reallocated ×maxIter) and
    // BOUNDED via lloydChunkCap: big k·dim shrinks the chunk count so the
    // partials never exceed ~64 MB however large the fit.
    val chunkChanged = new Array[Boolean](nChunks)
    val partSums =
      Array.fill(nChunks, centroids.length)(new Array[Double](dim))
    val partCounts = Array.fill(nChunks)(new Array[Long](centroids.length))
    var iter = 0
    var changed = true
    while (iter < maxIter && changed) {
      // One parallel pass does assignment AND per-chunk partial sums; the
      // partials merge in chunk-index order so the new centroids are
      // bit-identical on any thread count.
      java.util.Arrays.fill(chunkChanged, false)
      var zc = 0
      while (zc < nChunks) {
        java.util.Arrays.fill(partCounts(zc), 0L)
        var zk = 0
        while (zk < centroids.length) {
          java.util.Arrays.fill(partSums(zc)(zk), 0.0); zk += 1
        }
        zc += 1
      }
      parChunks(points.length, chunkCap) { (s, e, ci) =>
        val sums = partSums(ci)
        val counts = partCounts(ci)
        var p = s
        while (p < e) {
          val pt = points(p)
          var best = 0
          var bestDist = Double.MaxValue
          var c = 0
          while (c < centroids.length) {
            val cent = centroids(c)
            var dist = 0.0
            var i = 0
            while (i < dim) { val d = pt(i).toDouble - cent(i); dist += d * d; i += 1 }
            if (dist < bestDist) { bestDist = dist; best = c }
            c += 1
          }
          if (assign(p) != best) { assign(p) = best; chunkChanged(ci) = true }
          counts(best) += 1
          val sb = sums(best)
          var i = 0
          while (i < dim) { sb(i) += pt(i); i += 1 }
          p += 1
        }
      }
      changed = chunkChanged.exists(identity)
      var c = 0
      while (c < centroids.length) {
        var count = 0L
        val sum = new Array[Double](dim)
        var ci = 0
        while (ci < nChunks) {
          count += partCounts(ci)(c)
          val ps = partSums(ci)(c)
          var i = 0
          while (i < dim) { sum(i) += ps(i); i += 1 }
          ci += 1
        }
        if (count > 0) {
          var i = 0
          while (i < dim) { centroids(c)(i) = (sum(i) / count).toFloat; i += 1 }
        }
        c += 1
      }
      iter += 1
    }
    centroids
  }

  /** The cells payload for a codec — IVF-SQ8 (int8 codes + per-vector
    * scale: ~4× smaller files, dequantized inside the probe scan, see
    * [[Quantize]]) or raw float vectors. Shared by [[save]] and [[append]]
    * so the two writers cannot drift apart on the saved layout.
    */
  private def codecPayload(df: DataFrame, c: String, idCol: String,
      sq8: Boolean): DataFrame = {
    val v = EmbedOps.vecCol(c)
    if (sq8) {
      val scale = Quantize.sq8Scale(col(v))
      df.select(col(idCol),
        scale.as(Quantize.scaleCol(c)),
        Quantize.sq8Codes(col(v), scale).as(Quantize.codesCol(c)),
        col(cellCol))
    } else df.select(col(idCol), col(v), col(cellCol))
  }

  /** Persist as a cell-partitioned parquet index: `(id, vector)` rows under
    * `__ivf_cell=<k>/` directories plus the centroid table — the durable form
    * whose probe reads prune at the file level.
    */
  /** Sampled mean squared assignment distance — the quantizer-fit
    * statistic [[describe]] compares against. Content-hash sampling
    * (the [[build]] convention: membership is a pure function of the
    * vector, so the statistic is partitioning-independent), bounded at
    * `sampleTarget` expected rows.
    */
  private def sampledMeanSqDist(df: DataFrame, v: String,
      centroids: Array[Array[Float]], sampleTarget: Int = 4096,
      seed: Long = 42, knownRows: Long = -1L): Double = {
    // `knownRows` spares the exact count job when the caller already
    // aggregated it (describe()'s occupancy pass) or can read it from
    // parquet metadata (save() right after the cells write).
    val n = if (knownRows >= 0) knownRows else df.count()
    if (n == 0) return 0.0
    val frac = math.min(1.0, sampleTarget.toDouble / n)
    val sampled = graft.core.TierChoice.sample(df, v, frac, seed)
    val r = sampled.agg(avg(
      graft.functions.VectorExprs.nearestCentroidDist(col(v), centroids))).head()
    if (r.isNullAt(0)) 0.0 else r.getDouble(0)
  }

  /** Sampled mean squared assignment distance over a CELLS frame, sniffing
    * the codec from the columns (raw vectors, or SQ8 codes dequantized to
    * the representation search scores); −1 when neither layout is present
    * (PQ collections measure drift via their own reconstruction). Shared by
    * [[save]] (fit-time reference over the just-written cells) and
    * [[describe]] (current value) so the two sides of the drift ratio can
    * never sample different representations.
    */
  private def cellsMeanSqDist(cells: DataFrame,
      centroids: Array[Array[Float]], knownRows: Long = -1L): Double = {
    val rawCol = cells.columns.find(_.startsWith("__vec_"))
    val scaleColName = cells.columns.find(_.startsWith("__sq8_scale_"))
    val codesColName = cells.columns
      .find(cn => cn.startsWith("__sq8_") && !cn.startsWith("__sq8_scale_"))
    rawCol match {
      case Some(v) => sampledMeanSqDist(cells, v, centroids, knownRows = knownRows)
      case None => (codesColName, scaleColName) match {
        case (Some(codes), Some(scale)) =>
          val dq = cells.withColumn("__dq_vec",
            Quantize.sq8Dequant(col(codes), col(scale)).cast("array<float>"))
          sampledMeanSqDist(dq, "__dq_vec", centroids, knownRows = knownRows)
        case _ => -1.0
      }
    }
  }

  def save(indexed: DataFrame, model: IvfModel, c: String, idCol: String, path: String,
      sq8: Boolean = false): Unit = {
    // Cluster rows by cell before the partitioned write: otherwise every
    // task writes a file into every cell directory (tasks × cells small
    // files — a metadata bomb at corpus scale).
    codecPayload(indexed, c, idCol, sq8)
      .repartition(col(cellCol))
      .write.mode("overwrite").partitionBy(cellCol).parquet(s"$path/cells")
    // The fit-time assignment-distance reference rides the sidecar so
    // [[describe]] can report how far APPENDED data has drifted off the
    // trained centroids (FAISS's add-after-train contract says re-fit
    // when the distribution moves — this makes "moved" measurable).
    // Measured on the JUST-WRITTEN cells — exactly the representation
    // describe() re-samples (SQ8: dequantized from the stored codes, so
    // the ratio measures drift, never the codec's reconstruction error)
    // — so the reference costs one parquet-metadata row count plus one
    // sampled aggregate over the compact codec payload, instead of two
    // extra jobs re-running the quantize chain over the upstream plan
    // (the r14 ann_sq8_search regression, +0.75 s at sf0.1).
    // Explicit schema (the payload's own): an empty index writes no part
    // files, and schema inference over the bare directory would throw.
    val written = indexed.sparkSession.read
      .schema(codecPayload(indexed, c, idCol, sq8).schema)
      .parquet(s"$path/cells")
    val fitDist = cellsMeanSqDist(written, model.centroids,
      knownRows = written.count())
    // The centroid table is driver-side metadata (nCells × dim floats):
    // one small JSON sidecar, not a Spark write job.
    graft.core.MetaIo.write(indexed.sparkSession, s"$path/centroids.json",
      "{\"centroids\":" + graft.core.MetaIo.floatMatrixJson(model.centroids) +
        s""","fitMeanSqDist":$fitDist}""")
    // A rebuild supersedes any interrupted append — clear its dangling mark.
    graft.core.BatchCommit.clearMark(indexed.sparkSession, path)
  }

  /** Append new vectors to a SAVED index without a rebuild — the growth
    * path of a living corpus. The existing centroids stay the quantizer
    * (the FAISS add-after-train contract: cells only drift if the data
    * distribution does — re-fit when probe recall degrades), new rows are
    * assigned with the same tight-loop expression, and the cell-partitioned
    * layout extends in place via dynamic-partition append, so only the
    * touched cell directories gain files. Cost: ONE assignment scan of the
    * new batch — the existing index is never read (centroids sidecar +
    * parquet footers only) and never rewritten. Float and SQ8 layouts;
    * PQ collections need the codebook encode, re-index those via IvfVS.
    *
    * Crash-safe via the [[graft.core.BatchCommit]] two-phase mark: a crash
    * mid-append is recovered by re-running the same batch (exactly-once —
    * the partial adoption is cleaned up first), and a replay of a committed
    * batch is a no-op. `token` defaults to the batch's content hash;
    * streaming callers pass their batch id so a recovery replay (whose
    * redelivered frame is the same micro-batch) keeps the original token.
    */
  def append(df: DataFrame, c: String, idCol: String, path: String,
      token: Option[String] = None): Unit = {
    val spark = df.sparkSession
    val metaPath = s"$path/centroids.json"
    require(graft.core.MetaIo.exists(spark, metaPath),
      s"IvfIndex.append: no index at $path (missing centroids.json)")
    require(!graft.core.MetaIo.exists(spark, s"$path/pq.json"),
      s"IvfIndex.append: $path is a PQ collection — append via a PQ re-encode, not the raw-vector path")
    val centroids = graft.core.MetaIo.floatMatrix(
      graft.core.MetaIo.parse(graft.core.MetaIo.read(spark, metaPath)).path("centroids"))
    val model = IvfModel(centroids)
    val pre0 = graft.core.BatchCommit.preflight(df, idCol,
      graft.core.BatchCommit.readTombstones(spark, path))
    // An empty batch is a no-op, not an error: vecDimOf would fall back to
    // the session embedder's dim and raise a spurious dim-mismatch.
    if (pre0.rows == 0L) return
    val indexed = EmbedOps.semIndex(df, c)
    val v = EmbedOps.vecCol(c)
    val dim = EmbedOps.vecDimOf(indexed, v)
    require(dim == model.dim,
      s"IvfIndex.append: batch dim $dim != index dim ${model.dim}")
    val assigned = indexed.withColumn(cellCol,
      graft.functions.VectorExprs.nearestCentroid(col(v), centroids))
    val existing = graft.core.BatchCommit.readData(spark, path, "cells")
      .schema.fieldNames.toSet
    val payload = codecPayload(assigned, c, idCol,
      sq8 = existing.contains(Quantize.codesCol(c)))
    require(payload.schema.fieldNames.toSet == existing,
      s"IvfIndex.append: batch columns ${payload.schema.fieldNames.toSet} " +
        s"do not match the saved layout $existing (same idCol and vector column required)")
    val pre = token.fold(pre0)(t => pre0.copy(token = t))
    graft.core.BatchCommit.appendExactlyOnce(spark, path, "cells", pre,
      graft.core.BatchCommit.tombstonedRefusal("IvfIndex.append", path),
      sidecarState = Map.empty,
      writeStaged = staging =>
        payload
          .repartition(col(cellCol))
          .write.mode("overwrite").partitionBy(cellCol).parquet(staging),
      updateSidecar = _ => ())
  }

  /** Delete ids from a SAVED index without rewriting cells — the
    * "right to be forgotten" path at corpus scale: the ids are recorded as
    * tombstones that [[load]] subtracts (anti-join), so a deletion batch
    * costs O(batch) write and ZERO index IO. Idempotent by construction
    * (content-token batch directory, [[graft.core.BatchCommit]] protocol).
    *
    * A tombstone shadows its id until [[compactDeletes]] reclaims the
    * space; re-appending a tombstoned id is refused loudly by [[append]]'s
    * preflight (the anti-join would silently swallow the new row) — compact
    * first. Returns the number of distinct ids tombstoned.
    */
  def delete(df: DataFrame, idCol: String, path: String): Long = {
    require(graft.core.MetaIo.exists(df.sparkSession, s"$path/centroids.json"),
      s"IvfIndex.delete: no index at $path (missing centroids.json)")
    graft.core.BatchCommit.writeTombstones(df, idCol, path)
  }

  /** Rewrite a tombstoned index at `dest` WITHOUT the deleted rows —
    * deliberately never in place (the [[graft.operators.CorpusPrep.compact]]
    * contract: a crashed compaction leaves `src` untouched). Payload is
    * copied as-is (float or SQ8 codes — no re-encode), quantizer sidecars
    * verbatim; `dest` starts tombstone-free.
    */
  def compactDeletes(spark: SparkSession, src: String, dest: String): Unit = {
    require(src != dest, "compactDeletes: dest must differ from src (no in-place rewrite)")
    val (cells, _) = load(spark, src) // tombstones already subtracted
    cells.repartition(col(cellCol))
      .write.mode("overwrite").partitionBy(cellCol).parquet(s"$dest/cells")
    Seq("centroids.json", "pq.json").foreach { f =>
      if (graft.core.MetaIo.exists(spark, s"$src/$f"))
        graft.core.MetaIo.write(spark, s"$dest/$f",
          graft.core.MetaIo.read(spark, s"$src/$f"))
    }
  }

  /** Load a saved index: the cell-partitioned vector frame + centroids.
    * Falls back to the legacy `centroids/` parquet directory for indexes
    * saved before the JSON format.
    */
  def load(spark: SparkSession, path: String): (DataFrame, IvfModel) = {
    val (cells, model, _) = loadWithMeta(spark, path)
    (cells, model)
  }

  /** [[load]] + the parsed centroids sidecar (None when the index uses
    * the parquet-centroid fallback layout) — so [[describe]] reads and
    * parses the sidecar ONCE instead of re-fetching it for the drift
    * reference (two extra metadata round-trips per call on object
    * storage).
    */
  private def loadWithMeta(spark: SparkSession, path: String)
      : (DataFrame, IvfModel, Option[com.fasterxml.jackson.databind.JsonNode]) = {
    // A dangling append mark means the cells may hold a partial batch.
    graft.core.BatchCommit.requireClean(spark, path, "IvfIndex")
    val cells0 = graft.core.BatchCommit.readData(spark, path, "cells")
    // Tombstoned ids are subtracted at load: the scan's partition pruning
    // is unaffected (the anti-join sits above it) and the deletion set
    // broadcasts while small.
    val cells = graft.core.BatchCommit.subtractTombstones(spark, path, cells0)
    val metaPath = s"$path/centroids.json"
    val (centroids, meta) =
      if (graft.core.MetaIo.exists(spark, metaPath)) {
        val node = graft.core.MetaIo.parse(
          graft.core.MetaIo.read(spark, metaPath))
        (graft.core.MetaIo.floatMatrix(node.path("centroids")), Some(node))
      } else {
        (spark.read.parquet(s"$path/centroids")
          .select("cell", "centroid").orderBy("cell").collect()
          .map(_.getAs[Seq[Float]]("centroid").toArray), None)
      }
    (cells, IvfModel(centroids), meta)
  }

  /** Top-k search over an indexed frame: probe the `nProbe` cells nearest the
    * query, exact cosine inside them, global top-k. With a [[save]]d index the
    * cell filter is partition-pruning; in-memory it is still a codegen'd
    * filter that skips (nCells-nProbe)/nCells of the rows. A frame loaded
    * from an IVF-SQ8 index (codes + scale columns instead of the vector
    * column) is scored on the dequantized vectors transparently.
    */
  def search(indexed: DataFrame, model: IvfModel, c: String, qv: Seq[Float], k: Int,
      nProbe: Int, scoreCol: String = "vec_scores",
      tieBreak: Seq[org.apache.spark.sql.Column] = Nil): DataFrame = {
    require(nProbe >= 1, "nProbe must be >= 1")
    val probed = model.rankCells(qv).take(math.min(nProbe, model.nCells))
    val v = EmbedOps.vecCol(c)
    val (scoreExpr, payloadCols) =
      if (indexed.columns.contains(v))
        (EmbedOps.cosineSim(col(v), lit(qv.toArray)), Seq(v))
      else if (indexed.columns.contains(Quantize.codesCol(c)))
        (Quantize.sq8CosineToQuery(col(Quantize.codesCol(c)), col(Quantize.scaleCol(c)), qv),
          Seq(Quantize.codesCol(c), Quantize.scaleCol(c)))
      else throw new IllegalArgumentException(
        s"IVF search: frame has neither $v nor ${Quantize.codesCol(c)}")
    indexed.filter(col(cellCol).isin(probed.map(Integer.valueOf).toSeq: _*))
      .withColumn(scoreCol, scoreExpr)
      .orderBy(col(scoreCol).desc +: tieBreak: _*)
      .limit(k)
      .drop(payloadCols :+ cellCol: _*)
  }

  /** Batch retrieval: top-k per query over ONE distributed job — the
    * RAG-eval / recommendation workload where the query set is itself a
    * table (thousands to millions of rows). Per-query [[search]] calls
    * would be Q driver-scheduled jobs; here every query computes its probe
    * set inside the scan ([[graft.functions.ProbeCells]]), explodes to
    * (query, cell) pairs, and ONE equi-join on the cell column delivers
    * exactly the IVF candidate set — over a [[save]]d index the cell join
    * key is also the partition key, so candidates co-locate without
    * touching unprobed cells. Per-query top-k lowers to WindowGroupLimit
    * (each map task keeps ≤ k rows per query before the single shuffle).
    *
    * `queries` must not share column names with the index frame (rename
    * to e.g. `qid`/`qvec`); pass `tieBreak` for deterministic results.
    */
  def searchBatch(indexed: DataFrame, model: IvfModel, c: String,
      queries: DataFrame, queryIdCol: String, queryVecCol: String,
      k: Int, nProbe: Int, scoreCol: String = "vec_scores",
      tieBreak: Seq[org.apache.spark.sql.Column] = Nil): DataFrame = {
    require(nProbe >= 1, "nProbe must be >= 1")
    val v = EmbedOps.vecCol(c)
    require(indexed.columns.contains(v),
      s"IVF searchBatch: frame lacks $v — load a raw-vector index " +
        "(SQ8/PQ collections batch-search via their dequantized load path)")
    val overlap = indexed.columns.toSet.intersect(queries.columns.toSet)
    require(overlap.isEmpty,
      s"IVF searchBatch: rename query columns colliding with the index: $overlap")
    val probeCol = "__probe_cell"
    val probes = queries.select(col(queryIdCol), col(queryVecCol),
      explode(graft.functions.VectorExprs.probeCells(
        col(queryVecCol), model.centroids, nProbe)).as(probeCol))
    val scored = indexed.join(probes, col(cellCol) === col(probeCol))
      .withColumn(scoreCol, EmbedOps.cosineSim(col(v), col(queryVecCol)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(queryIdCol))
      .orderBy(col(scoreCol).desc +: tieBreak: _*)
    scored.withColumn("__rank", row_number().over(w))
      .filter(col("__rank") <= k)
      .drop("__rank", probeCol, cellCol, v, queryVecCol)
  }

  /** Federated top-k over SEVERAL saved indexes — the multi-generation
    * layout: incremental pipelines keep per-epoch shards (each with its
    * own quantizer) instead of rewriting one monolith, and a query probes
    * every shard and merges. Each shard is searched with ITS OWN centroid
    * table (cell ids are quantizer-local — unioning cell frames across
    * shards would be meaningless), the per-shard top-k lists union (k
    * rows per shard, driver-free), and one global re-sort takes the final
    * k. Exact when every shard probes exhaustively, because top-k over a
    * disjoint union is the merge of per-shard top-k.
    */
  def searchSharded(spark: SparkSession, paths: Seq[String], c: String,
      qv: Seq[Float], k: Int, nProbe: Int, scoreCol: String = "vec_scores",
      tieBreak: Seq[org.apache.spark.sql.Column] = Nil): DataFrame = {
    require(paths.nonEmpty, "searchSharded: no index shards")
    val perShard = paths.map { p =>
      val (cells, model) = load(spark, p)
      search(cells, model, c, qv, k, nProbe, scoreCol, tieBreak)
    }
    perShard.reduce(_ unionByName _)
      .orderBy(col(scoreCol).desc +: tieBreak: _*)
      .limit(k)
  }

  /** Index observability: the numbers an operator checks before trusting a
    * path — cells, dim, live rows, per-cell min/max occupancy (skew), and
    * how many ids are tombstoned awaiting compaction. One pruned-free
    * metadata read + one narrow aggregate.
    */
  /** Drift ratio above which [[describe]] recommends re-training the
    * coarse quantizer: the CURRENT sampled mean squared assignment
    * distance grew ≥ 1.5× over the fit-time reference. Appends that
    * match the trained distribution hold the ratio near 1; data that
    * drifted off the centroids sits measurably farther from its
    * assigned cell, degrading probe recall long before occupancy skew
    * shows it. 1.5 is a conservative default — at that point a partial
    * probe is reading cells whose geometry no longer reflects the data.
    */
  val RetrainDriftRatio = 1.5

  /** `fitMeanSqDist` / `curMeanSqDist` are the quantizer-staleness
    * signals (−1 when the index predates the drift sidecar field);
    * `driftRatio` = cur/fit and `retrainRecommended` = ratio ≥
    * [[RetrainDriftRatio]] (never recommended when the reference is
    * unavailable — unknown is not stale).
    */
  final case class IndexInfo(nCells: Int, dim: Int, rows: Long,
      minCellRows: Long, maxCellRows: Long, emptyCells: Int,
      tombstoned: Long, fitMeanSqDist: Double = -1.0,
      curMeanSqDist: Double = -1.0, driftRatio: Double = -1.0,
      retrainRecommended: Boolean = false)

  def describe(spark: SparkSession, path: String): IndexInfo = {
    val (cells, model, meta) = loadWithMeta(spark, path)
    val occ = cells.groupBy(col(cellCol)).agg(count(lit(1)).as("n"))
      .agg(sum("n"), min("n"), max("n"), count(lit(1))).head()
    val tomb = graft.core.BatchCommit.readTombstones(spark, path)
      .map(_.count()).getOrElse(0L)
    // groupBy only surfaces NONEMPTY cells — a collapsed quantizer (all
    // rows in one cell) would otherwise read as min == max == rows, i.e.
    // no skew at all. Empty cells are the skew signal, so they force
    // minCellRows to 0 and are counted out loud.
    val nonEmpty = if (occ.isNullAt(3)) 0 else occ.getLong(3).toInt
    val empty = model.nCells - nonEmpty
    // Quantizer staleness: fit-time reference from the sidecar (absent
    // on pre-drift indexes), current value re-sampled over the cells as
    // they stand — appends included, tombstones excluded. SQ8 layouts
    // measure on the dequantized vectors (the same representation
    // search scores).
    val fitDist = meta match {
      case Some(m) if m.has("fitMeanSqDist") =>
        m.path("fitMeanSqDist").doubleValue()
      case _ => -1.0
    }
    // The occupancy aggregate already counted the live rows — reuse it
    // instead of a second full count job inside the sampler.
    val liveRows = if (occ.isNullAt(0)) 0L else occ.getLong(0)
    val curDist = cellsMeanSqDist(cells, model.centroids, knownRows = liveRows)
    val ratio =
      if (fitDist > 0 && curDist >= 0) curDist / fitDist else -1.0
    IndexInfo(model.nCells, model.dim,
      if (occ.isNullAt(0)) 0L else occ.getLong(0),
      if (empty > 0 || occ.isNullAt(1)) 0L else occ.getLong(1),
      if (occ.isNullAt(2)) 0L else occ.getLong(2), empty, tomb,
      fitDist, curDist, ratio,
      retrainRecommended = ratio >= RetrainDriftRatio)
  }

  /** Text-query convenience: embed with the session embedder, then [[search]]. */
  def searchText(indexed: DataFrame, model: IvfModel, c: String, query: String, k: Int,
      nProbe: Int, scoreCol: String = "vec_scores",
      tieBreak: Seq[org.apache.spark.sql.Column] = Nil): DataFrame = {
    val qv = graft.core.Sem.settings.embedder.embedOne(query).toIndexedSeq
    search(indexed, model, c, qv, k, nProbe, scoreCol, tieBreak)
  }
}
