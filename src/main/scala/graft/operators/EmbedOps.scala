package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.{Bounded, Sem}
import graft.embed.Embedder

/** Embedding-layer operators (reference lotus/sem_ops/{sem_index, sem_search,
  * sem_sim_join, sem_cluster_by, sem_dedup, sem_partition_by}.py).
  *
  * Design deviation from the reference, on purpose: instead of a side-file
  * FAISS index pinned to `df.attrs`, the "index" is a *vector column* carried
  * in the DataFrame itself (`__vec_<col>`), persisted like any other data.
  * That is the Spark-native layout — vectors shuffle/prune/broadcast with the
  * rows, `semIndexSave`/`semLoadIndex` writes them as parquet `(id, vector)`
  * exactly like the reference's pickled matrix, and brute-force inner product
  * matches FaissVS flat-IP semantics bit-for-bit (faiss_vs.py:13-77).
  */
object EmbedOps {

  def vecCol(c: String): String = s"__vec_$c"

  /** Broadcast budget for the pair-verify joins in [[neardupPairs]]: when
    * the DISTINCT (id, vector) frame fits (128 MB ≈ 500k 64-dim floats),
    * the exact-cosine verification broadcasts it instead of shuffling the
    * candidate-pair frame — at the perturbed ×100 stress geometry the
    * candidates are ~100M rows and the vectors ~50 MB, so the shuffle
    * savings is the whole candidate set, twice, plus the pre-verify
    * distinct. Past the budget the route falls back to the narrow
    * (id1, id2) dedup + shuffle-join shape that scales to any corpus.
    */
  val verifyBroadcastMaxBytes: Long = 128L << 20

  /** Default within-cell candidate-pair budget for the [[neardupPairs]]
    * cells route: ~2·10⁹ exact-cosine verifications is minutes of cluster
    * work — a layout past it is almost certainly degenerate (the bounded
    * fit's k=1024 cap outgrown, or an embedding space collapsed into few
    * cells) and the route refuses loudly instead of silently going
    * quadratic. Tunable per call via `maxCandidatePairs`.
    */
  val defaultMaxCandidatePairs: Long = 2000000000L

  /** Probe tiers the [[neardupPairs]] recall-aware auto route considers
    * (cheapest first; nested, so one sampled assignment measures all) and
    * the bounded sample its estimator spends. Tier 8 is the ceiling the
    * auto route will pay without an explicit decision — past it the cell
    * geometry itself is wrong for the data (raise `targetCellSize`) and
    * more probes are the expensive answer.
    */
  val autoProbeTiers: Seq[Int] = Seq(1, 2, 4, 8)
  val autoRecallSampleSize: Int = 4096

  /** Cosine similarity between two numeric array columns, via the codegen'd
    * [[graft.functions.ArrayDotProduct]] primitive — no intermediate arrays,
    * no lambda interpretation (the higher-order-function composition
    * allocates per row, which dominates N²-pair similarity scans).
    */
  def cosineSim(a: Column, b: Column): Column = {
    val dot = graft.functions.VectorExprs.arrayDot(a, b)
    val na = sqrt(graft.functions.VectorExprs.arrayDot(a, a))
    val nb = sqrt(graft.functions.VectorExprs.arrayDot(b, b))
    dot / (na * nb)
  }

  def dotProduct(a: Column, b: Column): Column =
    graft.functions.VectorExprs.arrayDot(a, b)

  /** sem_index: append an embedding column for `c`, batched per partition. */
  def semIndex(df: DataFrame, c: String, embedder: Embedder = null): DataFrame = {
    val emb = Option(embedder).getOrElse(Sem.settings.embedder)
    val out = vecCol(c)
    if (df.columns.contains(out)) return df
    val idx = df.schema.fieldIndex(c)
    val schema = StructType(df.schema.fields :+
      StructField(out, ArrayType(FloatType, containsNull = false)))
    df.mapPartitions { iter =>
      iter.grouped(512).flatMap { rows =>
        val texts = rows.map(r => Option(r.get(idx)).map(_.toString).getOrElse(""))
        val vecs = emb.embed(texts)
        rows.lazyZip(vecs).map((r, v) => Row.fromSeq(r.toSeq :+ v.toIndexedSeq))
      }
    }(Encoders.row(schema))
  }

  /** Persist the index column durably. With `Settings.vs` configured the
    * write routes through the store (`path` is the collection name) — e.g.
    * [[graft.embed.IvfVS]] builds and saves the cell-partitioned ANN index
    * here, exactly like the reference's settings-level FAISS store;
    * otherwise the default is parquet `(id, vector)` at `path`.
    */
  def semIndexSave(df: DataFrame, c: String, idCol: String, path: String): DataFrame = {
    val indexed = semIndex(df, c)
    Sem.settings.vs match {
      case Some(vs) => vs.index(indexed, idCol, vecCol(c), path)
      case None =>
        indexed.select(col(idCol), col(vecCol(c))).write.mode("overwrite").parquet(path)
    }
    indexed
  }

  /** Attach a saved index by joining the vectors back on `idCol` (reads
    * through `Settings.vs` when configured, mirroring [[semIndexSave]]).
    */
  def semLoadIndex(df: DataFrame, c: String, idCol: String, path: String): DataFrame = {
    val vecs = Sem.settings.vs match {
      case Some(vs) =>
        vs.load(df.sparkSession, path)
          .select(col("id").as(idCol), col("vector").as(vecCol(c)))
      case None => df.sparkSession.read.parquet(path)
    }
    df.join(vecs, Seq(idCol), "left")
  }

  /** sem_search against a settings-configured [[graft.embed.VectorStore]]
    * collection: embeds the query on the driver and delegates the top-k to
    * the store — the probe-pruned ANN tier when the store is
    * [[graft.embed.IvfVS]], exact parquet/remote search otherwise. Returns
    * `(id, score)` like the store contract.
    */
  def semSearchStore(spark: org.apache.spark.sql.SparkSession, collection: String,
      query: String, k: Int): DataFrame =
    semSearchStoreVec(spark, collection,
      Sem.settings.embedder.embedOne(query).toIndexedSeq, k)

  /** [[semSearchStore]] against a precomputed query vector. */
  def semSearchStoreVec(spark: org.apache.spark.sql.SparkSession, collection: String,
      qv: Seq[Float], k: Int): DataFrame = {
    val vs = Sem.settings.vs.getOrElse(throw new IllegalArgumentException(
      "semSearchStore requires Settings.vs to be configured"))
    vs.search(spark, collection, qv, k)
  }

  /** sem_search: top-k rows most similar to `query`. Exact brute force —
    * embed query on the driver, score natively, global top-k via
    * orderBy+limit (Spark lowers this to TakeOrderedAndProject: per-partition
    * heaps, no full sort — the scalable exact layout).
    */
  def semSearch(df: DataFrame, c: String, query: String, k: Int,
      scoreCol: String = "vec_scores", tieBreak: Seq[Column] = Nil,
      nRerank: Int = 0, reranker: graft.embed.Reranker = null): DataFrame = {
    val emb = Sem.settings.embedder
    semSearchVec(df, c, emb.embedOne(query).toIndexedSeq, k, scoreCol, tieBreak,
      nRerank, Option(reranker).getOrElse(Sem.settings.reranker), Some(query))
  }

  /** [[semSearch]] against a precomputed query vector (the operator core —
    * also the entry point when the column already carries stored vectors,
    * like the reference's search over an attached index).
    */
  def semSearchVec(df: DataFrame, c: String, qv: Seq[Float], k: Int,
      scoreCol: String = "vec_scores", tieBreak: Seq[Column] = Nil,
      nRerank: Int = 0, reranker: graft.embed.Reranker = graft.embed.LexicalReranker(),
      queryText: Option[String] = None): DataFrame = {
    val indexed = semIndex(df, c)
    // toArray: lit() rejects non-array Seq implementations (e.g. List from a
    // Dataset[Seq[Float]] decode); a primitive array is always literal-able.
    val score = cosineSim(col(vecCol(c)), lit(qv.toArray))
    val top = indexed.withColumn(scoreCol, score)
      .orderBy(col(scoreCol).desc +: tieBreak: _*)
      .limit(k)
      .drop(vecCol(c))
    if (nRerank <= 0) top
    else {
      // Cross-encoder rerank of the ≤k retrieved rows (bounded, like the
      // reference's n_rerank path, sem_search.py:148-155).
      val q = queryText.getOrElse(
        throw new IllegalArgumentException("nRerank requires the query text"))
      val spark = df.sparkSession
      val rows = top.collect()
      val idx = top.schema.fieldIndex(c)
      val order = reranker.rerank(q, rows.map(r => String.valueOf(r.get(idx))).toIndexedSeq,
        math.min(nRerank, rows.length))
      val picked = order.map(rows(_))
      spark.createDataFrame(
        spark.sparkContext.parallelize(picked.toSeq), top.schema)
    }
  }

  /** Matryoshka-style two-stage search: stage 1 ranks by cosine over the
    * FIRST `prefixDim` dimensions only (an MRL-trained embedding packs the
    * semantic mass into the prefix), keeps `candidates` rows; stage 2
    * reranks just those by full-dimension cosine and returns the top k.
    * At 100 TB stage 1 is the whole-corpus pass and it reads/multiplies
    * prefixDim/dim of the floats (a 64→512 prefix is an 8× cut in the
    * scan's compute); the exact full-dim pass touches only `candidates`
    * rows. Both stages stay codegen'd native expressions; the slice is
    * zero-copy over the ArrayData buffer.
    */
  def semSearchPrefix(df: DataFrame, c: String, qv: Seq[Float], k: Int,
      prefixDim: Int, candidates: Int, scoreCol: String = "vec_scores",
      tieBreak: Seq[Column] = Nil): DataFrame = {
    require(prefixDim >= 1 && prefixDim <= qv.length,
      s"prefixDim $prefixDim out of range for a ${qv.length}-dim query")
    require(candidates >= k,
      s"candidates $candidates must be >= k $k (stage 2 only reranks)")
    val indexed = semIndex(df, c)
    val v = vecCol(c)
    val pre = cosineSim(slice(col(v), 1, prefixDim),
      lit(qv.take(prefixDim).toArray))
    indexed.withColumn("__prefix_score", pre)
      .orderBy(col("__prefix_score").desc +: tieBreak: _*)
      .limit(candidates)
      .withColumn(scoreCol, cosineSim(col(v), lit(qv.toArray)))
      .orderBy(col(scoreCol).desc +: tieBreak: _*)
      .limit(k)
      .drop(v, "__prefix_score")
  }

  /** sem_sim_join: for each left row, the k nearest right rows by cosine on
    * the two columns' embeddings. Broadcast-hash layout: the right vector
    * table is broadcast (typical dims table), scoring is a nested-loop with
    * native expressions, per-left top-k via window rank. The rank-filter
    * shape matters: Spark lowers it to a two-phase WindowGroupLimit with the
    * partial limit BELOW the exchange, so only ≤ k rows per left key are
    * shuffled — the |L|×|R| pair stream never crosses the wire
    * (plan-asserted in PlanPropertiesSpec). Large×large uses
    * [[semSimJoinLSH]]; [[semSimJoinAuto]] routes between them by size.
    */
  def semSimJoin(left: DataFrame, right: DataFrame, leftOn: String, rightOn: String, k: Int,
      scoreCol: String = "_scores", broadcastRight: Boolean = true,
      tieBreak: Seq[Column] = Nil): DataFrame = {
    val li = semIndex(left, leftOn)
    val ri0 = semIndex(right, rightOn)
    val lv = vecCol(leftOn)
    // Same column (self sim-join): keep the two vector columns distinct
    // before the overlap renames.
    val rv = if (vecCol(rightOn) == lv) vecCol(rightOn + "__right") else vecCol(rightOn)
    val ri = if (rv != vecCol(rightOn)) ri0.withColumnRenamed(vecCol(rightOn), rv) else ri0
    val overlap = (li.columns.toSet & ri.columns.toSet) - lv
    val l2 = overlap.foldLeft(li)((d, x) => d.withColumnRenamed(x, s"$x:left"))
    val r2 = overlap.foldLeft(ri)((d, x) => d.withColumnRenamed(x, s"$x:right"))
    val lKey = uuidCol()
    val l3 = l2.withColumn(lKey, monotonically_increasing_id())
    val rb = if (broadcastRight) broadcast(r2) else r2
    val joined = l3.crossJoin(rb)
      .withColumn(scoreCol, cosineSim(col(lv), col(rv)))
    val w = Window.partitionBy(col(lKey)).orderBy(col(scoreCol).desc +: tieBreak: _*)
    joined.withColumn("__rnk", row_number().over(w))
      .filter(col("__rnk") <= k)
      .drop("__rnk", lKey, lv, rv)
  }

  /** Hard-negative mining for contrastive training: for each anchor, the
    * `k` most-similar embeddings whose `labelCol` DIFFERS — the negatives
    * that actually move a contrastive loss (random negatives are mostly
    * trivial; the hard ones sit near the decision boundary). The label
    * filter applies BEFORE the per-anchor top-k, so every anchor gets k
    * true negatives rather than k neighbors minus its same-label hits.
    * `anchors` and `corpus` are separate frames (mine a small anchor
    * batch against the whole pool; self-mining = pass the same frame —
    * an anchor can never draw itself, its own label matches). This is
    * the exact tier (broadcast corpus + per-anchor WindowGroupLimit —
    * the corpus side must fit in a broadcast); at full scale, over-fetch
    * through the IVF route instead ([[graft.embed.IvfIndex]] batch
    * search with nFetch ≫ k, then the same label-filter + rank) — the
    * standard recall/cost trade the ANN tiers already gate.
    * Deterministic: ties break on `neg_id`.
    */
  def hardNegatives(anchors: DataFrame, corpus: DataFrame, on: String,
      idCol: String, labelCol: String, k: Int, scoreCol: String = "_score",
      broadcastCorpus: Boolean = true): DataFrame = {
    require(k >= 1, s"hardNegatives: k $k must be >= 1")
    val v = vecCol(on)
    val a = semIndex(anchors, on).select(col(idCol).as("anchor_id"),
      col(labelCol).as("__al"), col(v).as("__av"))
    val b = semIndex(corpus, on).select(col(idCol).as("neg_id"),
      col(labelCol).as("neg_label"), col(v).as("__bv"))
    val joined = a.crossJoin(if (broadcastCorpus) broadcast(b) else b)
      .filter(col("__al") =!= col("neg_label"))
      .withColumn(scoreCol, cosineSim(col("__av"), col("__bv")))
    val w = Window.partitionBy(col("anchor_id"))
      .orderBy(col(scoreCol).desc, col("neg_id"))
    joined.withColumn("__rnk", row_number().over(w))
      .filter(col("__rnk") <= k)
      .select(col("anchor_id"), col("neg_id"), col("neg_label"),
        col(scoreCol))
  }

  /** [[hardNegatives]] at corpus scale through a built IVF index: fetch
    * the top-`nFetch` neighbors per anchor (cell-probed, `nProbe` of the
    * index's cells), THEN label-filter, then keep the best `k` — the
    * standard over-fetch pattern (fetching exactly k and filtering would
    * under-deliver whenever same-label neighbors crowd the top).
    * Approximate on two axes, both caller-visible: IVF probe recall
    * (nProbe < nCells can miss cells) and over-fetch truncation (an
    * anchor whose top-nFetch is same-label-saturated yields < k
    * negatives — raise nFetch). With nProbe = nCells the candidate set
    * is the full corpus and the two-stage truncation is deterministic
    * and engine-replayable (the gate's configuration). Ties break on
    * the index id at both stages.
    */
  /** The cheapest probe tier whose MEASURED fetch recall (recall@`nFetch`
    * vs the exact top-`nFetch`, averaged over a deterministic sample of
    * the anchors — [[graft.embed.IvfIndex.recallReport]]) meets
    * `targetRecall` — the [[hardNegativesIvf]] auto decision standalone,
    * the `Dedup.autoBands` / [[recommendCellProbes]] convention. Tiers
    * default to powers of two up to nCells; the exhaustive tier is
    * always offered (recall 1.0 by definition), and when no PARTIAL tier
    * measures up the fall-through to it is logged loudly — the report is
    * sampled, so a caller needing guaranteed recall must probe every
    * cell. Returns (probes, measured recall at them).
    */
  def recommendProbesForFetch(indexed: DataFrame,
      model: graft.embed.IvfIndex.IvfModel, on: String, anchors: DataFrame,
      idCol: String, nFetch: Int, targetRecall: Double = 0.95,
      sampleQueries: Int = 16, probeTiers: Seq[Int] = Nil): (Int, Double) = {
    require(sampleQueries >= 1,
      s"recommendProbesForFetch: sampleQueries $sampleQueries must be >= 1")
    val tiers0 =
      if (probeTiers.nonEmpty) probeTiers
      else Iterator.iterate(1)(_ * 2).takeWhile(_ < model.nCells).toSeq
    val tiers = (tiers0.filter(t => t >= 1 && t < model.nCells) :+
      model.nCells).distinct.sorted
    // Deterministic sample: the lowest-id anchors (content-independent,
    // but the anchors ARE the query distribution — sampling them is the
    // point; a certify rerun sees the same probes). Sample FIRST, embed
    // after: the id cut is a narrow TakeOrdered over (id, text) — with an
    // API embedder at real anchor scale, embedding before the cut would
    // pay the full anchor-embedding cost for a 16-row sample. Anchors
    // arriving with the vector column already attached (the
    // hardNegativesIvf auto path threads its embedded frame through)
    // skip embedding entirely.
    val sampled =
      if (anchors.columns.contains(vecCol(on)))
        anchors.select(col(idCol).cast("long").as("__id"),
            col(vecCol(on)).as("__v"))
          .orderBy(col("__id")).limit(sampleQueries)
      else
        semIndex(
          anchors.select(col(idCol).cast("long").as("__id"), col(on))
            .orderBy(col("__id")).limit(sampleQueries), on)
          .select(col("__id"), col(vecCol(on)).as("__v"))
    val qs = sampled.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    require(qs.nonEmpty, "recommendProbesForFetch: no anchors to sample")
    val byTier = graft.embed.IvfIndex.recallReport(indexed, model, on,
        qs.toSeq, k = nFetch, nProbes = tiers, idCol = idCol)
      .groupBy("n_probe").agg(avg("recall").as("r"))
      .collect().map(r => (r.getInt(0), r.getDouble(1))).sortBy(_._1)
    // The target search runs over PARTIAL tiers only — the exhaustive
    // tier measures 1.0 by definition and would satisfy any target
    // silently; landing on it must be the LOUD branch, not a quiet find.
    val (partialTiers, exhaustive) = byTier.partition(_._1 < model.nCells)
    val picked = partialTiers.find(_._2 >= targetRecall).getOrElse {
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"recommendProbesForFetch: no partial tier of ${tiers.mkString(",")}" +
          s" reached targetRecall=$targetRecall on the $sampleQueries-anchor" +
          " sample — falling through to the exhaustive tier " +
          s"(nProbe=${model.nCells})")
      exhaustive.last
    }
    // The decision trace rides the log (the neardup auto-tier
    // convention) so a scale run records WHICH tier mined — at INFO;
    // WARN is reserved for the exhaustive fall-through above.
    org.slf4j.LoggerFactory.getLogger(getClass).info(
      s"recommendProbesForFetch: nProbe=${picked._1} of nCells=" +
        s"${model.nCells} (sampled recall@$nFetch=${picked._2} over " +
        s"${qs.length} anchors, target $targetRecall)")
    picked
  }

  def hardNegativesIvf(anchors: DataFrame, indexed: DataFrame,
      model: graft.embed.IvfIndex.IvfModel, on: String, idCol: String,
      labelCol: String, k: Int, nFetch: Int, nProbe: Int = 0,
      scoreCol: String = "_score",
      targetRecall: Double = 0.95): DataFrame = {
    require(k >= 1 && nFetch >= k,
      s"hardNegativesIvf: need nFetch >= k >= 1, got k=$k nFetch=$nFetch")
    require(nProbe >= 0,
      s"hardNegativesIvf: nProbe $nProbe must be >= 0 — 0 is the ONLY " +
        "auto sentinel; a negative value is an error, not a tuning request")
    val v = vecCol(on)
    // Embed the anchors ONCE: the frame always has at least two
    // consumers (searchBatch's query side and the broadcast label
    // join; the auto path adds the recall sample), and a lazy plan
    // would re-run the embedder per consumer — with an API embedder at
    // real anchor scale that is the 2–3× cost the staging buys back.
    // On success the blocks stay staged (the returned plan reads
    // them — the house convention); a throw inside the auto decision
    // must not leave them pinned (the flagPassagesAgainstIndex
    // discipline).
    val spark = anchors.sparkSession
    val (embedded, embBlocks) =
      graft.core.Persist.stageTracked(semIndex(anchors, on))
    // The guard covers EVERYTHING up to the point the returned plan
    // references the staged frame (the flagPassagesAgainstIndex
    // discipline): a throw from the auto decision, searchBatch's
    // preflight requires, or any later plan construction must not leave
    // the anchor-embedding blocks pinned with no reader.
    try {
      // nProbe = 0 → the recall-aware auto tier (the minhashPairs
      // bands-=-0 convention): cheapest sampled-recall tier meeting
      // targetRecall, measured at THIS nFetch over these anchors.
      val probes =
        if (nProbe > 0) nProbe
        else recommendProbesForFetch(indexed, model, on, embedded, idCol,
          nFetch, targetRecall)._1
      val q = embedded
        .select(col(idCol).as("__q_id"), col(v).as("__q_vec"),
          col(labelCol).as("__q_label"))
      val fetched = graft.embed.IvfIndex.searchBatch(indexed, model, on,
        q.select("__q_id", "__q_vec"), "__q_id", "__q_vec",
        k = nFetch, nProbe = probes, scoreCol = scoreCol,
        tieBreak = Seq(col(idCol)))
      fetched
        .join(broadcast(q.select(col("__q_id").as("__q_id2"),
          col("__q_label"))), col("__q_id") === col("__q_id2"))
        .filter(col(labelCol) =!= col("__q_label"))
        .withColumn("__rnk", row_number().over(
          Window.partitionBy(col("__q_id"))
            .orderBy(col(scoreCol).desc, col(idCol))))
        .filter(col("__rnk") <= k)
        .select(col("__q_id").as("anchor_id"), col(idCol).as("neg_id"),
          col(labelCol).as("neg_label"), col(scoreCol))
    } catch {
      case t: Throwable =>
        graft.core.Persist.unstage(spark, embBlocks)
        throw t
    }
  }

  private def uuidCol(): String = "__simjoin_lid"

  /** Vector dimension of an attached index column, read from the data (one
    * limit(1) scan). The session embedder's `dim` is only a fallback for
    * empty frames: stored vector columns (a loaded index, a parquet
    * embedding column) may have a different dimension than the session
    * embedder, and trusting a configured default silently truncates LSH
    * projections — planes must match the data, not the config.
    */
  private[graft] def vecDimOf(df: DataFrame, v: String): Int =
    df.select(col(v)).limit(1).collect().headOption
      .map(_.getSeq[Float](0).length)
      .getOrElse(Sem.settings.embedder.dim)

  /** The seeded pseudo-random hyperplanes behind [[lshBandKeys]] — public so
    * a gate/oracle can reproduce the banding exactly (the planes are the only
    * non-SQL ingredient of the LSH pipeline; given them as literals, the
    * band keys, candidate join and verify are all plain SQL).
    */
  def lshPlanes(dim: Int, nBits: Int = 16, seed: Long = 42): Array[Array[Double]] = {
    val rng = new scala.util.Random(seed)
    Array.fill(nBits, dim)(rng.nextGaussian())
  }

  /** Random-projection dimensionality reduction (Johnson–Lindenstrauss):
    * project the vector column onto `outDim` seeded Gaussian directions
    * (the [[lshPlanes]] kernel), scaled by 1/√outDim so expected squared
    * norms are preserved. The storage/IO lever BEFORE indexing at corpus
    * scale: 64-d → 16-d costs 4× less to store, shuffle and scan while JL
    * keeps pairwise geometry within ε — project first, then hand the small
    * vectors to the IVF/PQ tiers. Deterministic (seeded planes are plan
    * literals), per-row codegen'd dot products, no shuffle; the projected
    * column keeps the engine's float-vector convention so every downstream
    * operator (semIndexSave, neardupPairs, semClusterBy) composes directly.
    * Output column: the vector column of `outName` (default `c` + "_rp").
    */
  def randomProject(df: DataFrame, c: String, outDim: Int, seed: Long = 42,
      outName: String = null): DataFrame = {
    require(outDim >= 1, s"outDim $outDim must be >= 1")
    val v = vecCol(c)
    require(df.columns.contains(v), s"randomProject: no vector column for '$c' — semIndex first")
    val dim = vecDimOf(df, v)
    require(outDim <= dim, s"outDim $outDim exceeds input dim $dim")
    val planes = lshPlanes(dim, outDim, seed)
    val scale = 1.0 / math.sqrt(outDim.toDouble)
    val out = vecCol(Option(outName).getOrElse(s"${c}_rp"))
    df.withColumn(out, array(planes.map(p =>
      (dotProduct(col(v), lit(p)) * scale).cast("float")): _*))
  }

  /** Random-hyperplane LSH band keys for a vector column: sign bits of
    * projections onto seeded pseudo-random planes, packed per band. Two
    * vectors with high cosine share a band key with high probability — the
    * candidate-generation kernel of the large×large ANN path.
    */
  def lshBandKeys(vec: Column, dim: Int, nBits: Int = 16, bands: Int = 4,
      seed: Long = 42): Column = {
    val planes = lshPlanes(dim, nBits, seed)
    val bits = planes.map { p =>
      when(dotProduct(vec, lit(p)) > 0, 1L).otherwise(0L)
    }
    val perBand = nBits / bands
    array((0 until bands).map { b =>
      val key = (0 until perBand).map(i => bits(b * perBand + i) * (1L << i))
        .reduce(_ + _)
      struct(lit(b).as("band"), key.as("key"))
    }: _*)
  }

  /** Approximate k-NN join for large×large inputs: LSH band-bucket join
    * generates candidates, exact cosine verifies, window rank keeps k per
    * left row. Trade recall for scale with nBits/bands; the exact
    * [[semSimJoin]] broadcast path remains the choice when one side is small.
    *
    * Shuffle discipline (the property that makes this the 100 TB path, same
    * shape as [[Dedup.minhashPairs]]): ONLY `(surrogate id, band key)`
    * projections cross the band-bucket exchange, and ONLY the narrow id
    * pairs cross the candidate-dedup exchange — never the vectors, never the
    * payload. Vectors re-join once for the exact-cosine verify; the payload
    * re-joins once for the rank output. Without this the band join carries
    * both float vectors and every payload column ×bands through two
    * exchanges — a bands× shuffle-byte multiplier on the flagship operator
    * (plan-asserted in PlanPropertiesSpec).
    */
  def semSimJoinLSH(left: DataFrame, right: DataFrame, leftOn: String, rightOn: String,
      k: Int, dim: Int = 0, nBits: Int = 16, bands: Int = 4,
      scoreCol: String = "_scores", tieBreak: Seq[Column] = Nil): DataFrame = {
    val li = semIndex(left, leftOn)
    val ri0 = semIndex(right, rightOn)
    val lv = vecCol(leftOn)
    // dim <= 0 → derive from the data so the hyperplanes span the full
    // vector, whatever embedder produced it (see vecDimOf).
    val d = if (dim > 0) dim else vecDimOf(li, lv)
    val rv = if (vecCol(rightOn) == lv) vecCol(rightOn + "__right") else vecCol(rightOn)
    val ri = if (rv != vecCol(rightOn)) ri0.withColumnRenamed(vecCol(rightOn), rv) else ri0
    val overlap = (li.columns.toSet & ri.columns.toSet) - lv
    val l2 = overlap.foldLeft(li)((d, x) => d.withColumnRenamed(x, s"$x:left"))
    val r2 = overlap.foldLeft(ri)((d, x) => d.withColumnRenamed(x, s"$x:right"))
    val lKey = uuidCol()
    val rKey = "__simjoin_rid"
    // Materialize each side once behind its surrogate id: the band
    // projection, the vector verify join and the payload re-join all read
    // the same snapshot (monotonically_increasing_id is only stable within
    // one materialization, and the embedder must not re-run per branch).
    val lIdx = graft.core.Persist.stage(l2.withColumn(lKey, monotonically_increasing_id()))
    val rIdx = graft.core.Persist.stage(r2.withColumn(rKey, monotonically_increasing_id()))
    // Narrow candidate generation: (id, band key) only.
    val lb = lIdx.select(col(lKey), explode(lshBandKeys(col(lv), d, nBits, bands)).as("__bk"))
    val rb = rIdx.select(col(rKey), explode(lshBandKeys(col(rv), d, nBits, bands)).as("__bk"))
    val cand = lb.join(rb, "__bk").select(col(lKey), col(rKey)).distinct()
    // Exact-cosine verify on narrow (id, vector) projections: the vectors
    // shuffle once here — not ×bands through the bucket join.
    val scored = cand
      .join(lIdx.select(col(lKey), col(lv)), lKey)
      .join(rIdx.select(col(rKey), col(rv)), rKey)
      .withColumn(scoreCol, cosineSim(col(lv), col(rv)))
      .select(col(lKey), col(rKey), col(scoreCol))
    if (tieBreak.isEmpty) {
      // Rank on the narrow (lKey, rKey, score) triple, then re-join payload
      // for only the ≤ k winners per left row.
      val w = Window.partitionBy(col(lKey)).orderBy(col(scoreCol).desc)
      scored.withColumn("__rnk", row_number().over(w))
        .filter(col("__rnk") <= k)
        .drop("__rnk")
        .join(lIdx.drop(lv), lKey)
        .join(rIdx.drop(rv), rKey)
        .drop(lKey, rKey)
    } else {
      // User tie-break columns reference payload — re-join it (vector-free)
      // before the rank; the rank exchange carries candidate payload rows
      // once, still never the vectors.
      val withPayload = scored
        .join(lIdx.drop(lv), lKey)
        .join(rIdx.drop(rv), rKey)
      val w = Window.partitionBy(col(lKey)).orderBy(col(scoreCol).desc +: tieBreak: _*)
      withPayload.withColumn("__rnk", row_number().over(w))
        .filter(col("__rnk") <= k)
        .drop("__rnk", lKey, rKey)
    }
  }

  /** Cost-based sim-join: pick the physical path from the right side's
    * estimated broadcast size — the exact broadcast top-k plan when the
    * vector table fits comfortably in an executor, the LSH band-bucket plan
    * when it doesn't. Mirrors Spark's own broadcast-threshold decision at
    * the operator level (the reference always brute-forces; at 100 TB the
    * switch is what keeps the operator usable on both dims tables and
    * corpus×corpus joins).
    */
  def semSimJoinAuto(left: DataFrame, right: DataFrame, leftOn: String, rightOn: String,
      k: Int, broadcastBytesThreshold: Long = 64L << 20, dim: Int = 0,
      scoreCol: String = "_scores", tieBreak: Seq[Column] = Nil,
      knownRightRows: Long = -1L): DataFrame = {
    // The true vector dimension feeds both the broadcast-size estimate and
    // (on the LSH path) the hyperplane construction. vecDimOf embeds at
    // most one batch (limit 1); the row count comes from the RAW right
    // frame — semIndex is 1:1, and counting through it would run the full
    // embedder once for the count and again when the join executes.
    // Callers that already know the stats pass them (`dim`,
    // `knownRightRows`) so routing costs zero extra jobs — at corpus scale
    // a count() of the right side is a full scan.
    val d = if (dim > 0) dim else vecDimOf(semIndex(right, rightOn), vecCol(rightOn))
    val rightRows = if (knownRightRows >= 0) knownRightRows else right.count()
    // vector payload + row overhead; conservative per-row estimate
    val estBytes = rightRows * (d.toLong * 4 + 256)
    if (estBytes <= broadcastBytesThreshold)
      semSimJoin(left, right, leftOn, rightOn, k, scoreCol, broadcastRight = true, tieBreak)
    else
      semSimJoinLSH(left, right, leftOn, rightOn, k, d, scoreCol = scoreCol,
        tieBreak = tieBreak)
  }

  /** sem_cluster_by: seeded k-means over the column's embeddings, appending
    * `cluster_id` (reference sem_cluster_by.py:57-86 uses faiss.Kmeans —
    * which also trains on a bounded sample). Same layout as
    * [[graft.embed.IvfIndex.build]]: the centroids are fit with driver-side
    * Lloyd's on a bounded sample (no per-iteration distributed jobs), and
    * the corpus-wide cluster ASSIGNMENT is one narrow map through the
    * tight-loop NearestCentroid expression — one extra pass at any scale.
    *
    * `fitSampleFraction` <= 0 auto-sizes the fit sample (~256 points per
    * cluster, min 16k); 1.0 fits on everything.
    */
  def semClusterBy(df: DataFrame, c: String, nClusters: Int, seed: Long = 42,
      clusterCol: String = "cluster_id", fitSampleFraction: Double = -1.0): DataFrame = {
    val indexed = semIndex(df, c).persist()
    val n = indexed.count()
    val v = vecCol(c)
    val frac =
      if (fitSampleFraction > 0) math.min(1.0, fitSampleFraction)
      else math.min(1.0,
        graft.embed.IvfIndex.defaultFitPoints(nClusters).toDouble / math.max(1L, n))
    // Content-hash sampling, same as IvfIndex.build: df.sample seeds its
    // Bernoulli draw per partition, so the fit sample (hence the centroids)
    // would change with the physical layout. pmod(xxhash64(vec, seed), 1M)
    // is a pure function of the vector multiset — identical centroids at
    // any fraction, no matter how the corpus is partitioned.
    val fitDf = graft.core.TierChoice.sample(indexed.select(col(v)), v, frac, seed)
    val sample = fitDf.collect().map(_.getSeq[Float](0).toArray)
    val centroids = graft.embed.IvfIndex.fitCentroids(sample, nClusters, seed)
    val res = indexed.withColumn(clusterCol,
      graft.functions.VectorExprs.nearestCentroid(col(v), centroids))
      .drop(v)
      .transform(graft.core.Persist.stage(_))
    indexed.unpersist()
    res
  }

  /** Embedding near-duplicate pairs at cosine ≥ `threshold` — the pair
    * kernel of [[semDedup]], public because it is a first-class dedup
    * primitive. Returns (id1, id2, score) with id1 < id2.
    *
    * Safe by default: `useLsh = None` routes on a row count — inputs above
    * `lshRowThreshold` take the LSH band-bucket equi-join (shuffle on band
    * keys — never the full cross product, exact cosine verifies), so the
    * operator cannot broadcast-cross-join a corpus by accident. The LSH path
    * is approximate (pairs whose vectors share no band are missed; tune
    * nBits/bands for recall); the brute-force path is exact and only chosen
    * when the QUADRATIC pair count is cheaper than the LSH detour — the
    * routing bound is the n²/2 comparison count, NOT broadcastability (a
    * 100k-vector frame broadcasts in 25 MB but costs 5·10⁹ cosine
    * evaluations; the ×30 scale stress showed 60k vectors not finishing in
    * 10 minutes on 32 cores, vs seconds through the bucketed paths). 10k
    * rows ≈ 5·10⁷ pairs, a few seconds anywhere.
    *
    * Above the threshold the AUTO route is the CELL-PARTITIONED path (the
    * SemDeDup shape, Abbas et al. 2023, arXiv 2303.09540): fit
    * ~n/`targetCellSize` k-means centroids on a bounded content-hash
    * sample, assign every vector to its `cellProbes` nearest cells, exact
    * all-pairs cosine WITHIN each cell. Pairs per cell are
    * C(cellSize·probes, 2) at a CONTROLLED cell size — hot buckets cannot
    * go quadratic the way hash buckets can (the ×30 scale stress caught
    * the 4-bit band keys of the `useLsh = Some(true)` path collecting
    * 3750-row buckets → 450M candidates; cells cap the bucket by
    * construction). A pair is emitted iff the two vectors share a cell —
    * approximate at cell boundaries; raise `cellProbes` for recall.
    * `useLsh = Some(true)` forces the random-hyperplane band path
    * (recall governed by nBits/bands instead of cell geometry);
    * `Some(false)` forces exact. Auto-routing counts the RAW input frame
    * (semIndex is 1:1, so the count is identical and costs no embedder
    * calls).
    *
    * `cellProbes = 0` (the DEFAULT) is RECALL-AWARE AUTO: the route spends
    * the cheap nested-probe estimator ([[pickCellProbes]] — one sampled
    * assignment + one bounded all-pairs, answering every tier at once) and
    * picks the cheapest tier whose sampled recall meets `targetRecall`
    * (default 0.95); when even the highest tier (8) misses it, the route
    * proceeds at that tier with a LOUD warning naming the knobs — a fixed
    * probe count tuned on one geometry silently under-recalled on
    * spread-out clusters (measured: 0.79 at probes = 2 on the ×30
    * scale-stress corpus, where auto picks 4 → 1.0). An EXPLICIT
    * `cellProbes > 0` pins the tier with no measurement — oracle gates pin
    * provably-exhaustive geometries this way; certify a pinned config with
    * [[neardupRecallReport]].
    */
  def neardupPairs(df: DataFrame, c: String, idCol: String, threshold: Double,
      useLsh: Option[Boolean] = None, lshRowThreshold: Long = 10000L,
      dim: Int = 0, nBits: Int = 16, bands: Int = 4,
      knownRows: Long = -1L, targetCellSize: Int = 256, cellProbes: Int = 0,
      seed: Long = 42,
      maxCandidatePairs: Long = defaultMaxCandidatePairs,
      targetRecall: Double = 0.95): DataFrame = {
    val indexed = semIndex(df, c)
    val v = vecCol(c)
    // Routing stats: an explicit `useLsh` or `knownRows` (e.g. from a caller
    // like semDedup that already counted) costs zero jobs here.
    val n = if (knownRows >= 0) knownRows
            else if (useLsh.isDefined) -1L
            else df.count()
    val big = n > lshRowThreshold
    if (useLsh.isEmpty && big) {
      // Cell-partitioned route: bounded centroid fit (the IvfIndex
      // convention — content-hash sample membership, pure function of the
      // vector multiset), multi-assign via the ProbeCells kernel, narrow
      // (id, cell) exchange, exact cosine verify over the vector re-join.
      val (star, base, centroids, k, nDistinct, repDim) =
        cellPrelude(indexed, v, idCol, targetCellSize, seed)
      val probes =
        if (cellProbes > 0) cellProbes
        else {
          val (p, r) = pickCellProbes(base, centroids, nDistinct, threshold,
            targetRecall, autoProbeTiers, autoRecallSampleSize, seed)
          val log = org.slf4j.LoggerFactory.getLogger(getClass)
          if (r < targetRecall) log.warn(
            f"neardupPairs auto route: even cellProbes = $p (the highest " +
              f"auto tier) measures sampled pair recall $r%.3f < target " +
              f"$targetRecall%.2f at this geometry — proceeding at $p; " +
              "raise targetCellSize (fewer, larger cells), pin a higher " +
              "cellProbes explicitly, or pin useLsh = Some(false) for exact")
          else log.info(
            f"neardupPairs auto route: cellProbes = $p (sampled recall " +
              f"$r%.3f ≥ target $targetRecall%.2f)")
          p
        }
      val celled0 = probeAssign(base, centroids, probes)
      // OCCUPANCY GUARD (the rangeJoin maxBucketsPerInterval convention):
      // one narrow histogram aggregate over the staged (id, cell) frame
      // computes the EXACT number of within-cell comparisons the pair join
      // would evaluate, and a degenerate layout — the k=1024 fit cap hit
      // at huge n, or near-identical embeddings collapsing into few cells
      // — refuses loudly BEFORE the quadratic join runs, instead of
      // silently burning the cluster. The staged frame costs nothing
      // extra: the a/b self-join below reads it twice anyway.
      val celled = graft.core.Persist.stage(celled0)
      val candRow = celled.groupBy("cell").agg(count(lit(1)).as("n"))
        .agg(coalesce(sum(col("n") * (col("n") - 1) / 2), lit(0.0))
          .cast(LongType)).head()
      val candidatePairs = candRow.getLong(0)
      if (candidatePairs > maxCandidatePairs) throw new IllegalStateException(
        f"neardupPairs cells route: degenerate cell layout — $candidatePairs%,d " +
          f"within-cell candidate pairs exceed the $maxCandidatePairs%,d budget " +
          s"(nCells=$k, cellProbes=$probes, targetCellSize=$targetCellSize). " +
          "Inspect neardupCellDiagnostics; lower targetCellSize (more, smaller " +
          "cells) while the fit is under its k=1024 cap, pre-shard by a saved " +
          "coarse IvfIndex beyond it, or raise maxCandidatePairs consciously")
      val a = celled.toDF("id1", "c1")
      val b = celled.toDF("id2", "c2")
      val candRaw = a.join(b, col("c1") === col("c2") && col("id1") < col("id2"))
        .select("id1", "id2")
      star.unionAll(verifyPairs(candRaw, base, threshold,
        knownRows = nDistinct, knownDim = repDim))
    } else if (useLsh.contains(false) || (useLsh.isEmpty && !big)) {
      val a = indexed.select(col(idCol).cast(LongType).as("id1"), col(v).as("v1"))
      val b = indexed.select(col(idCol).cast(LongType).as("id2"), col(v).as("v2"))
      a.join(broadcast(b), col("id1") < col("id2"))
        .withColumn("score", cosineSim(col("v1"), col("v2")))
        .filter(col("score") >= threshold)
        .select("id1", "id2", "score")
    } else {
      // Narrow-pair LSH (the Dedup.minhashPairs shape): materialize the
      // (id, vector) projection once; ONLY (id, band key) crosses the
      // bucket exchange and ONLY (id1, id2) crosses the pair-dedup
      // exchange; the vectors re-join once for the exact-cosine verify —
      // never ×bands through the bucket join.
      val d = if (dim > 0) dim else vecDimOf(indexed, v)
      // Spread before staging: a compactly-written embedding table arrives
      // in one scan partition and the band-key/verify kernels would run
      // single-task (the saveDedupIndex profile, vector side).
      val base = graft.core.Persist.stage(graft.core.Parallelism.spread(
        indexed.select(col(idCol).cast(LongType).as("id"), col(v).as("vec"))))
      val keyed = base.select(col("id"),
        explode(lshBandKeys(col("vec"), d, nBits, bands)).as("bk"))
      val a = keyed.toDF("id1", "bk1")
      val b = keyed.toDF("id2", "bk2")
      val candRaw = a.join(b, col("bk1") === col("bk2") && col("id1") < col("id2"))
        .select("id1", "id2")
      // n is the routing count when one was taken (-1 under an explicit
      // useLsh, where verifyPairs counts the staged frame itself).
      verifyPairs(candRaw, base, threshold, knownRows = n, knownDim = d)
    }
  }

  /** Exact-cosine verification of candidate (id1, id2) pairs against the
    * staged (id, vec) frame. When the vector frame fits
    * [[verifyBroadcastMaxBytes]] the two verify joins BROADCAST it — the
    * (potentially enormous) candidate frame never crosses an exchange,
    * and pair dedup moves AFTER the threshold filter where survivors are
    * orders of magnitude fewer (a duplicate candidate — the same pair
    * sharing several cells/bands — is bounded by the probe/band
    * multiplicity, so re-verifying it beats shuffling the full candidate
    * set to dedup it first). Past the budget: dedup first on the narrow
    * (id1, id2) exchange, then two shuffle joins — the corpus-scale
    * shape, where the vector frame itself is too big to ship to every
    * task.
    */
  private def verifyPairs(candRaw: DataFrame, base: DataFrame,
      threshold: Double, knownRows: Long = -1L, knownDim: Int = -1): DataFrame = {
    // Callers that already counted/measured the staged frame pass the
    // stats in — re-deriving them here would add two Spark jobs per call
    // (multiplied by the probe tiers in neardupRecallReport).
    val dim =
      if (knownDim >= 0) knownDim
      else {
        val first = base.take(1)
        if (first.isEmpty) 0 else first(0).getSeq[Float](1).size
      }
    val rows = if (knownRows >= 0) knownRows else base.count()
    val fits = rows * (4L * dim + 28L) <= verifyBroadcastMaxBytes
    if (fits)
      candRaw
        .join(broadcast(base.toDF("id1", "v1")), "id1")
        .join(broadcast(base.toDF("id2", "v2")), "id2")
        .withColumn("score", cosineSim(col("v1"), col("v2")))
        .filter(col("score") >= threshold)
        .select("id1", "id2", "score")
        .dropDuplicates("id1", "id2")
    else
      candRaw.distinct()
        .join(base.toDF("id1", "v1"), "id1")
        .join(base.toDF("id2", "v2"), "id2")
        .withColumn("score", cosineSim(col("v1"), col("v2")))
        .filter(col("score") >= threshold)
        .select("id1", "id2", "score")
  }

  /** The cells route's shared prelude: exact pre-collapse of
    * byte-identical vectors (the Dedup.minhashPairs move — content
    * fingerprint window, (minId → member) star edges at score 1.0, only
    * one representative per distinct vector enters the pipeline, so a
    * k-fold repeated embedding costs O(k) rows, not O(k²) within-cell
    * pairs), bounded content-hash-sampled centroid fit, and multi-assign
    * of every representative to its `cellProbes` nearest cells. The fp
    * window is one linear (id, vector) exchange — the same cost class as
    * the verify join the caller runs. Returns (star edges, staged (id,
    * vec) reps, (id, cell) assignments, nCells).
    */
  /** The CANONICAL content-fingerprint collapse frame for vectors —
    * (id, vec, __fp, __rep), staged; __rep is the group's min id. Both the
    * cells route ([[cellAssignments]]) and [[neardupRecallReport]] derive
    * their representative frames from THIS projection: a second
    * hand-rolled copy of the window could silently desynchronize the
    * recall report from the route it claims to measure.
    */
  private def vecCollapseMarked(indexed: DataFrame, v: String,
      idCol: String): DataFrame =
    // Spread AFTER the window, BEFORE staging (the pickBands lesson, vector
    // side): AQE coalesces the small fingerprint-window shuffle to 1–2
    // partitions, and every downstream CPU-heavy pass over the staged frame
    // (ProbeCells assignment — n·k·dim flops — and the estimator's
    // nested loop) would run on that many tasks. fitCentroids SORTS its
    // collected points, so the collect-order change is result-invisible.
    graft.core.Persist.stage(graft.core.Parallelism.spread(
      indexed.select(col(idCol).cast(LongType).as("id"), col(v).as("vec"))
        .withColumn("__fp", xxhash64(col("vec")))
        .withColumn("__rep", min(col("id")).over(Window.partitionBy("__fp")))))

  /** Everything the cells route needs BEFORE a probe tier is chosen: the
    * exact-dup star edges, the staged distinct (id, vec) representative
    * frame, and the fitted centroids. Splitting the prelude from the probe
    * assignment lets the auto route measure recall per tier against ONE
    * centroid fit and then assign at the chosen tier — re-fitting per tier
    * would both triple the cost and let the measured geometry drift from
    * the executed one.
    */
  private def cellPrelude(indexed: DataFrame, v: String, idCol: String,
      targetCellSize: Int,
      seed: Long): (DataFrame, DataFrame, Array[Array[Float]], Int, Long, Int) = {
    val marked = vecCollapseMarked(indexed, v, idCol)
    val star = marked.filter(col("id") =!= col("__rep"))
      .select(col("__rep").as("id1"), col("id").as("id2"),
        lit(1.0).as("score"))
    val base = graft.core.Persist.stage(
      marked.filter(col("id") === col("__rep")).select("id", "vec"))
    val nDistinct = base.count()
    // BOUNDED driver fit, independent of n: k caps at 1024 and the fit
    // sample at 128k points (a k=1024 Lloyd pass over 128k×dim is seconds
    // on the parallel fit; uncapped, k = n/256 makes defaultFitPoints(k)
    // = n and the "bounded" fit would collect the whole distinct vector
    // set). The price of the cap: beyond ~k·targetCellSize distinct
    // vectors, cell occupancy grows linearly with n and the within-cell
    // pair cost quadratically — check [[neardupCellDiagnostics]] (the
    // candidatePairs/crossJoinFraction fields exist for exactly this) and
    // raise `targetCellSize` consciously or pre-shard by a saved coarse
    // IvfIndex when occupancy runs away.
    val k = math.max(2, math.min(1024, (nDistinct / targetCellSize).toInt))
    val frac = math.min(1.0,
      math.min(graft.embed.IvfIndex.defaultFitPoints(k), 131072L).toDouble /
        math.max(1L, nDistinct))
    val fitDf = graft.core.TierChoice.sample(base.select(col("vec")), "vec", frac, seed)
    val centroids = graft.embed.IvfIndex.fitCentroids(
      fitDf.collect().map(_.getSeq[Float](0).toArray), k, seed)
    val dim = if (centroids.isEmpty) 0 else centroids(0).length
    (star, base, centroids, k, nDistinct, dim)
  }

  /** Multi-assign each representative to its `cellProbes` nearest cells. */
  private def probeAssign(base: DataFrame, centroids: Array[Array[Float]],
      cellProbes: Int): DataFrame =
    base.select(col("id"),
      explode(graft.functions.VectorExprs.probeCells(
        col("vec"), centroids, cellProbes)).as("cell"))

  private def cellAssignments(indexed: DataFrame, v: String, idCol: String,
      targetCellSize: Int, cellProbes: Int,
      seed: Long): (DataFrame, DataFrame, DataFrame, Int, Long, Int) = {
    val (star, base, centroids, k, nDistinct, dim) =
      cellPrelude(indexed, v, idCol, targetCellSize, seed)
    (star, base, probeAssign(base, centroids, cellProbes), k, nDistinct, dim)
  }

  /** Wall-millis of each [[pickCellProbes]] run — the cells route's
    * sibling of `Dedup.pickBandsMs`, so a bench record can split
    * "estimator" from "route" cost inside the auto gates.
    */
  private[graft] val pickProbesMs = new graft.core.TimingRing(1024)

  /** The auto route's probe-tier picker: a NESTED-probe recall estimator
    * that answers every tier from ONE sample assignment. Probe cell lists
    * are ranked nearest-first and nested (top-p ⊆ top-(p+1)), so assigning
    * a bounded content-hash sample of the representatives to their
    * `tiers.max` nearest cells determines, for every sampled qualifying
    * pair, the SMALLEST tier that catches it (the first p at which the two
    * top-p prefixes intersect) — recall at every tier then falls out of
    * one aggregate. Cost: one ProbeCells pass + one broadcast all-pairs
    * cosine over ≤ `sampleSize` vectors, independent of n — cheap enough
    * to spend by default, unlike [[neardupRecallReport]] which re-runs the
    * full route per tier (use that to CERTIFY a config; this to pick one).
    * Returns the cheapest tier whose sampled recall meets `targetRecall`,
    * else the highest offered tier with its (insufficient) recall.
    */
  private def pickCellProbes(base: DataFrame, centroids: Array[Array[Float]],
      nDistinct: Long, threshold: Double, targetRecall: Double,
      tiers: Seq[Int], sampleSize: Int, seed: Long): (Int, Double) =
    pickProbesMs.time(pickCellProbesImpl(base, centroids, nDistinct,
      threshold, targetRecall, tiers, sampleSize, seed))

  private def pickCellProbesImpl(base: DataFrame, centroids: Array[Array[Float]],
      nDistinct: Long, threshold: Double, targetRecall: Double,
      tiers: Seq[Int], sampleSize: Int, seed: Long): (Int, Double) = {
    val ts = tiers.distinct.sorted
    val maxTier = ts.last
    val frac = math.min(1.0, sampleSize.toDouble / math.max(1L, nDistinct))
    // Content-hash sample membership (seed offset matches
    // neardupRecallReport so the two tools see the same sample).
    // Spread BEFORE staging (the pickBands convention): the sample inherits
    // the staged base's (possibly coalesced) layout, and both the ProbeCells
    // projection and the O(sample²) nested loop below parallelize over the
    // streamed side's partitions — unspread they ran on one task.
    val sampled = graft.core.Persist.stage(graft.core.Parallelism.spread(
      graft.core.TierChoice.sample(base, "vec", frac, seed + 101)
        .select(col("id"), col("vec"), graft.functions.VectorExprs.probeCells(
          col("vec"), centroids, maxTier).as("pc"))))
    val a = sampled.select(col("id").as("id1"), col("vec").as("v1"),
      col("pc").as("pc1"))
    val b = sampled.select(col("id").as("id2"), col("vec").as("v2"),
      col("pc").as("pc2"))
    // Smallest tier catching the pair; null when even maxTier misses it.
    val ct = array_min(filter(
      transform(sequence(lit(1), lit(maxTier)),
        p => when(arrays_overlap(slice(col("pc1"), lit(1), p),
          slice(col("pc2"), lit(1), p)), p)),
      x => x.isNotNull))
    val tierCols = ts.map(t =>
      sum(when(col("ct") <= t, 1L).otherwise(0L)).as(s"t$t"))
    val row = a.join(broadcast(b), col("id1") < col("id2"))
      .filter(cosineSim(col("v1"), col("v2")) >= threshold)
      .select(ct.as("ct"))
      .agg(count(lit(1)).as("n"), tierCols: _*).head()
    val nExact = row.getLong(0)
    val recalls = ts.zipWithIndex.map { case (t, i) =>
      (t, if (nExact == 0) 1.0 else row.getLong(i + 1).toDouble / nExact)
    }
    recalls.find(_._2 >= targetRecall).getOrElse(recalls.last)
  }

  /** The auto probe-tier decision [[neardupPairs]] makes when `cellProbes`
    * is left at 0, exposed standalone: (chosen tier, sampled recall at it).
    * Same centroid fit, same sample, same nested estimator — callers that
    * want to inspect or record the decision (scale-stress does) without
    * running the route.
    */
  def autoCellProbes(df: DataFrame, c: String, idCol: String,
      threshold: Double, targetRecall: Double = 0.95,
      targetCellSize: Int = 256, cellProbesTiers: Seq[Int] = Seq(1, 2, 4, 8),
      sampleSize: Int = 4096, seed: Long = 42): (Int, Double) = {
    require(cellProbesTiers.nonEmpty, "autoCellProbes: need ≥1 tier")
    val indexed = semIndex(df, c)
    val (_, base, centroids, _, nDistinct, _) =
      cellPrelude(indexed, vecCol(c), idCol, targetCellSize, seed)
    pickCellProbes(base, centroids, nDistinct, threshold, targetRecall,
      cellProbesTiers, sampleSize, seed)
  }

  /** Occupancy diagnostics for the cells route — the embedding sibling of
    * `Temporal.rangeJoinDiagnostics`: exact candidate-pair count and cell
    * occupancy from ONE narrow histogram aggregate over the (id, cell)
    * assignments, surfacing a degenerate cell layout (all vectors in few
    * cells → the candidate join quietly goes quadratic) BEFORE paying for
    * the pair join. `candidatePairs` counts Σ_cells C(occ, 2) — the exact
    * number of within-cell comparisons the route would evaluate (an id
    * pair sharing both probe cells is counted in each, as the join does
    * before its distinct).
    */
  final case class CellDiagnostics(nCells: Int, nVectors: Long,
      nDistinctVectors: Long, occupiedCells: Long, maxOccupancy: Long,
      avgOccupancy: Double, candidatePairs: Long) {
    /** Fraction of the all-pairs cross product the route would evaluate. */
    def crossJoinFraction: Double =
      if (nDistinctVectors < 2) 0.0
      else candidatePairs.toDouble /
        (nDistinctVectors.toDouble * (nDistinctVectors - 1) / 2.0)
  }

  def neardupCellDiagnostics(df: DataFrame, c: String, idCol: String,
      targetCellSize: Int = 256, cellProbes: Int = 2,
      seed: Long = 42): CellDiagnostics = {
    val indexed = semIndex(df, c)
    val n = df.count()
    val (_, _, celled, k, nDistinct, _) =
      cellAssignments(indexed, vecCol(c), idCol, targetCellSize, cellProbes,
        seed)
    val occ = celled.groupBy("cell").agg(count(lit(1)).as("n"))
    val r = occ.agg(count(lit(1)), max(col("n")), avg(col("n")),
      sum(col("n") * (col("n") - 1) / 2).cast(LongType)).head()
    CellDiagnostics(k, n, nDistinct, r.getLong(0), r.getLong(1),
      r.getDouble(2), r.getLong(3))
  }

  /** Empirical pair-recall of the cells route against sampled exact ground
    * truth — the tuning table for the recall/cost trade, mirroring
    * [[graft.embed.IvfIndex.recallReport]] (which answers the same
    * question for ANN search). The cells route is approximate by design
    * (a qualifying pair straddling a cell boundary is missed); every
    * ORACLE gate pins a provably-exhaustive geometry, so nothing on the
    * green board would catch an over-tuned `targetCellSize` silently
    * dropping recall at a real corpus. This measures it: ground truth is
    * exact all-pairs cosine over a bounded content-hash sample of the
    * DISTINCT vectors (the frame the route's candidate generation actually
    * sees — pair recall over representatives is well-defined; exact-dup
    * star edges are exact by construction), the route runs at the REAL
    * geometry over the FULL frame, and recall = matched/exact within the
    * sample. One row per `cellProbes` tier; probe cell sets are nested
    * (top-p ⊆ top-(p+1)), so recall is monotone non-decreasing in
    * `cell_probes` — a property the spec pins.
    */
  def neardupRecallReport(df: DataFrame, c: String, idCol: String,
      threshold: Double, targetCellSize: Int = 256,
      cellProbesTiers: Seq[Int] = Seq(1, 2, 4), sampleSize: Int = 4096,
      seed: Long = 42): DataFrame = {
    require(cellProbesTiers.nonEmpty, "neardupRecallReport: need ≥1 probe tier")
    val v = vecCol(c)
    val indexed = semIndex(df, c)
    // The SAME canonical collapse the route runs — a private copy of the
    // window here would let the report measure a different representative
    // frame than the route it certifies.
    val reps = graft.core.Persist.stage(
      vecCollapseMarked(indexed, v, idCol)
        .filter(col("id") === col("__rep"))
        .select(col("id"), col("vec").as(v)))
    val nReps = reps.count()
    // Bounded deterministic sample — content-hash membership (a pure
    // function of the vector, not of partitioning), the fit-sample
    // convention. The exact all-pairs ground truth is C(sampleSize, 2)
    // broadcast comparisons: bounded independent of n.
    val frac = math.min(1.0, sampleSize.toDouble / math.max(1L, nReps))
    // Spread before staging — the sample inherits the source layout (one
    // parquet file → one partition) and the all-pairs nested loop below
    // parallelizes over the streamed side's partitions (the pickBands
    // note in Dedup).
    val sampled = graft.core.Persist.stage(graft.core.Parallelism.spread(
      graft.core.TierChoice.sample(reps, v, frac, seed + 101)))
    val nSample = sampled.count()
    val exact = graft.core.Persist.stage(
      sampled.toDF("id1", "v1")
        .join(broadcast(sampled.toDF("id2", "v2")), col("id1") < col("id2"))
        .filter(cosineSim(col("v1"), col("v2")) >= threshold)
        .select("id1", "id2"))
    val nExact = exact.count()
    val rows = cellProbesTiers.distinct.sorted.map { probes =>
      // The route at the real geometry over the FULL representative frame;
      // every route pair is exact-cosine verified, so a route pair inside
      // the sample is necessarily a ground-truth pair — matched is one
      // semi join.
      val route = neardupPairs(reps, c, "id", threshold,
        lshRowThreshold = 0L, knownRows = nReps,
        targetCellSize = targetCellSize, cellProbes = probes, seed = seed)
      val matched = route.join(exact, Seq("id1", "id2"), "left_semi").count()
      ("cells", probes, nSample, nExact, matched,
        if (nExact == 0) 1.0 else matched.toDouble / nExact)
    }
    val spark = df.sparkSession
    import spark.implicits._
    rows.toDF("route", "cell_probes", "n_sample", "exact_pairs",
      "matched_pairs", "recall")
  }

  /** Pick the CHEAPEST `cellProbes` tier whose MEASURED pair recall (via
    * [[neardupRecallReport]], sampled exact ground truth at the real
    * geometry) meets `targetRecall` — the tuning decision the report
    * exists to inform, as one call. Falls back to the highest offered
    * tier when none measures up (the report is sampled; a caller that
    * needs guaranteed recall 1.0 must probe every cell). Returns
    * (chosen probes, measured recall at that tier).
    */
  def recommendCellProbes(df: DataFrame, c: String, idCol: String,
      threshold: Double, targetRecall: Double,
      targetCellSize: Int = 256, cellProbesTiers: Seq[Int] = Seq(1, 2, 4, 8),
      sampleSize: Int = 4096, seed: Long = 42): (Int, Double) = {
    require(cellProbesTiers.nonEmpty, "recommendCellProbes: need ≥1 tier")
    val rep = neardupRecallReport(df, c, idCol, threshold, targetCellSize,
        cellProbesTiers, sampleSize, seed)
      .select("cell_probes", "recall")
      .collect().map(r => (r.getInt(0), r.getDouble(1))).sortBy(_._1)
    rep.find(_._2 >= targetRecall).getOrElse(rep.last)
  }

  /** sem_dedup: semantic near-duplicate removal — self sim-join at
    * `threshold`, connected components over the duplicate graph, keep the
    * minimum-id representative per component (reference sem_dedup.py:32-91).
    * Above `lshRowThreshold` rows the pair generation switches from exact
    * all-pairs to the cell-partitioned path — all-pairs is O(n²) and fatal
    * at corpus scale (the bound is pair-count, not broadcastability — see
    * [[neardupPairs]]).
    */
  def semDedup(df: DataFrame, c: String, idCol: String, threshold: Double,
      lshRowThreshold: Long = 10000L, dim: Int = 0, cellProbes: Int = 0,
      targetRecall: Double = 0.95): DataFrame = {
    val indexed = semIndex(df, c).persist()
    val n = indexed.count()
    val v = vecCol(c)
    val edges = neardupPairs(indexed, c, idCol, threshold,
      lshRowThreshold = lshRowThreshold, dim = dim, knownRows = n,
      cellProbes = cellProbes, targetRecall = targetRecall)
      .select("id1", "id2")
    val keep = Dedup.keepAfterConnectedComponents(
      indexed.select(col(idCol).cast(LongType).as("id")), edges)
    val res = indexed.join(keep.withColumnRenamed("id", "__keep_id"),
        col(idCol).cast(LongType) === col("__keep_id"), "left_semi")
      .drop(v)
    indexed.unpersist()
    res
  }

  /** sem_partition_by: writes the `_lotus_partition_id` grouping column used
    * by sem_agg's fold (reference sem_partition_by.py:60-67). The partition
    * function here is cluster assignment.
    */
  def semPartitionBy(df: DataFrame, c: String, nPartitions: Int): DataFrame =
    semClusterBy(df, c, nPartitions, clusterCol = "_lotus_partition_id")

  /** Prototype-distance data pruning (Sorscher et al. 2022, arXiv
    * 2206.14486 — the "SSL prototypes" metric; applied to LLM corpora by
    * D4, arXiv 2308.12284): assign every vector to its nearest centroid
    * (squared Euclidean, ties → lowest cell — the
    * [[graft.functions.VectorExprs.nearestCentroid]] kernel, same
    * assignment as [[semClusterBy]]), score prototypicality as cosine to
    * the ASSIGNED centroid, and keep exactly `ceil(keepFraction · n_c)`
    * examples per cluster — the LEAST prototypical (lowest cosine) when
    * `keepHardest` (the published default when data is abundant: easy,
    * prototypical examples are the redundant ones), the most prototypical
    * when not (the scarce-data regime). Selection order is
    * (rounded sim, id) — fully deterministic and engine-reproducible.
    *
    * Scale shape — the [[graft.operators.CorpusPrep.selectByTokenBudget]]
    * convention, NOT a per-cluster window (`row_number() OVER (PARTITION
    * BY cluster)` funnels each cluster through one task; with the small k
    * a 100 TB corpus wants, that is the single-partition bottleneck):
    * similarities are ROUNDED to `simDigits`, a bounded (cluster, sim)
    * histogram — pulled through [[graft.core.Bounded.pull]] — yields
    * per-cluster thresholds, the sub-threshold mass is a PURE FILTER against a
    * broadcast threshold frame, and only the boundary buckets (typically
    * a handful of rows at fine `simDigits`) pay an ordered pass, through
    * [[graft.operators.CorpusPrep.runningTotal]]'s range-partitioned
    * prefix sum. Three narrow passes over one staged assignment frame;
    * driver state is the histogram (≤ `maxBuckets`) and k selection rows.
    */
  def prunePrototypes(df: DataFrame, c: String, idCol: String,
      centroids: Array[Array[Float]], keepFraction: Double,
      keepHardest: Boolean = true, simDigits: Int = 4,
      clusterCol: String = "cluster_id", simCol: String = "prototype_sim",
      maxBuckets: Int = 1 << 22): DataFrame = {
    require(centroids.nonEmpty, "prunePrototypes: no centroids")
    require(keepFraction > 0.0 && keepFraction <= 1.0,
      s"prunePrototypes: keepFraction $keepFraction must be in (0, 1]")
    require(simDigits >= 1 && simDigits <= 7,
      s"prunePrototypes: simDigits $simDigits must be in [1, 7]")
    val spark = df.sparkSession
    val v = vecCol(c)
    val centLit = array(centroids.map(ct => lit(ct.map(_.toDouble))): _*)
    val (assigned, blocks) = graft.core.Persist.stageTracked(df
      .withColumn(clusterCol,
        graft.functions.VectorExprs.nearestCentroid(col(v), centroids))
      .withColumn(simCol,
        round(cosineSim(col(v), element_at(centLit, col(clusterCol) + 1)),
          simDigits)))
    try {
      val hist = Bounded.pull(assigned.groupBy(col(clusterCol), col(simCol))
          .agg(count(lit(1)).as("__n")), maxBuckets, "prunePrototypes",
        "(cluster, sim) buckets", "maxBuckets", "lower simDigits (coarser " +
          "similarity granularity) or raise maxBuckets deliberately (the " +
          "histogram must fit the driver)")
      if (hist.isEmpty) graft.core.Persist.stage(assigned.limit(0))
      else {
        // Per cluster: walk buckets hardest-first (sim asc when keeping
        // hardest), accumulate to target = ceil(f·n); the crossing bucket
        // is the boundary — kept partially, first `remaining` rows in id
        // order. `prefix` positions each cluster's boundary rows inside
        // ONE global (cluster, id)-ordered prefix sum so the per-cluster
        // local rank is cumulative − prefix (driver-known offsets — no
        // per-cluster pass).
        val byCluster = hist.groupBy(_.getInt(0)).toSeq.sortBy(_._1)
        var prefixAcc = 0L
        val selRows = byCluster.map { case (cell, rows) =>
          val buckets0 = rows.map(r => (r.getDouble(1), r.getLong(2)))
          val buckets = if (keepHardest) buckets0.sortBy(_._1)
                        else buckets0.sortBy(-_._1)
          val n = buckets.map(_._2).sum
          val target = math.ceil(keepFraction * n).toLong
          var cum = 0L
          var i = 0
          while (cum + buckets(i)._2 < target) { cum += buckets(i)._2; i += 1 }
          val (thr, boundN) = buckets(i)
          val row = (cell, thr, target - cum, prefixAcc)
          prefixAcc += boundN
          row
        }
        val selDf = spark.createDataFrame(selRows)
          .toDF("__pp_cell", "__pp_thr", "__pp_rem", "__pp_pre")
        val joined = assigned.join(broadcast(selDf),
          col(clusterCol) === col("__pp_cell"), "inner")
        val fullKeep = joined.filter(
          if (keepHardest) col(simCol) < col("__pp_thr")
          else col(simCol) > col("__pp_thr"))
        val boundary = joined.filter(col(simCol) === col("__pp_thr"))
          .withColumn("__pp_ord", struct(col(clusterCol), col(idCol)))
        val rankedB = graft.operators.CorpusPrep.runningTotal(
          boundary, "__pp_ord", lit(1L), "__pp_cum")
        val keptB = rankedB
          .filter(col("__pp_cum") - col("__pp_pre") <= col("__pp_rem"))
          .drop("__pp_ord", "__pp_cum")
        val helperCols = Seq("__pp_cell", "__pp_thr", "__pp_rem", "__pp_pre")
        graft.core.Persist.stage(
          fullKeep.drop(helperCols: _*).unionAll(keptB.drop(helperCols: _*)))
      }
    } finally graft.core.Persist.unstage(spark, blocks)
  }

  /** 1-bit (sign) binary quantization: pack a float vector's signs into
    * ⌈dim/64⌉ longs — the 32× memory tier below SQ8/PQ (binary codes of
    * the Jégou hashing family; the "BQ + exact rerank" mode modern vector
    * stores ship). Pure column composition (codegen'd): bits accumulate
    * high-to-low through shiftleft-by-one folds — NO dynamic shifts and
    * no `acc * 2`, which would trip ANSI overflow checks on the sign bit.
    * Padding lanes beyond the dimension stay 0 on both sides of a
    * Hamming comparison, so tail words never contribute distance. An
    * empty vector packs to an empty code (guarded explicitly: the word
    * sequence would otherwise run 0→−1 with implied step −1 and index
    * element_at at 0, which throws).
    */
  def packSignBits(vec: Column): Column =
    when(size(vec) <= 0, array().cast("array<bigint>")).otherwise(
    transform(sequence(lit(0),
        floor((size(vec) + lit(63)) / lit(64)).cast("int") - 1), w =>
      aggregate(sequence(lit(63), lit(0), lit(-1)), lit(0L), (acc, b) => {
        val idx = w * 64 + b + 1 // element_at is 1-based
        shiftleft(acc, 1).bitwiseOR(
          when(idx <= size(vec) && element_at(vec, idx) > 0f, lit(1L))
            .otherwise(lit(0L)))
      })))

  /** Hamming distance between two packed sign-bit arrays (XOR + popcount
    * per word, codegen'd) — the coarse score of the binary tier.
    */
  def hammingBits(a: Column, b: Column): Column =
    aggregate(zip_with(a, b,
        (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
      lit(0L), _ + _)

  /** Binary-quantized search: coarse top-`nRerank` by Hamming distance on
    * packed sign bits (distributed TakeOrdered — no global sort), exact
    * cosine rerank to top-`k`. Both stages tie-break on `idCol`, so the
    * result is deterministic. At scale the Hamming scan reads 8 bytes per
    * 64 dims — the candidate-generation tier when even SQ8 doesn't fit.
    */
  def binarySearchVec(df: DataFrame, c: String, idCol: String,
      queryVec: Seq[Float], k: Int, nRerank: Int): DataFrame = {
    require(k >= 1 && nRerank >= k,
      s"binarySearchVec: need nRerank >= k >= 1, got k=$k nRerank=$nRerank")
    val v = vecCol(c)
    val spark = df.sparkSession
    val qBitsRow = spark.range(1).select(
      packSignBits(typedlit(queryVec)).as("qb")).head().getSeq[Long](0)
    val coarse = df
      .withColumn("__ham", hammingBits(
        packSignBits(col(v)), typedlit(qBitsRow)))
      .orderBy(col("__ham"), col(idCol))
      .limit(nRerank)
    coarse
      .withColumn("__cos", cosineSim(col(v), typedlit(queryVec)))
      .orderBy(col("__cos").desc, col(idCol))
      .limit(k)
  }
}
