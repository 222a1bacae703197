package graft.embed

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Vector-store abstraction (reference VS, lotus/vector_store/vs.py:10-58:
  * index / load_index / search / get_vectors_from_index). Two impls:
  *
  *   - [[ParquetVS]] — the engine default: vectors as parquet (id, vector),
  *     exact brute-force inner-product search in Spark. Matches FaissVS
  *     flat-IP semantics (faiss_vs.py:13-77) and scales horizontally.
  *   - [[QdrantLikeVS]] — the remote-store shape (reference QdrantVS /
  *     WeaviateVS): talks the Qdrant REST contract through an injectable
  *     transport; upserts stream from executors in batches, searches are
  *     driver-side (results are top-k small).
  */
trait VectorStore {
  def index(df: DataFrame, idCol: String, vecCol: String, collection: String): Unit
  def load(spark: SparkSession, collection: String): DataFrame
  def search(spark: SparkSession, collection: String, queryVec: Seq[Float], k: Int): DataFrame
}

/** Parquet-backed store under `basePath/<collection>`. */
final case class ParquetVS(basePath: String) extends VectorStore {

  private def path(c: String) = s"$basePath/$c"

  override def index(df: DataFrame, idCol: String, vecCol: String, collection: String): Unit =
    df.select(col(idCol).cast("long").as("id"), col(vecCol).as("vector"))
      .write.mode("overwrite").parquet(path(collection))

  override def load(spark: SparkSession, collection: String): DataFrame =
    spark.read.parquet(path(collection))

  override def search(spark: SparkSession, collection: String, queryVec: Seq[Float],
      k: Int): DataFrame = {
    val vecs = load(spark, collection)
    vecs.withColumn("score",
        graft.operators.EmbedOps.cosineSim(col("vector"), lit(queryVec)))
      .orderBy(col("score").desc, col("id"))
      .limit(k)
      .select("id", "score")
  }
}

/** IVF(-SQ8/-PQ) ANN-backed store — the settings-level way to reach the
  * indexed ANN tier (the reference routes FAISS indexes through
  * `settings.vs`; this is the Spark-native counterpart, so
  * `semIndexSave`/`semSearchStore` get probe-pruned approximate search
  * without bespoke [[IvfIndex]] calls). `index()` fits the coarse quantizer
  * (bounded driver-side sample) and saves the cell-partitioned parquet
  * index under `basePath/<collection>`; `search()` probes only the `nProbe`
  * nearest cells — a partition-pruning read on the saved layout. Codecs:
  * `sq8 = true` stores int8 codes + scale (~4× smaller; dequant fused into
  * the probe scan); `pq = true` stores product-quantized codes (m smallint
  * codes per vector, [[ProductQuantizer]]) scored with the O(m) ADC lookup
  * kernel — or the bit-reproducible reconstruction cosine when
  * `pqAdc = false` (the two agree to 1e-9; see PqSpec).
  */
object IvfVS {
  /** Parsed auto probe decisions keyed by the sidecar's PATH — JVM-global,
    * not per-instance: the sidecar is immutable between index() calls, so
    * re-reading + re-parsing it on EVERY nProbe = 0 search paid two
    * metadata round trips per query (the loadWithMeta lesson), but a
    * DIFFERENT IvfVS instance can re-index the same path, so a
    * per-instance cache would serve a decision whose file another
    * instance just deleted — index() invalidates here for everyone.
    * Entries carry the sidecar's (MODIFICATION TIME, LENGTH) and are
    * re-validated against it on every hit (one FS metadata call — the parse
    * is still skipped): an EXTERNAL writer re-indexing the same path, or a
    * same-JVM race that re-caches a stale decision between index()'s
    * remove and the new sidecar's write, is caught by the stamp mismatch
    * instead of poisoning every later search.
    */
  private[embed] val autoProbeCache =
    new java.util.concurrent.ConcurrentHashMap[String, ((Long, Long), Int)]()
}

final case class IvfVS(basePath: String, nCells: Int = 256, nProbe: Int = 8,
    sq8: Boolean = false, pq: Boolean = false, pqM: Int = 8, pqKsub: Int = 16,
    pqAdc: Boolean = true, seed: Long = 42,
    pqFitSampleFraction: Double = -1.0,
    targetRecall: Double = 0.95, autoSampleQueries: Int = 16,
    autoRecallK: Int = 10) extends VectorStore {
  require(!(sq8 && pq), "IvfVS: sq8 and pq are alternative codecs — pick one")
  // nProbe = 0 is the ONLY auto sentinel (the hardNegativesIvf
  // convention): the recall-aware tier is measured at index() time and
  // persisted beside the index, so settings/SQL users get the same
  // measured-recall default the operator callers get. Negative stays a
  // loud error, never a tuning request.
  require(nProbe >= 0,
    s"IvfVS: nProbe $nProbe must be >= 0 — 0 selects the recall-aware " +
      "auto tier measured at index() time")

  private def path(c: String) = s"$basePath/$c"
  private val field = "vs"
  private def autoProbePath(c: String) = s"${path(c)}/autoprobe.json"

  /** Measure and persist the auto probe tier: the cheapest partial tier
    * whose sampled fetch recall@`autoRecallK` (self-queries — the
    * lowest-id indexed vectors stand in for the query distribution)
    * meets `targetRecall`, with the loud exhaustive fall-through
    * ([[graft.operators.EmbedOps.recommendProbesForFetch]]). Runs on the
    * RAW vectors before any codec — the tier decision is a property of
    * the cell geometry, which quantization does not move.
    */
  private def tuneAndSaveAutoProbe(indexed: DataFrame,
      model: IvfIndex.IvfModel, collection: String): Unit = {
    val (probes, recall) = graft.operators.EmbedOps.recommendProbesForFetch(
      indexed, model, field, anchors = indexed, idCol = "id",
      nFetch = autoRecallK, targetRecall = targetRecall,
      sampleQueries = autoSampleQueries)
    graft.core.MetaIo.write(indexed.sparkSession, autoProbePath(collection),
      s"""{"nProbe":$probes,"recall":$recall,"targetRecall":$targetRecall,""" +
        s""""k":$autoRecallK,"sampleQueries":$autoSampleQueries}""")
    // Invalidate AFTER the new sidecar lands too: a concurrent search can
    // re-cache the OLD decision between index()'s remove and this write;
    // the stamp validation would catch it, this closes the window outright.
    IvfVS.autoProbeCache.remove(autoProbePath(collection))
  }

  /** The probe tier a search actually uses: the configured one, or the
    * persisted auto decision. The cached decision is validated against the
    * sidecar's (modification time, length), so a rewrite landing within the
    * filesystem's timestamp granularity is still caught when its size
    * differs. A missing sidecar under nProbe = 0 fails loudly — it means the
    * index was built by a fixed-probe config (or a pre-auto version) and
    * carries no measured decision to trust; any other I/O error propagates
    * with its own cause.
    */
  private def effectiveProbes(spark: SparkSession, collection: String): Int =
    if (nProbe > 0) nProbe
    else {
      val key = autoProbePath(collection)
      val hp = new org.apache.hadoop.fs.Path(key)
      val status =
        try hp.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(hp)
        catch { case _: java.io.FileNotFoundException =>
          throw new IllegalArgumentException(s"IvfVS: nProbe = 0 (auto) but $key is " +
            "missing — re-index this collection with an nProbe = 0 config " +
            "so the recall-aware tier is measured and persisted")
        }
      val stamp = (status.getModificationTime, status.getLen)
      val cached = IvfVS.autoProbeCache.get(key)
      if (cached != null && cached._1 == stamp) cached._2
      else {
        val p = graft.core.MetaIo.parse(graft.core.MetaIo.read(spark, key))
          .path("nProbe").intValue()
        IvfVS.autoProbeCache.put(key, (stamp, p))
        p
      }
    }

  override def index(df: DataFrame, idCol: String, vecCol: String, collection: String): Unit = {
    val framed = df.select(col(idCol).cast("long").as("id"),
      col(vecCol).as(graft.operators.EmbedOps.vecCol(field)))
    val (indexed, model) = IvfIndex.build(framed, field, nCells, seed)
    // Any prior build's auto decision is stale the moment a re-index
    // starts: delete it FIRST (a failed fit then leaves nProbe = 0
    // searches failing loudly — conservative), and write the NEW
    // decision only after the cells land below — a sidecar written
    // before a failed codec write would describe cells that never
    // landed while the old ones remain (the mis-route hazard the codec
    // sidecar ordering below guards against).
    graft.core.MetaIo.delete(indexed.sparkSession, autoProbePath(collection))
    IvfVS.autoProbeCache.remove(autoProbePath(collection))
    // Re-indexing under a different codec must remove the other codec's
    // routing sidecar BEFORE the new cells are written: a crash (or a
    // concurrent reader) mid-write then sees a missing-sidecar state that
    // fails loudly via MetaIo/IvfIndex — never a stale pq.json over non-PQ
    // cells that silently mis-routes every later load/search (and vice
    // versa). But only AFTER every fallible driver-side step (the PQ fit's
    // collect can OOM/throw) — deleting first would turn a recoverable fit
    // failure into loss of a previously valid index.
    if (pq) {
      val pqModel = ProductQuantizer.fit(indexed, field, pqM, pqKsub, seed,
        fitSampleFraction = pqFitSampleFraction)
      val quantized = ProductQuantizer.quantize(indexed, field, pqModel)
      graft.core.MetaIo.delete(indexed.sparkSession, s"${path(collection)}/centroids.json")
      ProductQuantizer.save(quantized, pqModel, Some(model), field, "id", path(collection))
    } else {
      graft.core.MetaIo.delete(indexed.sparkSession, s"${path(collection)}/pq.json")
      IvfIndex.save(indexed, model, field, "id", path(collection), sq8)
    }
    // The cells are durable now — measure and persist the auto tier
    // (from the RAW vectors; the tier is a cell-geometry property the
    // codec does not move). A throw here leaves the index valid and
    // nProbe = 0 searches failing loudly, never silently stale.
    if (nProbe == 0) tuneAndSaveAutoProbe(indexed, model, collection)
    indexed.unpersist()
  }

  private def isPq(spark: SparkSession, collection: String): Boolean =
    graft.core.MetaIo.exists(spark, s"${path(collection)}/pq.json")

  override def load(spark: SparkSession, collection: String): DataFrame = {
    if (isPq(spark, collection)) {
      val (cells, pqModel, _) = ProductQuantizer.load(spark, path(collection))
      return cells.select(col("id"),
        ProductQuantizer.reconstructExpr(
          col(ProductQuantizer.codesCol(field)), pqModel).as("vector"))
    }
    val (cells, _) = IvfIndex.load(spark, path(collection))
    val v = graft.operators.EmbedOps.vecCol(field)
    if (cells.columns.contains(v)) cells.select(col("id"), col(v).as("vector"))
    else cells.select(col("id"), // SQ8 layout: reconstruct from codes + scale
      Quantize.sq8Dequant(col(Quantize.codesCol(field)), col(Quantize.scaleCol(field)))
        .as("vector"))
  }

  override def search(spark: SparkSession, collection: String, queryVec: Seq[Float],
      k: Int): DataFrame = {
    val probes = effectiveProbes(spark, collection)
    if (isPq(spark, collection)) {
      val (cells, pqModel, ivf) = ProductQuantizer.load(spark, path(collection))
      return ProductQuantizer.search(cells, field, pqModel, queryVec, k,
          ivf = ivf, nProbe = probes, adc = pqAdc, scoreCol = "score",
          tieBreak = Seq(col("id")))
        .select("id", "score")
    }
    val (cells, model) = IvfIndex.load(spark, path(collection))
    IvfIndex.search(cells, model, field, queryVec, k, probes,
        scoreCol = "score", tieBreak = Seq(col("id")))
      .select("id", "score")
  }
}

/** Remote store speaking the Weaviate REST/GraphQL contract (reference
  * WeaviateVS, lotus/vector_store/weaviate_vs.py:19-122): POST /v1/schema to
  * create the class, batched POST /v1/batch/objects with pre-computed
  * vectors, GraphQL nearVector search returning distance (similarity =
  * 1 - distance, the reference's conversion). Transport injectable like
  * [[QdrantLikeVS]]; upserts stream from executors in batches.
  */
final case class WeaviateLikeVS(baseUrl: String,
    fetch: graft.connectors.WebSearchEngines.Fetch,
    upsertBatch: Int = 256) extends VectorStore {

  @transient private lazy val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  override def index(df: DataFrame, idCol: String, vecCol: String, collection: String): Unit = {
    // Deterministic object UUID from (collection, doc id) — the reference
    // derives uuid5 from doc_id (weaviate_vs.py) so re-indexing UPSERTS in
    // place instead of duplicating; name-based UUIDs give the same property.
    val mkId = (cls: String, id: Long) =>
      java.util.UUID.nameUUIDFromBytes(s"$cls/$id".getBytes("UTF-8")).toString
    // Schema create returns 422 when the class already exists — that is the
    // re-index case, not an error (objects then upsert by deterministic id).
    try fetch(s"$baseUrl/v1/schema", Map.empty,
      Some(s"""{"class":"$collection","vectorizer":"none","properties":[
              |{"name":"doc_id","dataType":["int"]}]}""".stripMargin))
    catch { case _: Exception => () }
    val url = s"$baseUrl/v1/batch/objects"
    val fetchL = fetch
    val batch = upsertBatch
    val cls = collection
    df.select(col(idCol).cast("long").as("id"), col(vecCol).as("vector"))
      .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        val m = new com.fasterxml.jackson.databind.ObjectMapper()
        it.grouped(batch).foreach { rows =>
          val root = m.createObjectNode()
          val objects = root.putArray("objects")
          rows.foreach { r =>
            val o = objects.addObject()
            o.put("class", cls)
            o.put("id", mkId(cls, r.getLong(0)))
            o.putObject("properties").put("doc_id", r.getLong(0))
            val v = o.putArray("vector")
            r.getSeq[Float](1).foreach(x => v.add(x))
          }
          fetchL(url, Map.empty, Some(m.writeValueAsString(root)))
        }
      }
  }

  override def load(spark: SparkSession, collection: String): DataFrame = {
    import spark.implicits._
    val limit = 1000000
    val resp = mapper.readTree(fetch(
      s"$baseUrl/v1/objects?class=$collection&include=vector&limit=$limit",
      Map.empty, None))
    val objs = resp.path("objects")
    // Fail loudly rather than silently truncate an over-limit collection —
    // a partial index poisons every downstream join/dedup invisibly.
    require(objs.size() < limit,
      s"WeaviateLikeVS.load: collection '$collection' has >= $limit objects; " +
        "page with offset/cursor instead of a bulk load")
    (0 until objs.size()).map { i =>
      val o = objs.path(i)
      val v = o.path("vector")
      (o.path("properties").path("doc_id").asLong(),
        (0 until v.size()).map(v.path(_).floatValue()))
    }.toDF("id", "vector")
  }

  override def search(spark: SparkSession, collection: String, queryVec: Seq[Float],
      k: Int): DataFrame = {
    import spark.implicits._
    val gql = s"""{ Get { $collection(nearVector: {vector: [${queryVec.mkString(",")}]},
                 | limit: $k) { doc_id _additional { distance } } } }""".stripMargin
    val body = mapper.createObjectNode()
    body.put("query", gql)
    val resp = mapper.readTree(fetch(s"$baseUrl/v1/graphql", Map.empty,
      Some(mapper.writeValueAsString(body))))
    val hits = resp.path("data").path("Get").path(collection)
    (0 until hits.size()).map { i =>
      val h = hits.path(i)
      // Weaviate reports cosine DISTANCE; similarity = 1 - distance
      // (weaviate_vs.py:108-110).
      (h.path("doc_id").asLong(), 1.0 - h.path("_additional").path("distance").asDouble())
    }.toDF("id", "score")
  }
}

/** Remote store speaking the Qdrant REST contract (PUT collection, PUT
  * points, POST points/search, POST points/scroll). The transport is
  * injectable for hermetic tests; production passes
  * [[graft.connectors.WebSearchEngines.defaultFetch]]-style HTTP.
  */
final case class QdrantLikeVS(baseUrl: String,
    fetch: graft.connectors.WebSearchEngines.Fetch,
    upsertBatch: Int = 256) extends VectorStore {

  @transient private lazy val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  override def index(df: DataFrame, idCol: String, vecCol: String, collection: String): Unit = {
    val dim = df.select(size(col(vecCol))).head().getInt(0)
    fetch(s"$baseUrl/collections/$collection", Map.empty,
      Some(s"""{"vectors":{"size":$dim,"distance":"Cosine"}}"""))
    val url = s"$baseUrl/collections/$collection/points"
    val fetchL = fetch
    val batch = upsertBatch
    df.select(col(idCol).cast("long").as("id"), col(vecCol).as("vector"))
      .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        val m = new com.fasterxml.jackson.databind.ObjectMapper()
        it.grouped(batch).foreach { rows =>
          val root = m.createObjectNode()
          val points = root.putArray("points")
          rows.foreach { r =>
            val p = points.addObject()
            p.put("id", r.getLong(0))
            val v = p.putArray("vector")
            r.getSeq[Float](1).foreach(x => v.add(x))
          }
          fetchL(url, Map.empty, Some(m.writeValueAsString(root)))
        }
      }
  }

  override def load(spark: SparkSession, collection: String): DataFrame = {
    import spark.implicits._
    val resp = mapper.readTree(fetch(
      s"$baseUrl/collections/$collection/points/scroll", Map.empty,
      Some("""{"limit":1000000,"with_vector":true}""")))
    val points = resp.path("result").path("points")
    (0 until points.size()).map { i =>
      val p = points.path(i)
      val v = p.path("vector")
      (p.path("id").asLong(), (0 until v.size()).map(v.path(_).floatValue()))
    }.toDF("id", "vector")
  }

  override def search(spark: SparkSession, collection: String, queryVec: Seq[Float],
      k: Int): DataFrame = {
    import spark.implicits._
    val body = mapper.createObjectNode()
    val v = body.putArray("vector")
    queryVec.foreach(x => v.add(x))
    body.put("limit", k)
    val resp = mapper.readTree(fetch(
      s"$baseUrl/collections/$collection/points/search", Map.empty,
      Some(mapper.writeValueAsString(body))))
    val hits = resp.path("result")
    (0 until hits.size()).map { i =>
      (hits.path(i).path("id").asLong(), hits.path(i).path("score").asDouble())
    }.toDF("id", "score")
  }
}
