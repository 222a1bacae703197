package graft

import org.apache.spark.sql.functions._
import graft.core.Sem
import graft.embed.{IvfVS, Quantize}
import graft.operators.EmbedOps

/** Settings-level ANN tier: `Settings.vs = IvfVS` must route plain
  * semIndexSave/semLoadIndex/semSearchStore through the cell-partitioned
  * IVF index — no bespoke IvfIndex calls in user code.
  */
class IvfVsSpec extends SparkSpec {
  import spark.implicits._

  // Same well-separated directional clusters as IvfSpec.
  private def vecs = {
    val rows = for (i <- 0 until 120) yield {
      val g = i % 8
      val v = Array.tabulate(16) { d =>
        val base = if (d == g) 1.0f else 0.0f
        base + 0.01f * (((i * 31 + d * 7) % 11) - 5)
      }
      (i.toLong, v.toSeq)
    }
    rows.toDF("id", EmbedOps.vecCol("emb"))
  }

  private def withIvfVs[T](sq8: Boolean = false, nProbe: Int = 8)(f: IvfVS => T): T = {
    val base = java.nio.file.Files.createTempDirectory("ivfvs").toString
    val vs = IvfVS(base, nCells = 8, nProbe = nProbe, sq8 = sq8, seed = 7)
    Sem.withSettings(Sem.settings.copy(vs = Some(vs)))(f(vs))
  }

  test("semIndexSave routes through IvfVS; semSearchStore equals exact top-k at full probe") {
    withIvfVs() { _ =>
      val qv = vecs.filter($"id" === 3).select(EmbedOps.vecCol("emb")).as[Seq[Float]].head()
      EmbedOps.semIndexSave(vecs, "emb", "id", "coll")
      val viaStore = EmbedOps.semSearchStoreVec(spark, "coll", qv, 10)
        .select("id").as[Long].collect()
      val exact = EmbedOps.semSearchVec(vecs, "emb", qv, 10, tieBreak = Seq(col("id")))
        .select("id").as[Long].collect()
      assert(viaStore.toSeq == exact.toSeq)
    }
  }

  test("nProbe = 1 probes one cell and still recovers the query's cluster") {
    withIvfVs(nProbe = 1) { _ =>
      val qv = vecs.filter($"id" === 3).select(EmbedOps.vecCol("emb")).as[Seq[Float]].head()
      EmbedOps.semIndexSave(vecs, "emb", "id", "coll")
      val ivf = EmbedOps.semSearchStoreVec(spark, "coll", qv, 10)
        .select("id").as[Long].collect()
      val exact = EmbedOps.semSearchVec(vecs, "emb", qv, 10, tieBreak = Seq(col("id")))
        .select("id").as[Long].collect()
      val recall = ivf.toSet.intersect(exact.toSet).size.toDouble / exact.length
      assert(recall >= 0.9, s"recall $recall")
    }
  }

  test("sq8 store keeps the quantized lifecycle: scores match quantized brute force") {
    withIvfVs(sq8 = true) { _ =>
      val qv = vecs.filter($"id" === 3).select(EmbedOps.vecCol("emb")).as[Seq[Float]].head()
      EmbedOps.semIndexSave(vecs, "emb", "id", "coll")
      val viaStore = EmbedOps.semSearchStoreVec(spark, "coll", qv, 5)
        .select("id", "score").as[(Long, Double)].collect().toMap
      val brute = Quantize.searchQuantized(Quantize.quantize(vecs, "emb"), "emb", qv, 5,
          scoreCol = "score", tieBreak = Seq(col("id")))
        .select("id", "score").as[(Long, Double)].collect().toMap
      assert(viaStore.keySet == brute.keySet)
      viaStore.foreach { case (id, s) => assert(math.abs(s - brute(id)) < 1e-12) }
    }
  }

  test("pq store routes the product-quantized lifecycle; full probe recalls exact top-k") {
    val base = java.nio.file.Files.createTempDirectory("pqvs").toString
    val vs = IvfVS(base, nCells = 8, nProbe = 8, pq = true, pqM = 4, pqKsub = 8, seed = 7)
    Sem.withSettings(Sem.settings.copy(vs = Some(vs))) {
      val qv = vecs.filter($"id" === 3).select(EmbedOps.vecCol("emb")).as[Seq[Float]].head()
      EmbedOps.semIndexSave(vecs, "emb", "id", "coll")
      val viaStore = EmbedOps.semSearchStoreVec(spark, "coll", qv, 10)
        .select("id").as[Long].collect()
      val exact = EmbedOps.semSearchVec(vecs, "emb", qv, 10, tieBreak = Seq(col("id")))
        .select("id").as[Long].collect()
      val recall = viaStore.toSet.intersect(exact.toSet).size.toDouble / exact.length
      assert(recall >= 0.8, s"recall $recall")
    }
  }

  test("pq store: ADC and reconstruction kernels agree per id to 1e-9") {
    val base = java.nio.file.Files.createTempDirectory("pqvs2").toString
    def mk(adc: Boolean) = IvfVS(base, nCells = 8, nProbe = 8, pq = true,
      pqM = 4, pqKsub = 8, pqAdc = adc, seed = 7)
    val qv = vecs.filter($"id" === 3).select(EmbedOps.vecCol("emb")).as[Seq[Float]].head()
    val a = Sem.withSettings(Sem.settings.copy(vs = Some(mk(adc = true)))) {
      EmbedOps.semIndexSave(vecs, "emb", "id", "coll")
      EmbedOps.semSearchStoreVec(spark, "coll", qv, 10)
        .select("id", "score").as[(Long, Double)].collect().toMap
    }
    val b = Sem.withSettings(Sem.settings.copy(vs = Some(mk(adc = false)))) {
      EmbedOps.semSearchStoreVec(spark, "coll", qv, 10)
        .select("id", "score").as[(Long, Double)].collect().toMap
    }
    assert(a.keySet == b.keySet)
    a.foreach { case (id, s) => assert(math.abs(s - b(id)) < 1e-9, s"id $id: $s vs ${b(id)}") }
  }

  test("sq8 and pq codecs are mutually exclusive") {
    intercept[IllegalArgumentException] { IvfVS("x", sq8 = true, pq = true) }
  }

  test("re-indexing a collection under a different codec clears the stale sidecar") {
    val base = java.nio.file.Files.createTempDirectory("pqvs3").toString
    val qv = vecs.filter($"id" === 3).select(EmbedOps.vecCol("emb")).as[Seq[Float]].head()
    Sem.withSettings(Sem.settings.copy(vs = Some(
        IvfVS(base, nCells = 8, nProbe = 8, pq = true, pqM = 4, pqKsub = 8, seed = 7)))) {
      EmbedOps.semIndexSave(vecs, "emb", "id", "coll")
    }
    Sem.withSettings(Sem.settings.copy(vs = Some(IvfVS(base, nCells = 8, nProbe = 8, seed = 7)))) {
      EmbedOps.semIndexSave(vecs, "emb", "id", "coll") // back to flat IVF
      // Without sidecar cleanup the stale pq.json mis-routes this to the PQ
      // reader, which fails on the missing codes column.
      val out = EmbedOps.semSearchStoreVec(spark, "coll", qv, 5)
        .select("id").as[Long].collect()
      assert(out.length == 5)
    }
  }

  test("semLoadIndex reads (id, vector) back through the store") {
    withIvfVs() { _ =>
      EmbedOps.semIndexSave(vecs, "emb", "id", "coll")
      val loaded = EmbedOps.semLoadIndex(vecs.select("id"), "emb", "id", "coll")
      assert(loaded.count() == 120)
      val v = loaded.filter($"id" === 3).select(EmbedOps.vecCol("emb")).as[Seq[Float]].head()
      val orig = vecs.filter($"id" === 3).select(EmbedOps.vecCol("emb")).as[Seq[Float]].head()
      assert(v == orig)
    }
  }

  test("nProbe = 0 measures a PARTIAL auto tier on clustered geometry, " +
      "persists it beside the cells, and searches read the decision") {
    val base = java.nio.file.Files.createTempDirectory("ivfvs_auto").toString
    val auto = IvfVS(base, nCells = 8, nProbe = 0, seed = 7,
      targetRecall = 1.0, autoRecallK = 10)
    Sem.withSettings(Sem.settings.copy(vs = Some(auto))) {
      EmbedOps.semIndexSave(vecs, "emb", "id", "coll")
      // Each cluster lives in its own cell → a partial tier measures
      // recall 1.0 on the 16-query sample and must be the pick.
      val meta = graft.core.MetaIo.parse(graft.core.MetaIo.read(
        spark, s"$base/coll/autoprobe.json"))
      val picked = meta.path("nProbe").intValue()
      assert(picked >= 1 && picked < 8, s"expected a partial tier, got $picked")
      assert(meta.path("recall").doubleValue() == 1.0)
      // The auto search must reproduce the exhaustive result (recall was
      // measured 1.0 at the picked tier on this geometry).
      val qv = vecs.filter($"id" === 3).select(EmbedOps.vecCol("emb"))
        .as[Seq[Float]].head()
      val got = EmbedOps.semSearchStoreVec(spark, "coll", qv, 10)
        .select("id").as[Long].collect().toSeq
      val exact = EmbedOps.semSearchVec(vecs, "emb", qv, 10,
        tieBreak = Seq(col("id"))).select("id").as[Long].collect().toSeq
      assert(got == exact)
    }
    // A fixed-probe re-index DELETES the stale decision, and a
    // subsequent nProbe = 0 config refuses loudly instead of trusting it.
    val fixed = IvfVS(base, nCells = 8, nProbe = 8, seed = 7)
    Sem.withSettings(Sem.settings.copy(vs = Some(fixed))) {
      EmbedOps.semIndexSave(vecs, "emb", "id", "coll")
      assert(!graft.core.MetaIo.exists(spark, s"$base/coll/autoprobe.json"))
    }
    Sem.withSettings(Sem.settings.copy(vs = Some(auto))) {
      val qv = vecs.filter($"id" === 3).select(EmbedOps.vecCol("emb"))
        .as[Seq[Float]].head()
      val e = intercept[IllegalArgumentException](
        EmbedOps.semSearchStoreVec(spark, "coll", qv, 10).collect())
      assert(e.getMessage.contains("autoprobe"))
    }
    intercept[IllegalArgumentException](IvfVS(base, nProbe = -1))
  }

  test("nProbe = 0 re-reads a sidecar rewritten under the same mtime when its length differs") {
    val base = java.nio.file.Files.createTempDirectory("ivfvs_stamp").toString
    val auto = IvfVS(base, nCells = 8, nProbe = 0, seed = 7,
      targetRecall = 1.0, autoRecallK = 10)
    Sem.withSettings(Sem.settings.copy(vs = Some(auto))) {
      EmbedOps.semIndexSave(vecs, "emb", "id", "coll")
      val qv = vecs.filter($"id" === 3).select(EmbedOps.vecCol("emb"))
        .as[Seq[Float]].head()
      // k = every vector: the row count shows how many cells were probed.
      def hits() = EmbedOps.semSearchStoreVec(spark, "coll", qv, 120).count()
      assert(hits() < 120, "the measured tier must be partial on this geometry")
      // An external rewrite to the full tier that keeps the old mtime
      // (a write within the filesystem's timestamp granularity).
      val sidecar = java.nio.file.Paths.get(base, "coll", "autoprobe.json")
      val mtime = java.nio.file.Files.getLastModifiedTime(sidecar)
      graft.core.MetaIo.write(spark, sidecar.toString,
        """{"nProbe":8,"recall":1.0,"note":"rewritten to the full tier"}""")
      java.nio.file.Files.setLastModifiedTime(sidecar, mtime)
      assert(hits() == 120, "the rewritten decision must be read, not the cached one")
    }
  }
}
