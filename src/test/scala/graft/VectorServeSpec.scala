package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Ingest, Ivf, Pq, Quantize, Similarity, VectorServe, VersionedStore}
import graft.ops.VectorServe.Route

/** The sidecar-driven serving dispatch: upgrading a store's layout in
  * place upgrades its serving route with no caller change, and every
  * route pins to exact knn at corpus-covering settings.
  */
class VectorServeSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private lazy val emb = Tables.embeddings(spark, sf)
    .select($"vec_id".as("id"), $"embedding").limit(200).cache()
  private lazy val qv: Array[Float] =
    Tables.embeddings(spark, sf).filter($"vec_id" === 0)
      .head().getSeq[Float](1).toArray

  private def exactTop(table: String, k: Int): Seq[(Long, Double)] =
    Similarity.knn(VersionedStore.read(spark, table).get.select($"id", $"embedding"),
        "embedding", qv, k)
      .select($"id", round($"score", 9).as("s")).as[(Long, Double)].collect().toSeq

  private def served(table: String, k: Int): Seq[(Long, Double)] =
    VectorServe.search(spark, table, "id", "embedding", qv, k,
        nProbe = 64, overfetch = 1000)
      .select($"id", round($"score", 9).as("s")).as[(Long, Double)].collect().toSeq

  // this ladder is ALSO the spec twin of the driver's 2-stage
  // vectorserve_route_matrix row (slimmed in r18): the middle rungs
  // SQ8 → IVF → residual PQ are pinned here — including through the
  // open() handle's servedRoute, the exact seam the driver row uses —
  // so the bench no longer pays five store rewrites per round
  private def openedRoute(table: String): Route = {
    val h = VectorServe.open(spark, table)
    h.search("id", "embedding", qv, k = 4, nProbe = 64, overfetch = 1000)
      .count(): Unit
    h.servedRoute
  }

  test("route upgrades with the store's layout; every route equals exact knn at covering settings") {
    val table = Files.createTempDirectory("serve").toString + "/store"
    VersionedStore.append(spark, table, emb)
    assert(VectorServe.route(spark, table) == Route.Exact)
    assert(openedRoute(table) == Route.Exact)
    assert(served(table, 5) == exactTop(table, 5))

    Quantize.quantizeStore(spark, table, "embedding")
    assert(VectorServe.route(spark, table) == Route.Sq8Only)
    assert(openedRoute(table) == Route.Sq8Only)
    assert(served(table, 5) == exactTop(table, 5))

    Ivf.indexStore(spark, table, "id", "embedding", k = 4): Unit
    assert(VectorServe.route(spark, table) == Route.IvfSq8)
    assert(openedRoute(table) == Route.IvfSq8)
    assert(served(table, 5) == exactTop(table, 5))

    Pq.pqStore(spark, table, "embedding", m = 8, ncent = 16): Unit
    assert(VectorServe.route(spark, table) == Route.IvfPq)
    assert(openedRoute(table) == Route.IvfPq)
    assert(served(table, 5) == exactTop(table, 5))

    // appends through the seam keep the final composed layout servable
    val more = Tables.embeddings(spark, sf)
      .filter($"vec_id" >= 300).limit(50).select($"vec_id".as("id"), $"embedding")
    assert(Ingest.appendRespectingLayout(spark, table, more) == 50)
    assert(VectorServe.route(spark, table) == Route.IvfPq)
    assert(served(table, 5) == exactTop(table, 5))
  }

  test("IVF-only and plain-PQ stores route to their own paths") {
    val t1 = Files.createTempDirectory("serve-ivf").toString + "/store"
    VersionedStore.append(spark, t1, emb)
    Ivf.indexStore(spark, t1, "id", "embedding", k = 4): Unit
    assert(VectorServe.route(spark, t1) == Route.IvfExact)
    assert(served(t1, 5) == exactTop(t1, 5))

    val t2 = Files.createTempDirectory("serve-pq").toString + "/store"
    VersionedStore.append(spark, t2, emb)
    Pq.pqStore(spark, t2, "embedding", m = 8, ncent = 16): Unit
    assert(VectorServe.route(spark, t2) == Route.PqOnly)
    assert(served(t2, 5) == exactTop(t2, 5))
  }

  test("searchBatch routes every layout; covering settings equal the exact batch join") {
    val queries = Tables.embeddings(spark, sf).filter($"vec_id" < 6)
      .select($"vec_id".as("qid"), $"embedding".as("qemb")).cache()
    def exactBatch(table: String): Seq[(Long, Int, Long, Double)] =
      Similarity.similarityJoin(queries,
          VersionedStore.read(spark, table).get.select($"id", $"embedding"),
          "qid", "qemb", "id", "embedding", k = 5)
        .select($"qid", $"rank", $"id", round($"score", 9).as("s"))
        .as[(Long, Int, Long, Double)].collect().toSeq.sorted
    def servedBatch(table: String): Seq[(Long, Int, Long, Double)] =
      VectorServe.searchBatch(spark, table, "id", "embedding",
          queries, "qid", "qemb", k = 5, nProbe = 64, overfetch = 1000)
        .select($"qid", $"rank", $"id", round($"score", 9).as("s"))
        .as[(Long, Int, Long, Double)].collect().toSeq.sorted
    val table = Files.createTempDirectory("serve-batch").toString + "/store"
    VersionedStore.append(spark, table, emb)
    assert(VectorServe.route(spark, table) == Route.Exact)
    assert(servedBatch(table) == exactBatch(table))
    Quantize.quantizeStore(spark, table, "embedding")
    assert(VectorServe.route(spark, table) == Route.Sq8Only)
    assert(servedBatch(table) == exactBatch(table))
    Ivf.indexStore(spark, table, "id", "embedding", k = 4): Unit
    assert(VectorServe.route(spark, table) == Route.IvfSq8)
    assert(servedBatch(table) == exactBatch(table))
    Pq.pqStore(spark, table, "embedding", m = 8, ncent = 16): Unit
    assert(VectorServe.route(spark, table) == Route.IvfPq)
    assert(servedBatch(table) == exactBatch(table))
    // IVF-only and plain-PQ layouts route their own batch paths
    val t1 = Files.createTempDirectory("serve-batch-ivf").toString + "/store"
    VersionedStore.append(spark, t1, emb)
    Ivf.indexStore(spark, t1, "id", "embedding", k = 4): Unit
    assert(VectorServe.route(spark, t1) == Route.IvfExact)
    assert(servedBatch(t1) == exactBatch(t1))
    val t2 = Files.createTempDirectory("serve-batch-pq").toString + "/store"
    VersionedStore.append(spark, t2, emb)
    Pq.pqStore(spark, t2, "embedding", m = 8, ncent = 16): Unit
    assert(VectorServe.route(spark, t2) == Route.PqOnly)
    assert(servedBatch(t2) == exactBatch(t2))
  }

  test("tuned serving config: persisted width serves by default, survives re-index, stale refuses") {
    val table = Files.createTempDirectory("serve-tuned").toString + "/store"
    VersionedStore.append(spark, table, emb)
    val m1 = Ivf.indexStore(spark, table, "id", "embedding", k = 4)
    // no config yet: default width resolves to the conservative 2
    assert(Ivf.tunedNProbe(spark, table, m1).isEmpty)
    val (p, curve) = Ivf.tuneStore(spark, table, "id", "embedding",
      k = 5, targetRecall = 0.9)
    assert(p >= 1 && p <= m1.k)
    assert(curve.count() == m1.k)
    assert(Ivf.tunedNProbe(spark, table, m1).contains(p))
    // default (nProbe = 0) serves at the tuned width — bit-equal to
    // asking for it explicitly
    def at(np: Int) = VectorServe.search(spark, table, "id", "embedding",
        qv, 5, nProbe = np)
      .orderBy($"id").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(at(0) == at(p))
    // re-index with a DIFFERENT k: the config re-tunes automatically
    // against the new model at its recorded (k, target)
    val m2 = Ivf.indexStore(spark, table, "id", "embedding", k = 3)
    assert(m2.fingerprint != m1.fingerprint)
    val p2 = Ivf.tunedNProbe(spark, table, m2)
    assert(p2.nonEmpty && p2.get <= m2.k, "re-index must re-tune the config")
    assert(VectorServe.search(spark, table, "id", "embedding", qv, 5).count() == 5)
    // an out-of-band model swap leaves a stale config: loud refusal
    graft.Fs.writeString(spark, Ivf.servingConfigPath(table),
      s"v1 deadbeef ${p2.get} 5 0.9 COSINE")
    val err = intercept[IllegalArgumentException] {
      VectorServe.search(spark, table, "id", "embedding", qv, 5)
    }
    assert(err.getMessage.contains("re-run Ivf.tuneStore"))
    // an explicit width bypasses the config entirely
    assert(VectorServe.search(spark, table, "id", "embedding", qv, 5,
      nProbe = m2.k).count() == 5)
  }

  test("open(): a cached handle serves repeatedly bit-equal to one-shot calls, and refuses once the table moves") {
    val table = Files.createTempDirectory("serve-handle").toString + "/store"
    VersionedStore.append(spark, table, emb)
    Quantize.quantizeStore(spark, table, "embedding")
    Ivf.indexStore(spark, table, "id", "embedding", k = 4): Unit
    Pq.pqStore(spark, table, "embedding", m = 8, ncent = 16): Unit
    val h = VectorServe.open(spark, table)
    assert(h.servedRoute == Route.IvfPq)
    def viaHandle(k: Int): Seq[(Long, Double)] =
      h.search("id", "embedding", qv, k, nProbe = 64, overfetch = 1000)
        .select($"id", round($"score", 9).as("s")).as[(Long, Double)].collect().toSeq
    // two serves from one open, equal to the one-shot wrapper and exact
    assert(viaHandle(5) == served(table, 5))
    assert(viaHandle(7) == exactTop(table, 7))
    // batch through the handle matches the one-shot batch wrapper
    val q = Tables.embeddings(spark, sf).filter($"vec_id" < 3)
      .select($"vec_id".as("qid"), $"embedding")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select($"qid", $"rank", $"id", round($"score", 9).as("s"))
      .orderBy($"qid", $"rank").as[(Long, Int, Long, Double)].collect().toSeq
    assert(rows(h.searchBatch("id", "embedding", q, "qid", "embedding", 4,
        nProbe = 64, overfetch = 1000)) ==
      rows(VectorServe.searchBatch(spark, table, "id", "embedding", q,
        "qid", "embedding", 4, nProbe = 64, overfetch = 1000)))
    // the table moves underneath the handle: loud staleness refusal
    val more = Tables.embeddings(spark, sf)
      .filter($"vec_id" >= 300).limit(10).select($"vec_id".as("id"), $"embedding")
    assert(Ingest.appendRespectingLayout(spark, table, more) == 10)
    val err = intercept[IllegalArgumentException] {
      h.search("id", "embedding", qv, 5, nProbe = 64)
    }
    assert(err.getMessage.contains("reopen"))
    // reopening serves the grown table again
    assert(VectorServe.open(spark, table)
      .search("id", "embedding", qv, 5, nProbe = 64, overfetch = 1000)
      .count() == 5)
  }

  test("a registered graph sidecar wins the route; full-ef serve is exact; k-pin, metric and staleness refuse loudly") {
    val root = Files.createTempDirectory("serve-hnsw").toString
    val table = s"$root/store"; val gpath = s"$root/graph"
    VersionedStore.append(spark, table, emb)
    // the graph outranks a composed quantized/IVF layout
    Quantize.quantizeStore(spark, table, "embedding")
    Ivf.indexStore(spark, table, "id", "embedding", k = 4): Unit
    graft.ops.Hnsw.registerHnswSidecar(spark, table, "id", "embedding", gpath)
    assert(VectorServe.route(spark, table) == Route.Hnsw)
    val h = VectorServe.open(spark, table)
    assert(h.servedRoute == Route.Hnsw && h.hnswPath.contains(gpath))
    // explicit full beam (nProbe is ef on the graph route) ≡ exact knn
    def at(np: Int, k: Int) = h.search("id", "embedding", qv, k, nProbe = np)
      .select($"id", round($"score", 9).as("s")).as[(Long, Double)].collect().toSeq
    assert(at(1 << 20, 5) == exactTop(table, 5))
    // handle batch == the standalone sidecar API at the same ef
    val q = Tables.embeddings(spark, sf).filter($"vec_id" < 3)
      .select($"vec_id".as("qid"), $"embedding".as("qemb"))
    def rows(df: org.apache.spark.sql.DataFrame, score: String) = df
      .select($"qid", $"id", round(col(score), 9).as("s"))
      .orderBy($"qid", $"id").as[(Long, Long, Double)].collect().toSeq
    assert(rows(h.searchBatch("id", "embedding", q, "qid", "qemb", 4,
        nProbe = 1 << 20), "score") ==
      rows(graft.ops.Hnsw.searchHnswSidecar(spark, table, gpath, q,
        "qid", "qemb", 4, ef = 1 << 20), "sim"))
    // tuned default consults the persisted operating point — and PINS
    // its k: a serve at a different k refuses instead of silently
    // running at a beam whose recall was measured elsewhere
    val (ef, _) = graft.ops.Hnsw.tuneSidecarEf(spark, table, gpath,
      k = 5, targetRecall = 1.0, efLadder = Seq(1 << 20), maxSample = 16)
    assert(at(0, 5) == at(ef, 5))
    val kErr = intercept[IllegalArgumentException] { at(0, 7) }
    assert(kErr.getMessage.contains("k=5") &&
      kErr.getMessage.contains("re-run tuneSidecarEf"))
    // the graph is cosine-built: another metric refuses loudly
    val mErr = intercept[IllegalArgumentException] {
      h.search("id", "embedding", qv, 5, metric = "DOT_PRODUCT", nProbe = 1 << 20)
    }
    assert(mErr.getMessage.contains("built at COSINE"))
    // a graph stamped at an earlier REAL version (the out-of-band
    // failure shape — ingest seams maintain the sidecar, so drift
    // means someone bypassed them): the route refuses loudly instead
    // of silently degrading to a different recall/latency profile
    graft.Fs.delete(spark, s"$gpath/_stats")
    graft.Fs.writeString(spark, s"$gpath/_stats", "16:100:COSINE v1")
    val sErr = intercept[IllegalArgumentException] { VectorServe.route(spark, table) }
    assert(sErr.getMessage.contains("stale"))
    // the registry's maintenance heals it (the v1→now history replaced
    // segments, so it rebuilds) and the route returns
    graft.ops.SidecarRegistry.afterAppend(spark, table)
    assert(VectorServe.route(spark, table) == Route.Hnsw)
    assert(VectorServe.open(spark, table)
      .search("id", "embedding", qv, 5, nProbe = 1 << 20) // fresh handle, full beam
      .count() == 5)
  }

  test("residual codes with a missing IVF model refuse to serve") {
    val table = Files.createTempDirectory("serve-corrupt").toString + "/store"
    VersionedStore.append(spark, table, emb)
    Ivf.indexStore(spark, table, "id", "embedding", k = 4): Unit
    Pq.pqStore(spark, table, "embedding", m = 8, ncent = 16): Unit
    graft.Fs.delete(spark, Ivf.modelPath(table))
    val err = intercept[IllegalStateException] { VectorServe.route(spark, table) }
    assert(err.getMessage.contains("residual PQ codes"))
  }
}
