package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.embed.{EmbedText, HashEmbedder}
import graft.ops.Similarity

/** Vector-search parity queries (SURVEY.md §2.5) over the `embeddings`
  * table. Scores are rounded to 6 decimals in the *output only* (top-k
  * selection runs on the raw double): DuckDB's list_* kernels and our
  * codegen'd expressions agree to ~1e-15 but not to the last ulp.
  */
object VectorSearch {
  type Q = (SparkSession, String) => DataFrame

  /** The query vector: embeddings row vec_id=0 (a query parameter, like
    * the reference's embedded question — a 1-row driver-side lookup).
    */
  private def queryVec(s: SparkSession, d: String): Array[Float] =
    embeddings(s, d).filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).toArray

  private def knnQuery(metric: String): Q = (s, d) => {
    import s.implicits._
    val qv = queryVec(s, d)
    Similarity.knn(
        embeddings(s, d).filter($"vec_id" =!= 0).select($"vec_id", $"embedding"),
        "embedding", qv, k = 10, metric = metric)
      .select($"vec_id", round($"score", 6).as("sim"))
      .orderBy(if (metric == "EUCLIDEAN_DISTANCE") $"sim".asc else $"sim".desc, $"vec_id")
  }

  private def knnOracle(fn: String, desc: Boolean): String = {
    val ord = if (desc) "DESC" else "ASC"
    s"""SELECT vec_id, round(s, 6) AS sim FROM (
       |  SELECT e.vec_id, $fn(e.embedding::DOUBLE[],
       |    (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0)) AS s
       |  FROM embeddings e WHERE e.vec_id <> 0
       |  ORDER BY s $ord, e.vec_id LIMIT 10)
       |ORDER BY sim $ord, vec_id""".stripMargin
  }

  /** One SQ8-quantized copy of the embeddings table per corpus per JVM
    * (parquet, so the coarse pass's column pruning is real scan IO): the
    * query entry measures the SEARCH, not the one-time quantization —
    * the same session-cache discipline as the lexical index.
    */
  private val qstoreCache = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def cachedQuantStore(s: SparkSession, d: String): String =
    qstoreCache.computeIfAbsent(d, _ => {
      val dir = java.nio.file.Files.createTempDirectory("qstore-session").toString + "/emb"
      graft.ops.Quantize.withQuantized(
        embeddings(s, d).select(col("vec_id"), col("embedding")), "embedding")
        .write.parquet(dir)
      dir
    })

  /** Quantized AND cluster-partitioned store (the composed serving
    * layout): probe filters prune partitions, the coarse pass reads int8
    * codes inside them, the rescore reads floats for candidate ids only.
    */
  private val ivfqCache = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def cachedIvfQuantStore(s: SparkSession, d: String): String =
    ivfqCache.computeIfAbsent(d, _ => {
      val dir = java.nio.file.Files.createTempDirectory("ivfq-session").toString + "/emb"
      val emb = embeddings(s, d).select(col("vec_id"), col("embedding"))
      val model = graft.ops.Ivf.fit(emb, "vec_id", "embedding", k = 8)
      graft.ops.Ivf.writePartitioned(
        graft.ops.Quantize.withQuantized(emb, "embedding"), "embedding", model, dir)
      dir
    })

  /** PQ-encoded copy of the embeddings table (parquet — the ADC coarse
    * pass's codes-only read schema is real scan IO) plus its codebook,
    * one per corpus per JVM.
    */
  private val pqCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, graft.ops.Pq.PqModel)]()
  private def cachedPqStore(s: SparkSession, d: String): (String, graft.ops.Pq.PqModel) =
    pqCache.computeIfAbsent(d, _ => {
      val dir = java.nio.file.Files.createTempDirectory("pqstore-session").toString + "/emb"
      val emb = embeddings(s, d).select(col("vec_id"), col("embedding"))
      val model = graft.ops.Pq.fit(emb, "vec_id", "embedding", m = 8, ncent = 16)
      graft.ops.Pq.encode(emb, "embedding", model).write.parquet(dir)
      (dir, model)
    })

  /** Residual IVF-PQ layout: cluster-partitioned store with residual
    * codes — probe prunes partitions, ADC ranks inside them from codes
    * + cluster id only, rescore reads floats for survivors.
    */
  private val ivfpqCache = new java.util.concurrent.ConcurrentHashMap[
    String, (String, graft.ops.Ivf.IvfModel, graft.ops.Pq.PqModel)]()
  private def cachedIvfPqStore(s: SparkSession, d: String)
      : (String, graft.ops.Ivf.IvfModel, graft.ops.Pq.PqModel) =
    ivfpqCache.computeIfAbsent(d, _ => {
      val dir = java.nio.file.Files.createTempDirectory("ivfpq-session").toString + "/emb"
      val emb = embeddings(s, d).select(col("vec_id"), col("embedding"))
      val ivf = graft.ops.Ivf.fit(emb, "vec_id", "embedding", k = 8)
      val pq = graft.ops.Pq.fitResiduals(emb, "vec_id", "embedding", ivf, m = 8, ncent = 16)
      graft.ops.Pq.encodeResiduals(
          graft.ops.Ivf.assign(emb, "embedding", ivf), "embedding", "cluster_id", ivf, pq)
        .write.partitionBy("cluster_id").parquet(dir)
      (dir, ivf, pq)
    })

  /** Materialize every session-cached serving artifact (SQ8 / IVF+SQ8 /
    * PQ / IVF-PQ / IVF+metadata stores and their codebooks) for `d` —
    * bench setup calls this so codebook FITS (a one-time build cost;
    * production serves from persisted stores) never land inside the
    * first measured run. Without it, every bench round's stalled list
    * is the same known fit costs and a real cold-path regression hides
    * inside them.
    */
  def prewarmStores(s: SparkSession, d: String): Unit = {
    cachedQuantStore(s, d): Unit
    cachedIvfQuantStore(s, d): Unit
    cachedPqStore(s, d): Unit
    cachedIvfPqStore(s, d): Unit
    cachedIvfMetaStore(s, d): Unit
  }

  /** Cluster-partitioned store carrying a METADATA column (lang, via
    * the vec_id ≡ doc_id join) alongside the embedding — the layout
    * filtered ANN serves from.
    */
  private val ivfmCache = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def cachedIvfMetaStore(s: SparkSession, d: String): String =
    ivfmCache.computeIfAbsent(d, _ => {
      val dir = java.nio.file.Files.createTempDirectory("ivfm-session").toString + "/emb"
      val emb = embeddings(s, d).select(col("vec_id"), col("embedding"))
        .join(documents(s, d).select(col("doc_id").as("vec_id"), col("lang")),
          Seq("vec_id"))
      val model = graft.ops.Ivf.fit(emb, "vec_id", "embedding", k = 8)
      graft.ops.Ivf.writePartitioned(emb, "embedding", model, dir)
      dir
    })

  val queries: Map[String, Q] = Map(
    // Metadata-filtered ANN (pre-filter semantics: predicate BEFORE
    // scoring, so selective filters still return k rows): full probe +
    // lang='en' must equal the exact filtered top-k — the oracle
    // recomputes it from the raw tables with the same join.
    "ann_ivf_filtered_probe" -> ((s, d) => {
      import s.implicits._
      val qv = queryVec(s, d)
      val path = cachedIvfMetaStore(s, d)
      val model = graft.ops.Ivf.loadModel(s, graft.ops.Ivf.modelPath(path))
      val store = s.read.parquet(path).filter($"vec_id" =!= 0)
      graft.ops.Ivf.searchFiltered(store, "embedding", model, qv, topK = 10,
          nProbe = model.k, predicate = $"lang" === "en")
        .select($"vec_id", round($"score", 6).as("sim"))
        .orderBy($"sim".desc, $"vec_id")
    }),

    // Embedding-table health: the one-row check a vector store runs
    // before trusting a new embedding drop — volume, nulls, degenerate
    // zero vectors, dimension consistency, norm distribution. Per-row
    // norms are order-identical across engines (one sequential fold per
    // row); only the cross-row mean needs the 6dp round.
    "embedding_health_report" -> ((s, d) => {
      import s.implicits._
      val e = embeddings(s, d)
      val norm = sqrt(aggregate($"embedding",
        lit(0.0d), (acc, x) => acc + x.cast("double") * x.cast("double")))
      e.select($"vec_id", $"embedding",
          when($"embedding".isNull, lit(null)).otherwise(norm).as("__n"))
        .agg(
          count(lit(1)).as("n_vectors"),
          sum(when($"embedding".isNull, 1L).otherwise(0L)).as("n_null"),
          sum(when($"__n" === 0.0, 1L).otherwise(0L)).as("n_zero_norm"),
          min(size($"embedding")).cast("long").as("dim_min"),
          max(size($"embedding")).cast("long").as("dim_max"),
          round(min($"__n"), 6).as("min_norm"),
          round(max($"__n"), 6).as("max_norm"),
          round(avg($"__n"), 6).as("avg_norm"))
    }),

    // Parent-document retrieval (small-to-big): search chunk vectors
    // (vec_id div 10 groups ten "chunks" per synthetic parent), return
    // the top parents by best chunk score — the
    // ParentDocumentRetriever pattern as one plan.
    "parent_doc_retrieval" -> ((s, d) => {
      import s.implicits._
      val qv = queryVec(s, d)
      val chunks = embeddings(s, d).filter($"vec_id" =!= 0)
        .select($"vec_id", expr("vec_id div 10").as("parent_id"), $"embedding")
      Similarity.parentTopK(chunks, "parent_id", "embedding", qv,
          kChunks = 40, kParents = 5)
        .orderBy($"best_score".desc, $"parent_id")
    }),

    // V2 similarity top-k under each declared metric (schema.py:18).
    "knn_cosine_topk" -> knnQuery("COSINE"),
    "knn_euclidean_topk" -> knnQuery("EUCLIDEAN_DISTANCE"),
    "knn_dot_topk" -> knnQuery("DOT_PRODUCT"),

    // PQ (product quantization) coarse + exact rescore. The coarse scan
    // reads 8 bytes of codes per row (vs 256 float bytes — the 100 TB
    // scan-IO tier past SQ8); here the coarse cut is corpus-covering,
    // so the result must EQUAL exact knn (shares its oracle) — the
    // pin-to-exact contract of ann_ivf_full_probe. Operating-point
    // recall vs overfetch is measured in SCALE.md's "PQ recall sweep
    // across three fixture regimes" table, not silently shipped.
    "knn_pq_rescore" -> ((s, d) => {
      import s.implicits._
      val qv = queryVec(s, d)
      val (dir, model) = cachedPqStore(s, d)
      val store = s.read.parquet(dir).filter($"vec_id" =!= 0)
      graft.ops.Pq.knnPqRescore(store, "vec_id", "embedding", qv, k = 10, model,
          overfetch = 200)
        .select($"vec_id", round($"score", 6).as("sim"))
        .orderBy($"sim".desc, $"vec_id")
    }),

    // Residual IVF-PQ (IVF cell selection × PQ-coded residuals × exact
    // rescore — the classic IVF-ADC composition): at full probe + a
    // corpus-covering coarse cut it must equal exact knn bit for bit on
    // the same oracle, pinning the cell selection, the per-cluster ADC
    // decomposition, and the rescore to the exact path.
    "ann_ivf_pq_probe" -> ((s, d) => {
      import s.implicits._
      val qv = queryVec(s, d)
      val (dir, ivf, pq) = cachedIvfPqStore(s, d)
      val store = s.read.parquet(dir).filter($"vec_id" =!= 0)
      graft.ops.Pq.searchIvfPq(store, "vec_id", "embedding", qv, k = 10, ivf, pq,
          nProbe = ivf.k, overfetch = 200)
        .select($"vec_id", round($"score", 6).as("sim"))
        .orderBy($"sim".desc, $"vec_id")
    }),

    // SQ8 coarse + exact rescore: the coarse pass scans only the int8
    // codes (~¼ the bytes of the float column), the rescore touches the
    // float column for k×overfetch ids via a literal IN — and the result
    // must EQUAL exact knn (shares its oracle), so fixture-visible rank
    // loss is a loud correctness failure, never a silent recall drop.
    "knn_quantized_rescore" -> ((s, d) => {
      import s.implicits._
      val qv = queryVec(s, d)
      val store = s.read.parquet(cachedQuantStore(s, d)).filter($"vec_id" =!= 0)
      graft.ops.Quantize.knnQuantizedRescore(store, "vec_id", "embedding", qv, k = 10)
        .select($"vec_id", round($"score", 6).as("sim"))
        .orderBy($"sim".desc, $"vec_id")
    }),

    // The composed ANN serving stack: IVF cluster partitioning (probe =
    // partition pruning) × SQ8 coarse scan (int8 codes only) × exact
    // float rescore. At full probe it must equal exact knn bit for bit —
    // the same oracle — so BOTH approximation layers are pinned to the
    // exact path on the fixture.
    "ann_ivf_quantized_probe" -> ((s, d) => {
      import s.implicits._
      val qv = queryVec(s, d)
      val path = cachedIvfQuantStore(s, d)
      val model = graft.ops.Ivf.loadModel(s, graft.ops.Ivf.modelPath(path))
      val probes = model.probeOrder(qv).toSeq // full probe: every cluster
      val store = s.read.parquet(path)
        .filter($"cluster_id".isin(probes: _*) && $"vec_id" =!= 0)
      graft.ops.Quantize.knnQuantizedRescore(store, "vec_id", "embedding", qv, k = 10)
        .select($"vec_id", round($"score", 6).as("sim"))
        .orderBy($"sim".desc, $"vec_id")
    }),

    // V3 score-threshold search (relevance >= t).
    "score_threshold_search" -> ((s, d) => {
      import s.implicits._
      val qv = queryVec(s, d)
      Similarity.scoreThreshold(
          embeddings(s, d).filter($"vec_id" =!= 0).select($"vec_id", $"embedding"),
          "embedding", qv, threshold = 0.15)
        .select($"vec_id", round($"score", 6).as("sim"))
        .orderBy($"vec_id")
    }),

    // J4 batch similarity join: 10 query vectors × corpus, top-4 each.
    "similarity_join_topk" -> ((s, d) => {
      import s.implicits._
      val e = embeddings(s, d)
      val q = e.filter($"vec_id" < 10).select($"vec_id".as("query_id"), $"embedding")
      val c = e.filter($"vec_id" >= 10).select($"vec_id", $"embedding")
      Similarity.similarityJoin(q, c, "query_id", "embedding", "vec_id", "embedding", k = 4)
        .select($"query_id", $"rank".cast("long").as("rank"), $"vec_id",
          round($"score", 6).as("sim"))
        .orderBy($"query_id", $"rank")
    }),

    // V4 MMR re-rank: greedy diversification over fetch_k=20 candidates
    // (driver-side, bounded by the reference's fetch_k cap). Fully
    // hash-anchored: the oracle replays the greedy argmax chain as a
    // recursive CTE — each step picks the remaining candidate
    // maximizing λ·sim − (1−λ)·max-cos-to-selected via a LATERAL
    // ORDER BY/LIMIT 1, ties toward the better fetch rank, exactly
    // the engine's insertion-order maxBy.
    "mmr_rerank" -> ((s, d) => {
      import s.implicits._
      val qv = queryVec(s, d)
      val picks = Similarity.mmr(
        embeddings(s, d).filter($"vec_id" =!= 0), "vec_id", "embedding", qv,
        k = 4, fetchK = 20, lambdaMult = 0.5)
      picks.toDF("vec_id", "mmr_rank", "sim")
        .select($"vec_id", $"mmr_rank".cast("long").as("mmr_rank"), round($"sim", 6).as("sim"))
        .orderBy($"mmr_rank")
    }),

    // V4 at λ=1 the greedy's relevance term alone orders the picks, so
    // MMR degenerates to plain top-k and shares the knn oracle — an
    // oracle-checked anchor for the otherwise engine-defined MMR family
    // (the diversity term, exercised at λ<1, stays covered by mmr_rerank
    // rows + the SimilaritySpec properties).
    "mmr_lambda1_equals_knn" -> ((s, d) => {
      import s.implicits._
      val picks = Similarity.mmr(
        embeddings(s, d).filter($"vec_id" =!= 0), "vec_id", "embedding", queryVec(s, d),
        k = 10, fetchK = 10, lambdaMult = 1.0)
      picks.toDF("vec_id", "mmr_rank", "sim")
        .select($"vec_id", round($"sim", 6).as("sim"))
        .orderBy($"sim".desc, $"vec_id")
    }),

    // S16/§4 IVF index at full probe: fit 8 centroids, search probing all
    // of them — must equal exact brute-force knn, so it shares the knn
    // oracle. (Partial-probe pruning is covered in ScaleOpsSpec.)
    "ann_ivf_full_probe" -> ((s, d) => {
      import s.implicits._
      val e = embeddings(s, d)
      val model = graft.ops.Ivf.fit(e, "vec_id", "embedding", k = 8)
      val assigned = graft.ops.Ivf.assign(e.filter($"vec_id" =!= 0), "embedding", model)
      graft.ops.Ivf.search(assigned, "embedding", model, queryVec(s, d), topK = 10, nProbe = 8)
        .select($"vec_id", round($"score", 6).as("sim"))
        .orderBy($"sim".desc, $"vec_id")
    }),

    // S16's OTHER reference index type (schema.py:19 declares HNSW |
    // IVF): batch-built per-partition HNSW graphs (the Lucene-segment
    // distribution model), searched at full ef — where beam search
    // provably visits every node of the connected graph, so the result
    // must equal exact kNN, the same contract as ann_ivf_full_probe's
    // full-probe pin. Small-ef recall + determinism + connectivity are
    // spec'd in HnswSpec.
    "ann_hnsw_full_ef" -> ((s, d) => {
      import s.implicits._
      val e = embeddings(s, d)
      val path = java.nio.file.Files
        .createTempDirectory("hnsw-session").toString + "/ix"
      graft.ops.Hnsw.build(e.filter($"vec_id" =!= 0), "vec_id", "embedding",
        path, graft.ops.Hnsw.Params(m = 8, efConstruction = 32),
        numPartitions = 4)
      graft.ops.Hnsw.search(s, path, queryVec(s, d), k = 10, ef = Int.MaxValue)
        .select($"vec_id", round($"sim", 6).as("sim"))
        .orderBy($"sim".desc, $"vec_id")
    }),

    // IVF × HNSW composition at full probe + full ef: one graph per
    // IVF cell, the query's probe set picks the graphs (the two-level
    // 100 TB serving shape — coarse quantizer prunes whole graphs,
    // beam search replaces the in-cell scan); probing every cell at
    // exhaustive ef must equal exact kNN. Partial-probe score
    // preservation and probe-pruning recall are spec'd in HnswSpec.
    "ann_hnsw_ivf_probe" -> ((s, d) => {
      import s.implicits._
      val e = embeddings(s, d)
      val c = e.filter($"vec_id" =!= 0)
      val model = graft.ops.Ivf.fit(c, "vec_id", "embedding", k = 8)
      val path = java.nio.file.Files
        .createTempDirectory("hnswivf-session").toString + "/ix"
      graft.ops.Hnsw.buildIvf(c, "vec_id", "embedding", model, path,
        graft.ops.Hnsw.Params(m = 8, efConstruction = 32))
      val q = e.filter($"vec_id" === 0)
        .select($"vec_id".as("qid"), $"embedding".as("qv"))
      graft.ops.Hnsw.searchBatchProbed(s, path, q, "qid", "qv", k = 10,
          ef = Int.MaxValue, model, nProbe = model.k)
        .select($"vec_id", round($"sim", 6).as("sim"))
        .orderBy($"sim".desc, $"vec_id")
    }),

    // The HNSW sidecar on the real store lifecycle: half the corpus
    // lands in a versioned store, registration builds the graph
    // sidecar, the second half arrives through the PRODUCTION append
    // seam (appendRespectingLayout — which must fold it in as new
    // segment graphs, or the serve below refuses as stale), and the
    // full-ef serve over ALL segments must equal exact kNN. One query
    // pins registration, the seam fold, the staleness guard's pass
    // path and graph-search exactness together.
    "ann_hnsw_sidecar_serve" -> ((s, d) => {
      import s.implicits._
      val emb = embeddings(s, d)
      val root = java.nio.file.Files
        .createTempDirectory("hnswside-session").toString
      val table = s"$root/store"
      val c = emb.filter($"vec_id" =!= 0).select($"vec_id", $"embedding")
      graft.ops.VersionedStore.append(s, table, c.filter($"vec_id" % 2 === 1))
      graft.ops.Hnsw.registerHnswSidecar(s, table, "vec_id", "embedding",
        s"$root/graph")
      graft.ops.Ingest.appendRespectingLayout(s, table,
        c.filter($"vec_id" % 2 === 0))
      val q = emb.filter($"vec_id" === 0)
        .select($"vec_id".as("qid"), $"embedding".as("qv"))
      graft.ops.Hnsw.searchHnswSidecar(s, table, s"$root/graph", q,
          "qid", "qv", k = 10, ef = Int.MaxValue)
        .select($"vec_id", round($"sim", 6).as("sim"))
        .orderBy($"sim".desc, $"vec_id")
    }),

    // The graph sidecar behind the ONE front door: a store with a
    // REGISTERED HNSW sidecar must be served by VectorServe.open()
    // itself (reference S16's HNSW|IVF store duality — schema.py:19,
    // embedding.py:348-368), not by a separate graph API. The route
    // must dispatch Route.Hnsw, the tuned default width must come from
    // the tuneSidecarEf-persisted operating point (k pinned — the
    // config here is the single cap rung, exact by the full-ef
    // theorem), and the handle-served result must equal exact kNN —
    // the same oracle every ann_* row pins.
    "vectorserve_hnsw_route" -> ((s, d) => {
      import s.implicits._
      val emb = embeddings(s, d)
      val root = java.nio.file.Files
        .createTempDirectory("hnswroute-session").toString
      val table = s"$root/store"
      val c = emb.filter($"vec_id" =!= 0).select($"vec_id", $"embedding")
      graft.ops.VersionedStore.append(s, table, c)
      graft.ops.Hnsw.registerHnswSidecar(s, table, "vec_id", "embedding",
        s"$root/graph")
      graft.ops.Hnsw.tuneSidecarEf(s, table, s"$root/graph",
        k = 10, targetRecall = 1.0, efLadder = Seq(1 << 20), maxSample = 16)
      val h = graft.ops.VectorServe.open(s, table)
      require(h.servedRoute == graft.ops.VectorServe.Route.Hnsw,
        s"a registered graph sidecar must dispatch Route.Hnsw, got ${h.servedRoute}")
      val q = emb.filter($"vec_id" === 0)
        .select($"vec_id".as("qid"), $"embedding".as("qv"))
      // nProbe = 0 → the persisted operating point (full ef, k-pinned)
      h.searchBatch("vec_id", "embedding", q, "qid", "qv", k = 10)
        .select($"vec_id", round($"score", 6).as("sim"))
        .orderBy($"sim".desc, $"vec_id")
    }),

    // Streaming × graph-index freshness: two-thirds of the corpus
    // arrives as file-source micro-batches (parquet moved into a
    // watched dir — the crawler-drop shape), each folded into the
    // versioned store through the PRODUCTION append seam inside
    // foreachBatch; the registered HNSW sidecar must therefore fold
    // every micro-batch as new segment graphs (one missed fold and the
    // serve below REFUSES as stale), and the full-ef serve over all
    // segments must equal exact kNN over everything that arrived. One
    // query pins stream arrival, the seam's sidecar maintenance, the
    // staleness guard's pass path and graph exactness together.
    "stream_hnsw_live_serve" -> ((s, d) => {
      import s.implicits._
      val emb = embeddings(s, d)
      val root = java.nio.file.Files
        .createTempDirectory("hnswlive-session").toString
      val table = s"$root/store"; val in = s"$root/in"
      new java.io.File(in).mkdirs()
      val c = emb.filter($"vec_id" =!= 0).select($"vec_id", $"embedding")
      // batch 0 lands batch-side so registration has rows to index
      graft.ops.VersionedStore.append(s, table, c.filter($"vec_id" % 3 === 0))
      graft.ops.Hnsw.registerHnswSidecar(s, table, "vec_id", "embedding",
        s"$root/graph")
      def publish(b: Long): Unit = {
        val stage = s"$root/stage$b"
        c.filter($"vec_id" % 3 === b).coalesce(1)
          .write.mode("overwrite").parquet(stage)
        graft.Fs.list(s, stage)
          .find(f => f.contains("part-") && f.endsWith(".parquet"))
          .foreach(part => graft.Fs.rename(s, part, s"$in/b$b.parquet"))
      }
      val stream = s.readStream.schema(c.schema).parquet(in)
      val q = stream.writeStream.outputMode("append")
        .option("checkpointLocation", s"$root/ckpt")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          graft.ops.Ingest.appendRespectingLayout(s, table, batch): Unit
        }.start()
      try {
        publish(1); q.processAllAvailable()
        publish(2); q.processAllAvailable()
      } finally q.stop()
      val qv = emb.filter($"vec_id" === 0)
        .select($"vec_id".as("qid"), $"embedding".as("qv"))
      graft.ops.Hnsw.searchHnswSidecar(s, table, s"$root/graph", qv,
          "qid", "qv", k = 10, ef = Int.MaxValue)
        .select($"vec_id", round($"sim", 6).as("sim"))
        .orderBy($"sim".desc, $"vec_id")
    }),

    // Hnsw.tuneEf invariants as an oracle row (the tuner's CONTRACT —
    // Ivf.tuneNProbe's mirror): tune toward recall@10 ≥ 0.95 over a
    // 4-rung ladder whose cap exceeds every partition size, so the cap
    // rung is exact by the full-ef theorem. The oracle declares the
    // theorem facts: cap recall is exactly 1.0, hits never exceed the
    // ground-truth size, the chosen ef meets the target and is the
    // FIRST rung that does, and an independent searchBatch at the
    // chosen ef reproduces the curve's hit count integer-for-integer.
    "ann_hnsw_tune_ef" -> ((s, d) => {
      import s.implicits._
      val e = embeddings(s, d)
      val path = java.nio.file.Files
        .createTempDirectory("hnswtune-session").toString + "/ix"
      val corpus = e.filter($"vec_id" >= 20).select($"vec_id", $"embedding")
      graft.ops.Hnsw.build(corpus, "vec_id", "embedding", path,
        graft.ops.Hnsw.Params(m = 8, efConstruction = 32), numPartitions = 4)
      val q = e.filter($"vec_id" < 20)
        .select($"vec_id".as("qid"), $"embedding".as("qv"))
      val k = 10; val target = 0.95
      val ladder = Seq(4, 16, 64, 1 << 20)
      val (chosen, curve) = graft.ops.Hnsw.tuneEf(
        s, path, q, "qid", "qv", k, target, ladder)
      // the curve is exact integers only (ef, n_hits, recall_micros);
      // re-deriving "first rung meeting target" below uses the SAME
      // micros comparison tuneEf chose with, so the two cannot disagree
      val rungs = curve.orderBy($"ef").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      val tgtMicros = graft.ops.Hnsw.targetMicros(target)
      val truth = graft.ops.Similarity.similarityJoin(q, corpus,
          "qid", "qv", "vec_id", "embedding", k, "COSINE")
        .select($"qid", $"vec_id").localCheckpoint()
      val total = truth.count()
      val rehits = graft.ops.Hnsw.searchBatch(s, path, q, "qid", "qv", k, chosen)
        .join(truth, Seq("qid", "vec_id")).count()
      val firstMeeting = rungs.collectFirst {
        case (ef2, _, recM) if recM >= tgtMicros => ef2 }
      Seq((rungs.length.toLong, total,
          rungs.last._2 == total,
          rungs.forall(_._2 <= total),
          rungs.find(_._1 == chosen).exists(_._3 >= tgtMicros),
          firstMeeting.contains(chosen),
          rungs.find(_._1 == chosen).exists(_._2 == rehits)))
        .toDF("n_rungs", "total_truth", "cap_recall_one", "hits_bounded_all",
          "chosen_meets_target", "chosen_is_first_meeting",
          "recheck_hits_equal_curve")
    }),

    // S16 × J4: IVF-probed batch similarity join at full probe — every
    // query ranks all 8 centroids, so the probed union is the whole
    // corpus and the result must equal the exhaustive batch join
    // bit-for-bit; it shares similarity_join_topk's oracle. (Partial
    // probe — real partition pruning + planted-cluster batch recall —
    // is covered in ScaleOpsSpec.)
    "ann_ivf_batch_probe" -> ((s, d) => {
      import s.implicits._
      val e = embeddings(s, d)
      val model = graft.ops.Ivf.fit(e, "vec_id", "embedding", k = 8)
      val q = e.filter($"vec_id" < 10).select($"vec_id".as("query_id"), $"embedding")
      val c = graft.ops.Ivf.assign(
        e.filter($"vec_id" >= 10).select($"vec_id", $"embedding"), "embedding", model)
      graft.ops.Ivf.searchBatch(q, c, "query_id", "embedding", "vec_id", "embedding",
          model, topK = 4, nProbe = 8)
        .select($"query_id", $"rank".cast("long").as("rank"), $"vec_id",
          round($"score", 6).as("sim"))
        .orderBy($"query_id", $"rank")
    }),

    // The serving ladder's END STATE behind one front door,
    // oracle-checked: a store is built up in place to the composed
    // layout the dispatch order resolves deepest (append → IVF index →
    // residual PQ), and VectorServe.searchBatch dispatches from the
    // store's own sidecars (Route.IvfPq — coarse PQ-LUT cut over probed
    // cells, exact float rescore). At full probe with a corpus-covering
    // overfetch the ladder MUST equal the exact batch join, so it
    // shares the exact-knn oracle; any sidecar mis-dispatch, LUT error,
    // or dropped-candidate bug breaks the hash. 2-RUNG since round 19:
    // the SQ8 rewrite used to run here too, but residual PQ OUTRANKS
    // SQ8 in the dispatch order, so the serve never read the quantized
    // columns — one full store rewrite per bench run bought nothing
    // this row checks. The full rung-by-rung upgrade lifecycle
    // (append → SQ8 → IVF(+SQ8) → residual PQ), including the
    // served-route assertion and serve-equals-exact at EVERY rung, is
    // pinned in VectorServeSpec ("route upgrades with the store's
    // layout") — the route_matrix precedent (r17 verdict item 5).
    "vectorserve_batch_ladder" -> ((s, d) => {
      import s.implicits._
      val e = embeddings(s, d)
      val table = java.nio.file.Files
        .createTempDirectory("graft-serve-q").toString + "/store"
      graft.ops.VersionedStore.append(s, table,
        e.filter($"vec_id" >= 10).select($"vec_id".as("id"), $"embedding"))
      graft.ops.Ivf.indexStore(s, table, "id", "embedding", k = 4): Unit
      graft.ops.Pq.pqStore(s, table, "embedding", m = 8, ncent = 16): Unit
      val q = e.filter($"vec_id" < 10).select($"vec_id".as("query_id"), $"embedding")
      graft.ops.VectorServe.searchBatch(s, table, "id", "embedding",
          q, "query_id", "embedding", k = 4, nProbe = 4, overfetch = 200)
        .select($"query_id", $"rank".cast("long").as("rank"),
          $"id".as("vec_id"), round($"score", 6).as("sim"))
        .orderBy($"query_id", $"rank")
    }),

    // The dispatch matrix's driver row, 2-STAGE since round 18: a
    // fresh store (Route.Exact) and a graph-registered one
    // (Route.Hnsw) — the two ends of the dispatch order — each emit
    // the route VectorServe picks alongside the serve's top-k at
    // covering settings, which must equal exact kNN at both stages. A
    // mis-dispatch changes the route string; a route-specific bug
    // breaks that stage's hits; both break the hash. The middle rungs
    // (SQ8 → IVF → residual PQ) of the upgrade lifecycle are pinned in
    // VectorServeSpec ("route upgrades with the store's layout", with
    // open()-handle servedRoute assertions per rung) — re-running five
    // store rewrites per bench bought no dispatch coverage the spec
    // doesn't already prove (r17 verdict: 3rd-most-expensive row).
    "vectorserve_route_matrix" -> ((s, d) => {
      import s.implicits._
      val e = embeddings(s, d)
      val table = java.nio.file.Files
        .createTempDirectory("graft-routes-q").toString + "/store"
      graft.ops.VersionedStore.append(s, table,
        e.filter($"vec_id" >= 10).select($"vec_id".as("id"), $"embedding"))
      val qv = e.filter($"vec_id" === 0)
        .head().getSeq[Float](1).toArray
      def stage(n: Int, width: Int): DataFrame = {
        val h = graft.ops.VectorServe.open(s, table)
        h.search("id", "embedding", qv, k = 4, nProbe = width, overfetch = 1000)
          .select(lit(n.toLong).as("stage"),
            lit(h.servedRoute.toString).as("route"),
            $"id".as("vec_id"), round($"score", 6).as("sim"))
      }
      val s1 = stage(1, width = 4)
      graft.ops.Hnsw.registerHnswSidecar(s, table, "id", "embedding",
        s"$table/../graph")
      val s2 = stage(2, width = 1 << 20) // width is ef on the graph route
      s1.unionByName(s2)
        .orderBy($"stage", $"sim".desc, $"vec_id")
    }),

    // The full RAG retrieval shape in one oracle-checked query: V2 top-k
    // over embeddings → J3 lookup join to documents (vec_id ≡ doc_id in
    // the test data) → A9 rank-ordered context concatenation
    // (src/server/agents/chatbot.py:76-81).
    "rag_context_assembly" -> ((s, d) => {
      import s.implicits._
      val qv = queryVec(s, d)
      val topk = Similarity.knn(
          embeddings(s, d).filter($"vec_id" =!= 0).select($"vec_id", $"embedding"),
          "embedding", qv, k = 4)
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(lit(1)).orderBy($"score".desc, $"vec_id")).cast("long"))
      topk.join(documents(s, d), $"vec_id" === $"doc_id")
        .agg(
          count(lit(1)).as("n_docs"),
          concat_ws(" | ", transform(
            array_sort(collect_list(struct($"rank", substring($"text", 1, 30).as("snip")))),
            x => x.getField("snip"))).as("context"))
    }),

    // §3.3 evaluation pipeline end-to-end as one query, FULL hash
    // oracle (the rag_e2e_pipeline construction: table embeddings make
    // retrieval relationally recomputable): corpus = docs >= 50, QA =
    // docs < 50 querying with their own table vectors, top-1 cosine
    // retrieval, grounded "generation" = top-1 context, keyword judge,
    // correctness by topic (A2/A3).
    "testbed_eval_report" -> ((s, d) => {
      import s.implicits._
      // correctness = n_correct/n with per-topic n arbitrary across
      // scale factors: an exact integer ratio leaves as Tables.micros
      // (identical IEEE ops both engines), never round(double, 6)
      evalReportByTopic(s, d)
        .select($"topic", $"n",
          graft.Tables.micros($"correctness").as("correctness_micros"))
        .orderBy($"topic")
    }),

    // Contract anchor for the report family (kept alongside the full
    // oracle): every per-topic correctness lies in [0,1]
    // (constant-truth), and the question/topic coverage is
    // INDEPENDENTLY recomputable — one report row per QA question
    // (sum(n) = count of source docs with vectors) over exactly the
    // topics those docs carry.
    "testbed_eval_report_invariants" -> ((s, d) => {
      import s.implicits._
      evalReportByTopic(s, d).agg(
        bool_and($"correctness" >= 0.0 && $"correctness" <= 1.0)
          .as("correctness_in_unit"),
        sum($"n").as("n_questions"),
        count(lit(1)).as("n_topics"))
    }),

    // Cluster-balanced (semantic) sampling — Curation.clusterBalancedSample's
    // composition with its contract checked in-plan: k-means the
    // embedding space, cap every cluster at the same quota. Cluster
    // sizes are engine-defined (k-means), so the output is the
    // constant-truth contract bits: every cluster's sample count equals
    // min(population, quota), at most k clusters exist, and the sample
    // is nonempty. ONE assigned frame feeds both the sample and the
    // population count, so centroid jitter can never split the two
    // sides' view of the clustering.
    "cluster_balanced_sample" -> ((s, d) => {
      import s.implicits._
      val emb = embeddings(s, d).select($"vec_id", $"embedding")
      val model = graft.ops.Ivf.fit(emb, "vec_id", "embedding", k = 8)
      val assigned = graft.ops.Ivf.assign(
          emb.filter($"embedding".isNotNull), "embedding", model)
        .withColumn("cluster_id", $"cluster_id".cast("string"))
      val sample = graft.ops.Sampling.stratifiedQuota(
        assigned, "cluster_id", "vec_id", quotas = Map.empty, defaultQuota = 5)
      val pop = assigned.groupBy($"cluster_id").agg(count(lit(1)).as("__pop"))
      val got = sample.groupBy($"cluster_id").agg(count(lit(1)).as("__n"))
      pop.join(got, Seq("cluster_id"), "left")
        .agg(
          bool_and(coalesce($"__n", lit(0L)) === least($"__pop", lit(5L)))
            .as("quota_exact"),
          (count(lit(1)) <= 8).as("at_most_k_clusters"),
          (sum(coalesce($"__n", lit(0L))) >= 1).as("found_rows"))
    }),

    // Johnson-Lindenstrauss random projection to 8 dims via md5-derived
    // Rademacher planes (the SRP construction keeping VALUES instead of
    // signs; Achlioptas 2003) — the dimensionality-reduction primitive
    // for cheap bucketing/clustering at high dim, with the projection
    // matrix derived from md5 (zero model state, any engine
    // regenerates it). One narrow map; fully hash-exact.
    "embedding_jl_project" -> ((s, d) => {
      import s.implicits._
      graft.ops.Sketch.jlProject(
          embeddings(s, d).filter($"embedding".isNotNull), "embedding",
          dim = 64, outDim = 8)
        .select($"vec_id", posexplode($"jl"))
        .select($"vec_id", $"pos".cast("long").as("j"),
          round($"col", 6).as("c"))
        .orderBy($"vec_id", $"j")
    }),

    // Margin-based bitext mining (LASER/CCMatrix): best cross-side
    // pair per a-vector by cosine normalized against both sides'
    // average top-k neighborhoods — hubs score no pair, isolated
    // translation pairs stand out. Label halves stand in for the two
    // languages; every score rounds before ranking so the oracle
    // replays candidates, averages, and the argmax exactly.
    "bitext_mining_pairs" -> ((s, d) => {
      import s.implicits._
      val e = embeddings(s, d).filter($"embedding".isNotNull)
      graft.ops.Contrastive.mineBitext(
          e.filter($"label" < 4).select($"vec_id", $"embedding"),
          e.filter($"label" >= 4).select($"vec_id", $"embedding"),
          "vec_id", "vec_id", "embedding", k = 4, minMargin = 1.0)
        .orderBy($"id_a")
    }),

    // The SAME miner through the IVF-pruned candidate generator — the
    // corpus-scale form (cell equi-joins in both directions, never the
    // |A|×|B| cross join). Run at FULL probe so the result is pinned
    // BIT-identical to the exact miner: same oracle, same sequential
    // folds, same tie orders (the ann_join_full_probe contract).
    // Partial-probe recall is measured in SCALE.md, never shipped
    // silently.
    "bitext_mining_ivf" -> ((s, d) => {
      import s.implicits._
      val e = embeddings(s, d).filter($"embedding".isNotNull)
      val sideA = e.filter($"label" < 4).select($"vec_id", $"embedding")
      val sideB = e.filter($"label" >= 4).select($"vec_id", $"embedding")
      val model = graft.ops.Ivf.fit(sideB, "vec_id", "embedding", k = 8)
      graft.ops.Contrastive.mineBitextIvf(sideA, sideB,
          "vec_id", "vec_id", "embedding", model, nProbe = model.k,
          k = 4, minMargin = 1.0)
        .orderBy($"id_a")
    }),

    // Embedding mean-pooling: many vectors → one unit-norm prototype
    // per group (chunk→doc embeddings, label centroids) through the
    // single VectorMean aggregate — O(1) aggregate expressions at any
    // dim. Pooled per embeddings.label, exploded to (label, j, c) rows.
    "embedding_mean_pool" -> ((s, d) => {
      import s.implicits._
      graft.ops.Pool.meanPool(
          embeddings(s, d).filter($"embedding".isNotNull),
          "label", "embedding", dim = 64)
        .select($"label", $"n_vecs", posexplode($"pooled"))
        .select($"label", $"n_vecs", $"pos".cast("long").as("j"),
          round($"col", 6).as("c"))
        .orderBy($"label", $"j")
    }),

    // V1 batch embedding over documents through the pluggable embedder
    // expression. The embedding VALUES are engine-defined, so the query
    // emits exactly the declared invariants — dimension and unit L2 norm
    // (zero for token-less docs) — which ARE oracle-checkable.
    "embed_documents" -> ((s, d) => {
      import s.implicits._
      documents(s, d)
        .withColumn("embedding", EmbedText.embedText($"text", HashEmbedder(64)))
        .select($"doc_id", size($"embedding").as("dim"),
          round(sqrt(aggregate($"embedding", lit(0.0d), (acc, x) => acc + x * x)), 4).as("l2norm"))
        .orderBy($"doc_id")
    }),

    // S14's batch contract made observable: embedBatched over a single
    // deterministic partition (repartition(1) + sort) emits each row's
    // 0-based batch index and its batch's row count — ceil(N/64)
    // batches, every batch full except the last, one embedBatch (= one
    // RateLimitedEmbedder throttle token) per batch. The oracle replays
    // the boundary arithmetic from row_number; the embedding invariants
    // ride along as in embed_documents.
    "ingest_batched_embed" -> ((s, d) => {
      import s.implicits._
      val docs = documents(s, d).select($"doc_id", $"text")
        .repartition(1).sortWithinPartitions($"doc_id")
      graft.ops.Ingest.embedBatched(docs, "text", HashEmbedder(64),
          batchSize = 64, withBatchMeta = true)
        .select($"doc_id", $"batch_idx",
          $"batch_size".cast("long").as("batch_size"),
          size($"embedding").as("dim"),
          round(sqrt(aggregate($"embedding", lit(0.0d), (acc, x) => acc + x * x)), 4).as("l2norm"))
        .orderBy($"doc_id")
    }),

    // IVF-bucketed similarity JOIN at full probe: the scale path for a
    // query side too large to broadcast, pinned to the exact batch join
    // by the full-probe contract — shares similarity_join_topk's
    // oracle rank for rank (partial-probe recall is measured in
    // SCALE.md, never silently shipped).
    "ann_join_full_probe" -> ((s, d) => {
      import s.implicits._
      val e = embeddings(s, d)
      val q = e.filter($"vec_id" < 10).select($"vec_id".as("query_id"), $"embedding")
      val c = e.filter($"vec_id" >= 10).select($"vec_id", $"embedding")
      val model = graft.ops.Ivf.fit(c, "vec_id", "embedding", k = 8)
      Similarity.ivfJoinTopK(q, c, "query_id", "embedding", "vec_id", "embedding",
          model, nProbe = model.k, k = 4)
        .select($"query_id", $"rank".cast("long").as("rank"), $"vec_id",
          round($"score", 6).as("sim"))
        .orderBy($"query_id", $"rank")
    }),

    // Corpus-scale hard-negative mining: EVERY embedding row is an
    // anchor (the full training-set build — no broadcastable anchor
    // batch exists), negatives come from the IVF cell equi-join with
    // the label-mismatch predicate evaluated before the distance
    // kernel. Full probe pins it to the exact per-anchor wrong-label
    // top-k, which the oracle recomputes from the raw table.
    "hard_negatives_ivf" -> ((s, d) => {
      import s.implicits._
      val e = embeddings(s, d).filter($"embedding".isNotNull)
      val anchors = e.select($"vec_id".as("qid"), $"embedding".as("qemb"),
        $"label".as("qlabel"))
      val model = graft.ops.Ivf.fit(e, "vec_id", "embedding", k = 8)
      graft.ops.Contrastive.hardNegativesIvf(anchors, e,
          "qid", "qemb", "qlabel", "vec_id", "embedding", "label",
          model, nProbe = model.k, k = 3)
        .select($"qid", $"rank".cast("long").as("rank"), $"vec_id",
          round($"score", 6).as("sim"))
        .orderBy($"qid", $"rank")
    }),

    // The SAME corpus-scale mining run on the STREAMING append seam:
    // three anchor chunks stand in for ingest micro-batches, each
    // driven through ContrastiveStream.mineBatch (the foreachBatch
    // body — the unchanged IVF cell join per batch, appending pairs).
    // Per-anchor results are independent of batching (stateless
    // stream-static join), so the accumulated artifact must EQUAL the
    // one-shot batch run — it SHARES hard_negatives_ivf's exact-replay
    // oracle, and the output reads the ACTUAL parquet the seam wrote.
    "hard_negatives_stream" -> ((s, d) => {
      import s.implicits._
      val root = java.lang.System.getProperty("java.io.tmpdir") +
        s"/graft-cstream-${d.replaceAll("[^A-Za-z0-9]", "_")}-" +
        s"${java.lang.ProcessHandle.current().pid()}/pairs"
      graft.Fs.delete(s, root)
      val e = embeddings(s, d).filter($"embedding".isNotNull).localCheckpoint()
      val anchors = e.select($"vec_id".as("qid"), $"embedding".as("qemb"),
        $"label".as("qlabel"))
      val model = graft.ops.Ivf.fit(e, "vec_id", "embedding", k = 8)
      (0L until 3L).foreach { b =>
        graft.streaming.ContrastiveStream.mineBatch(
          anchors.filter($"qid" % 3 === b), e,
          "qid", "qemb", "qlabel", "vec_id", "embedding", "label",
          model, nProbe = model.k, k = 3, metric = "COSINE", outDir = root,
          batchId = b)
      }
      s.read.parquet(root)
        .select($"qid", $"rank".cast("long").as("rank"), $"vec_id",
          round($"score", 6).as("sim"))
        .orderBy($"qid", $"rank")
    }),

    // Contrastive pair mining (DPR-style): per anchor, the single
    // nearest SAME-label positive × the 3 most-similar WRONG-label
    // hard negatives — the training triples an embedding-model trainer
    // consumes. Ranks carry the result; the oracle replays both
    // label-filtered rankings and the per-anchor join.
    "contrastive_triples" -> ((s, d) => {
      import s.implicits._
      val e = embeddings(s, d)
      val anchors = e.filter($"vec_id" < 8)
        .select($"vec_id".as("qid"), $"embedding".as("qemb"), $"label".as("qlabel"))
      val corpus = e.filter($"vec_id" >= 8)
      graft.ops.Contrastive.triples(anchors, corpus,
          "qid", "qemb", "qlabel", "vec_id", "embedding", "label", negK = 3)
        .select($"qid", $"pos_id", round($"pos_score", 6).as("pos_sim"),
          $"neg_rank".cast("long").as("neg_rank"), $"neg_id",
          round($"neg_score", 6).as("neg_sim"))
        .orderBy($"qid", $"neg_rank")
    }),

    // Retrieval ranking-quality panel: exact cosine top-10 for 8 query
    // vectors, judged against label-match qrels (same `label` = relevant
    // — the planted cluster structure of the embeddings table). The
    // oracle recomputes the run with list_cosine_similarity, the qrels
    // relationally, and every metric (recall/precision@10, RR, nDCG@10,
    // AP@10) in the same closed forms. Ranks — not scores — carry all
    // the information, so the 6-dp rounding only touches the metric
    // outputs themselves.
    // Score calibration: the same run/qrels as the ranking panel, the
    // run's relevance scores binned into deciles with per-bin empirical
    // precision — does a higher similarity actually mean relevant?
    "retrieval_score_calibration" -> ((s, d) => {
      import s.implicits._
      val e = embeddings(s, d)
      val q = e.filter($"vec_id" < 8)
        .select($"vec_id".as("qid"), $"embedding".as("qemb"), $"label".as("qlabel"))
      val c = e.filter($"vec_id" >= 8)
      val run = Similarity.similarityJoin(
        q, c, "qid", "qemb", "vec_id", "embedding", k = 10)
      val qrels = q.select($"qid", $"qlabel")
        .join(c.select($"vec_id", $"label"), $"qlabel" === $"label")
        .select($"qid", $"vec_id")
      graft.ops.Testbed.scoreCalibration(run, qrels, "qid", "vec_id", "score")
        .orderBy($"bin")
    }),

    "retrieval_eval_metrics" -> ((s, d) => {
      import s.implicits._
      val e = embeddings(s, d)
      val q = e.filter($"vec_id" < 8)
        .select($"vec_id".as("qid"), $"embedding".as("qemb"), $"label".as("qlabel"))
      val c = e.filter($"vec_id" >= 8)
      val run = Similarity.similarityJoin(
        q, c, "qid", "qemb", "vec_id", "embedding", k = 10)
      val qrels = q.select($"qid", $"qlabel")
        .join(c.select($"vec_id", $"label"), $"qlabel" === $"label")
        .select($"qid", $"vec_id")
      graft.ops.Testbed.rankingMetrics(run, qrels, "qid", "vec_id", "rank", k = 10)
        .select($"qid", $"n_rel", $"hits",
          round($"precision_k", 6).as("precision_k"),
          round($"recall_k", 6).as("recall_k"),
          round($"rr", 6).as("rr"),
          round($"ndcg", 6).as("ndcg"),
          round($"ap", 6).as("ap"))
        .orderBy($"qid")
    }),
  )

  /** §3.3 evaluation pipeline end-to-end, FULLY oracle-checkable (the
    * rag_e2e_pipeline construction): the corpus is docs ≥ 50 with their
    * TABLE embeddings, the QA set is docs < 50 querying with their own
    * table vectors (question = doc's first 5 tokens, reference = the
    * doc, topic = lang) — so retrieval (top-1 cosine), the grounded
    * "generation" (= top-1 context), the keyword judge, and the A2/A3
    * aggregates are all relationally recomputable by the SQL oracle.
    * Shared by `testbed_eval_report` and its invariants sibling.
    */
  private def evalReportByTopic(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.ops.{Similarity, Testbed}
    val joined = documents(s, d)
      .join(embeddings(s, d), $"doc_id" === $"vec_id")
    val store = joined.filter($"doc_id" >= 50)
      .select($"doc_id", $"text", $"embedding")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // qa (with its qid) feeds both the retrieval batch and the report
    // join — persist so the documents scan runs once, not twice
    val qa = joined.filter($"doc_id" < 50)
      .select(
        $"doc_id".as("qid"),
        concat_ws(" ", slice(split($"text", "\\s+"), 1, 5)).as("question"),
        $"text".as("reference_answer"),
        $"lang".as("topic"),
        $"embedding")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // distributed retrieval for the whole question batch at once
    // (similarity join, k=1 already enforces rank 1), then grounded
    // "generation" = top-1 context.
    val answered = Similarity.similarityJoin(
        qa, store, "qid", "embedding", "doc_id", "embedding", k = 1)
      .join(store.select($"doc_id", $"text".as("answer")), "doc_id")
      .select($"qid", $"answer")
    val report = qa
      .join(answered, "qid")
      .withColumn("correct",
        Testbed.keywordJudgeCol($"answer", $"reference_answer"))
      .select($"question", $"topic", $"answer", $"correct")
    // the by-topic report is a handful of rows: materialize it eagerly
    // (localCheckpoint) so the caches can be released before returning —
    // otherwise store+qa stay pinned for the rest of the query run.
    val result = Testbed.byTopic(report).localCheckpoint()
    store.unpersist()
    qa.unpersist()
    result
  }

  private val bitextMiningOracle: String =
    """WITH ea AS (
      |  SELECT vec_id AS id_a, v,
      |    sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, 65),
      |      i -> v[i] * v[i])), (x, y) -> x + y)) AS na
      |  FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      |        WHERE embedding IS NOT NULL AND label < 4)),
      |eb AS (
      |  SELECT vec_id AS id_b, v,
      |    sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, 65),
      |      i -> v[i] * v[i])), (x, y) -> x + y)) AS nb
      |  FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      |        WHERE embedding IS NOT NULL AND label >= 4)),
      |sc AS MATERIALIZED (
      |  SELECT id_a, id_b,
      |    list_reduce(list_prepend(0.0, list_transform(range(1, 65),
      |      i -> ea.v[i] * eb.v[i])), (x, y) -> x + y) / (ea.na * eb.nb)
      |      AS cos
      |  FROM ea, eb),
      |ta AS MATERIALIZED (
      |  SELECT * FROM (SELECT *, row_number() OVER (
      |    PARTITION BY id_a ORDER BY cos DESC, id_b) AS ra FROM sc)
      |  WHERE ra <= 4),
      |tb AS MATERIALIZED (
      |  SELECT * FROM (SELECT *, row_number() OVER (
      |    PARTITION BY id_b ORDER BY cos DESC, id_a) AS rb FROM sc)
      |  WHERE rb <= 4),
      |aa AS (SELECT id_a, list_reduce(list_prepend(0.0,
      |         list(cos ORDER BY ra)), (x, y) -> x + y) / count(*) AS avga
      |       FROM ta GROUP BY id_a),
      |ab AS (SELECT id_b, list_reduce(list_prepend(0.0,
      |         list(cos ORDER BY rb)), (x, y) -> x + y) / count(*) AS avgb
      |       FROM tb GROUP BY id_b),
      |cand AS (
      |  SELECT ta.id_a, ta.id_b, ta.cos,
      |    ta.cos / ((aa.avga + ab.avgb) / 2) AS margin
      |  FROM ta JOIN aa USING (id_a) JOIN ab USING (id_b)),
      |best AS (SELECT *, row_number() OVER (
      |  PARTITION BY id_a ORDER BY margin DESC, id_b) AS rbest FROM cand)
      |SELECT id_a, id_b, round(cos, 6) AS cos, round(margin, 6) AS margin
      |FROM best WHERE rbest = 1 AND margin >= 1.0 ORDER BY id_a""".stripMargin

  val oracles: Map[String, String] = Map(
    // every statistic recomputed from the raw embedding lists
    "embedding_health_report" ->
      """WITH n AS (
        |  SELECT vec_id, embedding,
        |    CASE WHEN embedding IS NULL THEN NULL
        |         ELSE sqrt(list_sum(list_transform(embedding::DOUBLE[],
        |           x -> x * x))) END AS nr
        |  FROM embeddings)
        |SELECT count(*)::BIGINT AS n_vectors,
        |  sum(CASE WHEN embedding IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null,
        |  sum(CASE WHEN nr = 0.0 THEN 1 ELSE 0 END)::BIGINT AS n_zero_norm,
        |  min(len(embedding))::BIGINT AS dim_min,
        |  max(len(embedding))::BIGINT AS dim_max,
        |  round(min(nr), 6) AS min_norm,
        |  round(max(nr), 6) AS max_norm,
        |  round(avg(nr), 6) AS avg_norm
        |FROM n""".stripMargin,
    // the chunk top-40 cut, the per-parent best-score rollup, and the
    // rounded-rank parent cut replayed
    "parent_doc_retrieval" ->
      """SELECT parent_id, n_hit_chunks, best_score FROM (
        |  SELECT parent_id, count(*)::BIGINT AS n_hit_chunks,
        |    round(max(s), 6) AS best_score FROM (
        |    SELECT vec_id // 10 AS parent_id, s FROM (
        |      SELECT vec_id, list_cosine_similarity(embedding::DOUBLE[],
        |        (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0)) AS s
        |      FROM embeddings WHERE vec_id <> 0
        |      ORDER BY s DESC, vec_id LIMIT 40))
        |  GROUP BY parent_id)
        |ORDER BY best_score DESC, parent_id LIMIT 5""".stripMargin,
    // exact filtered top-k from the raw tables: the same vec_id ≡
    // doc_id metadata join, predicate applied BEFORE the top-k cut
    "ann_ivf_filtered_probe" ->
      """SELECT vec_id, round(s, 6) AS sim FROM (
        |  SELECT e.vec_id, list_cosine_similarity(e.embedding::DOUBLE[],
        |    (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0)) AS s
        |  FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
        |  WHERE e.vec_id <> 0 AND d.lang = 'en'
        |  ORDER BY s DESC, e.vec_id LIMIT 10)
        |ORDER BY sim DESC, vec_id""".stripMargin,
    // the full §3.3 report replay: top-1 cosine retrieval from the
    // disjoint corpus, answer = retrieved text, first-keyword judge,
    // by-topic aggregation — every leg from the same parquet tables
    "testbed_eval_report" ->
      """WITH corpus AS (
        |  SELECT d.doc_id, d.text, e.embedding
        |  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
        |  WHERE d.doc_id >= 50),
        |qa AS (
        |  SELECT d.doc_id AS qid, d.text AS reference_answer,
        |    d.lang AS topic, e.embedding AS qemb
        |  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
        |  WHERE d.doc_id < 50),
        |top1 AS (
        |  SELECT qid, doc_id FROM (
        |    SELECT q.qid, c.doc_id, row_number() OVER (PARTITION BY q.qid
        |      ORDER BY list_cosine_similarity(c.embedding::DOUBLE[],
        |                                      q.qemb::DOUBLE[]) DESC,
        |      c.doc_id) AS rank
        |    FROM qa q, corpus c)
        |  WHERE rank = 1),
        |judged AS (
        |  SELECT q.topic,
        |    coalesce(
        |      len(regexp_split_to_array(q.reference_answer, '\s+')[1]) > 0 AND
        |      contains(lower(c.text),
        |        lower(regexp_split_to_array(q.reference_answer, '\s+')[1])),
        |      false) AS correct
        |  FROM qa q JOIN top1 t USING (qid) JOIN corpus c USING (doc_id))
        |SELECT topic, count(*)::BIGINT AS n,
        |  CAST(floor(avg(correct::INT) * 1000000 + 0.5) AS BIGINT)
        |    AS correctness_micros
        |FROM judged GROUP BY topic ORDER BY topic""".stripMargin,
    // coverage recomputed independently from the QA source slice (docs
    // with vectors); the [0,1] bound is constant-truth
    "testbed_eval_report_invariants" ->
      """SELECT true AS correctness_in_unit,
        |  (SELECT count(*) FROM documents d JOIN embeddings e
        |     ON e.vec_id = d.doc_id WHERE d.doc_id < 50) AS n_questions,
        |  (SELECT count(DISTINCT d.lang) FROM documents d JOIN embeddings e
        |     ON e.vec_id = d.doc_id WHERE d.doc_id < 50) AS n_topics""".stripMargin,
    // the invariants ARE the oracle (cluster sizes stay engine-defined)
    "cluster_balanced_sample" ->
      """SELECT true AS quota_exact, true AS at_most_k_clusters,
        |  true AS found_rows""".stripMargin,
    // the projection replayed: md5-sign planes (srp:0:<j>:<i>:42, the
    // rademacherPlanes spelling), per-(vec, j) sign-weighted sum over
    // the 64 components, scaled 1/sqrt(8)
    // every reduction is the engine's sequential fold replayed with
    // list_reduce — cosines, neighborhood averages, and margins are
    // BIT-identical, so no rounding is needed before any ranking
    "bitext_mining_pairs" -> bitextMiningOracle,
    // full probe is bit-identical to the exact miner by construction —
    // the IVF query shares the SAME replayed-fold oracle
    "bitext_mining_ivf" -> bitextMiningOracle,
    // mean per (label, element) = sum/count (VectorMean's exact
    // semantics), then unit-norm from the pooled vector; the all-zero
    // guard mirrors Pool.meanPool
    "embedding_mean_pool" ->
      """WITH e AS (
        |  SELECT label, embedding::DOUBLE[] AS v FROM embeddings
        |  WHERE embedding IS NOT NULL),
        |m AS (
        |  SELECT label, i.j, avg(v[i.j::INT]) AS mv
        |  FROM e, range(1, 65) i(j) GROUP BY label, i.j),
        |n AS (SELECT label, sqrt(sum(mv * mv)) AS nrm FROM m GROUP BY label),
        |c AS (SELECT label, count(*) AS n_vecs FROM e GROUP BY label)
        |SELECT m.label, c.n_vecs::BIGINT AS n_vecs, (m.j - 1)::BIGINT AS j,
        |  CASE WHEN n.nrm > 0 THEN round(m.mv / n.nrm, 6)
        |       ELSE round(m.mv, 6) END AS c
        |FROM m JOIN n USING (label) JOIN c USING (label)
        |ORDER BY label, j""".stripMargin,
    "embedding_jl_project" ->
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |  WHERE embedding IS NOT NULL),
        |planes AS (
        |  SELECT j, i,
        |    CASE WHEN ('0x' || substr(md5('srp:0:'||j||':'||(i-1)||':42'),1,1))::INT
        |              % 2 = 0 THEN 1.0 ELSE -1.0 END AS w
        |  FROM range(0,8) r1(j), range(1,65) r2(i))
        |SELECT e.vec_id, p.j::BIGINT AS j,
        |  round(SUM(e.v[p.i::INT] * p.w) / sqrt(8.0), 6) AS c
        |FROM e, planes p GROUP BY e.vec_id, p.j
        |ORDER BY vec_id, j""".stripMargin,
    "embed_documents" ->
      """SELECT doc_id, 64::INT AS dim,
        |  CASE WHEN len(trim(text)) = 0 THEN 0.0 ELSE 1.0 END AS l2norm
        |FROM documents ORDER BY doc_id""".stripMargin,
    "ingest_batched_embed" ->
      """WITH o AS (
        |  SELECT doc_id, text,
        |    (row_number() OVER (ORDER BY doc_id) - 1) // 64 AS batch_idx
        |  FROM documents)
        |SELECT doc_id, batch_idx,
        |  (COUNT(*) OVER (PARTITION BY batch_idx))::BIGINT AS batch_size,
        |  64::INT AS dim,
        |  CASE WHEN len(trim(text)) = 0 THEN 0.0 ELSE 1.0 END AS l2norm
        |FROM o ORDER BY doc_id""".stripMargin,
    "knn_cosine_topk" -> knnOracle("list_cosine_similarity", desc = true),
    "knn_quantized_rescore" -> knnOracle("list_cosine_similarity", desc = true),
    "ann_ivf_quantized_probe" -> knnOracle("list_cosine_similarity", desc = true),
    // the PQ tiers pin to the same exact-knn oracle: corpus-covering
    // coarse cuts make approximation a no-op by configuration
    "knn_pq_rescore" -> knnOracle("list_cosine_similarity", desc = true),
    "ann_ivf_pq_probe" -> knnOracle("list_cosine_similarity", desc = true),
    "ann_ivf_full_probe" -> knnOracle("list_cosine_similarity", desc = true),
    "ann_hnsw_full_ef" -> knnOracle("list_cosine_similarity", desc = true),
    "ann_hnsw_ivf_probe" -> knnOracle("list_cosine_similarity", desc = true),
    "ann_hnsw_sidecar_serve" -> knnOracle("list_cosine_similarity", desc = true),
    "vectorserve_hnsw_route" -> knnOracle("list_cosine_similarity", desc = true),
    // the dispatch matrix (2-stage since r18 — middle rungs live in
    // VectorServeSpec): stage/route pairs are the engine's declared
    // dispatch table ends (fresh store, graph-registered store), and
    // both stages' hits are the SAME exact top-4 — the
    // covering-settings ladder invariant
    "vectorserve_route_matrix" ->
      """WITH topk AS (
        |  SELECT vec_id, round(s, 6) AS sim FROM (
        |    SELECT e.vec_id, list_cosine_similarity(e.embedding::DOUBLE[],
        |      (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0)) AS s
        |    FROM embeddings e WHERE e.vec_id >= 10
        |    ORDER BY s DESC, e.vec_id LIMIT 4)),
        |st AS (SELECT * FROM (VALUES
        |  (1::BIGINT, 'Exact'), (2::BIGINT, 'Hnsw')) t(stage, route))
        |SELECT stage, route, vec_id, sim FROM st, topk
        |ORDER BY stage, sim DESC, vec_id""".stripMargin,
    "stream_hnsw_live_serve" -> knnOracle("list_cosine_similarity", desc = true),
    // the tuner's theorem facts are engine-independent literals; the
    // one data-shaped value (the ground-truth size) is replayed as a
    // count — 10 true neighbors exist for every sample query at every
    // scale factor, so |truth| = 10 · |queries|
    "ann_hnsw_tune_ef" ->
      """SELECT 4::BIGINT AS n_rungs,
        |  ((SELECT count(*) FROM embeddings WHERE vec_id < 20) * 10)::BIGINT
        |    AS total_truth,
        |  true AS cap_recall_one, true AS hits_bounded_all,
        |  true AS chosen_meets_target, true AS chosen_is_first_meeting,
        |  true AS recheck_hits_equal_curve""".stripMargin,
    "mmr_lambda1_equals_knn" -> knnOracle("list_cosine_similarity", desc = true),
    // exact MMR oracle: the greedy selection IS the recursion — rnk n+1
    // is the LATERAL argmax of λ·s − (1−λ)·max cos(candidate, chosen)
    // over the not-yet-chosen candidates, ties to the better fetch rank
    // (the engine's insertion-order maxBy); `chosen` accumulates as a
    // list in the recursive state
    "mmr_rerank" ->
      """WITH RECURSIVE
        |q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
        |cand0 AS (
        |  SELECT e.vec_id, e.embedding::DOUBLE[] AS v,
        |         list_cosine_similarity(e.embedding::DOUBLE[], q.qv) AS s
        |  FROM embeddings e, q WHERE e.vec_id <> 0
        |  ORDER BY s DESC, e.vec_id LIMIT 20
        |),
        |cand AS (
        |  SELECT row_number() OVER (ORDER BY s DESC, vec_id) AS fr, vec_id, v, s
        |  FROM cand0
        |),
        |sel AS (
        |  (SELECT 1 AS rnk, fr, vec_id, s, [fr] AS chosen
        |   FROM cand ORDER BY 0.5 * s DESC, fr LIMIT 1)
        |  UNION ALL
        |  SELECT sel.rnk + 1, nxt.fr, nxt.vec_id, nxt.s, list_append(sel.chosen, nxt.fr)
        |  FROM sel, LATERAL (
        |    SELECT c2.fr, c2.vec_id, c2.s
        |    FROM cand c2
        |    WHERE NOT list_contains(sel.chosen, c2.fr)
        |    ORDER BY 0.5 * c2.s - 0.5 * (
        |        SELECT max(list_cosine_similarity(c2.v, c3.v))
        |        FROM cand c3 WHERE list_contains(sel.chosen, c3.fr)) DESC,
        |      c2.fr
        |    LIMIT 1
        |  ) nxt
        |  WHERE sel.rnk < 4
        |)
        |SELECT vec_id, CAST(rnk AS BIGINT) AS mmr_rank, round(s, 6) AS sim
        |FROM sel ORDER BY mmr_rank""".stripMargin,
    "knn_euclidean_topk" -> knnOracle("list_distance", desc = false),
    "knn_dot_topk" -> knnOracle("list_inner_product", desc = true),
    "rag_context_assembly" ->
      """WITH topk AS (
        |  SELECT e.vec_id,
        |    row_number() OVER (ORDER BY list_cosine_similarity(e.embedding::DOUBLE[],
        |      (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0)) DESC, e.vec_id) AS rank
        |  FROM embeddings e WHERE e.vec_id <> 0
        |  ORDER BY rank LIMIT 4)
        |SELECT COUNT(*) AS n_docs,
        |  string_agg(substr(text, 1, 30), ' | ' ORDER BY rank) AS context
        |FROM topk JOIN documents ON vec_id = doc_id""".stripMargin,
    "score_threshold_search" ->
      """SELECT vec_id, round(s, 6) AS sim FROM (
        |  SELECT e.vec_id, list_cosine_similarity(e.embedding::DOUBLE[],
        |    (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0)) AS s
        |  FROM embeddings e WHERE e.vec_id <> 0)
        |WHERE s >= 0.15 ORDER BY vec_id""".stripMargin,
    // full probe ≡ exhaustive batch join, so the oracle is identical
    "vectorserve_batch_ladder" ->
      """SELECT query_id, rank, vec_id, round(s, 6) AS sim FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
        |    list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]) AS s,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC,
        |               c.vec_id) AS rank
        |  FROM embeddings q, embeddings c WHERE q.vec_id < 10 AND c.vec_id >= 10)
        |WHERE rank <= 4 ORDER BY query_id, rank""".stripMargin,
    "ann_ivf_batch_probe" ->
      """SELECT query_id, rank, vec_id, round(s, 6) AS sim FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
        |    list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]) AS s,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC,
        |               c.vec_id) AS rank
        |  FROM embeddings q, embeddings c WHERE q.vec_id < 10 AND c.vec_id >= 10)
        |WHERE rank <= 4 ORDER BY query_id, rank""".stripMargin,
    // full-probe IVF join ≡ the exact batch join — same oracle
    "ann_join_full_probe" ->
      """SELECT query_id, rank, vec_id, round(s, 6) AS sim FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
        |    list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]) AS s,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC,
        |               c.vec_id) AS rank
        |  FROM embeddings q, embeddings c WHERE q.vec_id < 10 AND c.vec_id >= 10)
        |WHERE rank <= 4 ORDER BY query_id, rank""".stripMargin,
    "similarity_join_topk" ->
      """SELECT query_id, rank, vec_id, round(s, 6) AS sim FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
        |    list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]) AS s,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC,
        |               c.vec_id) AS rank
        |  FROM embeddings q, embeddings c WHERE q.vec_id < 10 AND c.vec_id >= 10)
        |WHERE rank <= 4 ORDER BY query_id, rank""".stripMargin,
    // full probe ≡ exact: per-anchor wrong-label top-3 recomputed from
    // the raw table (every row an anchor; null labels drop both sides)
    "hard_negatives_ivf" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
        |           FROM embeddings WHERE embedding IS NOT NULL),
        |r AS (SELECT a.vec_id AS qid, b.vec_id,
        |        list_cosine_similarity(b.v, a.v) AS s,
        |        row_number() OVER (PARTITION BY a.vec_id
        |          ORDER BY list_cosine_similarity(b.v, a.v) DESC, b.vec_id)
        |          AS rank
        |      FROM e a JOIN e b ON b.label <> a.label)
        |SELECT qid, rank::BIGINT AS rank, vec_id, round(s, 6) AS sim
        |FROM r WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,
    // the stream seam shares the batch miner's oracle: batching cannot
    // change any anchor's top-k (stateless stream-static join)
    "hard_negatives_stream" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
        |           FROM embeddings WHERE embedding IS NOT NULL),
        |r AS (SELECT a.vec_id AS qid, b.vec_id,
        |        list_cosine_similarity(b.v, a.v) AS s,
        |        row_number() OVER (PARTITION BY a.vec_id
        |          ORDER BY list_cosine_similarity(b.v, a.v) DESC, b.vec_id)
        |          AS rank
        |      FROM e a JOIN e b ON b.label <> a.label)
        |SELECT qid, rank::BIGINT AS rank, vec_id, round(s, 6) AS sim
        |FROM r WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,
    "contrastive_triples" ->
      """WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv, label AS ql
        |           FROM embeddings WHERE vec_id < 8),
        |c AS (SELECT vec_id, embedding::DOUBLE[] AS v, label
        |      FROM embeddings WHERE vec_id >= 8),
        |pos AS (SELECT qid, vec_id AS pos_id, s AS ps FROM (
        |  SELECT q.qid, c.vec_id, list_cosine_similarity(c.v, q.qv) AS s,
        |    row_number() OVER (PARTITION BY q.qid
        |      ORDER BY list_cosine_similarity(c.v, q.qv) DESC, c.vec_id) AS r
        |  FROM q JOIN c ON c.label = q.ql) WHERE r = 1),
        |neg AS (SELECT qid, r AS neg_rank, vec_id AS neg_id, s AS ns FROM (
        |  SELECT q.qid, c.vec_id, list_cosine_similarity(c.v, q.qv) AS s,
        |    row_number() OVER (PARTITION BY q.qid
        |      ORDER BY list_cosine_similarity(c.v, q.qv) DESC, c.vec_id) AS r
        |  FROM q JOIN c ON c.label <> q.ql) WHERE r <= 3)
        |SELECT p.qid, p.pos_id, round(p.ps, 6) AS pos_sim,
        |  n.neg_rank, n.neg_id, round(n.ns, 6) AS neg_sim
        |FROM pos p JOIN neg n USING (qid) ORDER BY qid, neg_rank""".stripMargin,
    // run + qrels recomputed relationally; metrics in the same closed
    // forms the engine folds (DCG = Σ 1/log2(r+1) over hits, IDCG over
    // the ideal prefix, AP normalized by min(n_rel, k)). Sum order
    // differs across engines only in the last ulp; 6-dp rounding
    // absorbs it (the established knn-score convention).
    // the run's rounded relevance floors into deciles; per-bin counts
    // against the same label-match qrels
    "retrieval_score_calibration" ->
      """WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv, label AS qlabel
        |           FROM embeddings WHERE vec_id < 8),
        |c AS (SELECT vec_id, embedding::DOUBLE[] AS v, label
        |      FROM embeddings WHERE vec_id >= 8),
        |run AS (SELECT qid, vec_id, s FROM (
        |  SELECT q.qid, c.vec_id, list_cosine_similarity(c.v, q.qv) AS s,
        |    row_number() OVER (PARTITION BY q.qid
        |      ORDER BY list_cosine_similarity(c.v, q.qv) DESC, c.vec_id) AS r
        |  FROM q, c) WHERE r <= 10),
        |rel AS (SELECT q.qid, c.vec_id FROM q JOIN c ON q.qlabel = c.label),
        |b AS (SELECT least(floor(round((s + 1.0) / 2.0, 6) * 10), 9)::BIGINT AS bin,
        |        CASE WHEN rel.vec_id IS NOT NULL THEN 1 ELSE 0 END AS hit
        |      FROM run LEFT JOIN rel
        |        ON rel.qid = run.qid AND rel.vec_id = run.vec_id)
        |SELECT bin, count(*)::BIGINT AS n_scored,
        |  sum(hit)::BIGINT AS n_relevant,
        |  CAST((2*1000000*sum(hit) + count(*)) // (2*count(*)) AS BIGINT)
        |    AS precision_micros
        |FROM b GROUP BY bin ORDER BY bin""".stripMargin,
    "retrieval_eval_metrics" ->
      """WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv, label AS qlabel
        |           FROM embeddings WHERE vec_id < 8),
        |c AS (SELECT vec_id, embedding::DOUBLE[] AS v, label
        |      FROM embeddings WHERE vec_id >= 8),
        |run AS (SELECT qid, vec_id, r FROM (
        |  SELECT q.qid, c.vec_id,
        |    row_number() OVER (PARTITION BY q.qid
        |      ORDER BY list_cosine_similarity(c.v, q.qv) DESC, c.vec_id) AS r
        |  FROM q, c) WHERE r <= 10),
        |rel AS (SELECT q.qid, c.vec_id FROM q JOIN c ON q.qlabel = c.label),
        |nrel AS (SELECT qid, count(*) AS n_rel FROM rel GROUP BY qid),
        |hits AS (SELECT run.qid, run.r,
        |    row_number() OVER (PARTITION BY run.qid ORDER BY run.r) AS h
        |  FROM run JOIN rel ON run.qid = rel.qid AND run.vec_id = rel.vec_id),
        |hagg AS (SELECT qid, count(*) AS hits, min(r) AS fr,
        |    sum(1.0 / log2(r + 1)) AS dcg,
        |    sum(CAST(h AS DOUBLE) / r) AS apn FROM hits GROUP BY qid),
        |nums AS (SELECT range + 1 AS i FROM range(10)),
        |perq AS (SELECT q0.qid, coalesce(n.n_rel, 0) AS n_rel,
        |    coalesce(hg.hits, 0) AS hits, hg.fr, hg.dcg, hg.apn
        |  FROM (SELECT qid FROM q) q0
        |  LEFT JOIN nrel n USING (qid) LEFT JOIN hagg hg USING (qid)),
        |ideal AS (SELECT p.qid, sum(1.0 / log2(i + 1)) AS idcg
        |  FROM perq p JOIN nums ON i <= least(p.n_rel, 10) GROUP BY p.qid)
        |SELECT p.qid, p.n_rel, p.hits,
        |  round(CAST(p.hits AS DOUBLE) / 10, 6) AS precision_k,
        |  round(CASE WHEN p.n_rel = 0 THEN 0.0
        |             ELSE CAST(p.hits AS DOUBLE) / p.n_rel END, 6) AS recall_k,
        |  round(CASE WHEN p.fr IS NULL THEN 0.0
        |             ELSE CAST(1.0 AS DOUBLE) / p.fr END, 6) AS rr,
        |  round(CASE WHEN coalesce(i.idcg, 0) = 0 THEN 0.0
        |             ELSE coalesce(p.dcg, 0) / i.idcg END, 6) AS ndcg,
        |  round(CASE WHEN p.n_rel = 0 THEN 0.0
        |             ELSE coalesce(p.apn, 0) / least(p.n_rel, 10) END, 6) AS ap
        |FROM perq p LEFT JOIN ideal i USING (qid) ORDER BY p.qid""".stripMargin,
  )
}
