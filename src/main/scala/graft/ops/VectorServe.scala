package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** One-call vector serving over a maintained [[VersionedStore]] table:
  * reads the table's sidecars ([[Ivf.modelPath]], [[Pq.markerPath]],
  * [[Quantize.markerPath]]) and dispatches to the cheapest serving
  * path the layouts support — the user asks for neighbors, the store's
  * own maintenance history decides how they are found. Every path ends
  * in exact scoring of the returned rows, and every path inherits its
  * layer's guard rails (model-fingerprint checks, staleness refusal),
  * so upgrading a store in place (indexStore, quantizeStore, pqStore)
  * upgrades its serving without a caller change.
  *
  * Serving many requests amortizes the dispatch: [[open]] resolves the
  * route, loads the sidecar models and the tuned probe width ONCE into
  * a [[Served]] handle; each call then pays only a version-stamp
  * freshness check (one manifest read) instead of re-reading every
  * sidecar (r16 probe, scaleprobe logs: dispatch resolution is a measurable slice of a
  * single small-batch call). The one-shot [[search]]/[[searchBatch]]
  * wrappers stay for single-request callers — they open and serve in
  * one step, so semantics are identical by construction.
  */
object VectorServe {

  /** The dispatch decision, exposed for tests/operability. */
  sealed trait Route
  object Route {
    /** Registered graph sidecar: per-partition HNSW beams at the
      * [[Hnsw.tuneSidecarEf]]-measured width (exact scoring of every
      * candidate by construction). */
    case object Hnsw extends Route
    /** Residual IVF-PQ: partition-pruned cells, codes-only ADC, rescore. */
    case object IvfPq extends Route
    /** Plain PQ codes over the whole table, rescore. */
    case object PqOnly extends Route
    /** IVF partitions probed, SQ8 coarse inside them, rescore. */
    case object IvfSq8 extends Route
    /** SQ8 coarse over the whole table, rescore. */
    case object Sq8Only extends Route
    /** IVF partition pruning, exact scoring inside probed cells. */
    case object IvfExact extends Route
    /** Exact brute-force scan. */
    case object Exact extends Route
  }

  /** The route [[search]] will take for `table` as laid out right now.
    * A residual PQ marker whose IVF model is gone (out-of-band
    * deletion) is a corrupted layout: the codes are meaningless without
    * the centroids they are residuals against, so serving them as
    * plain codes would be silently wrong — refuse loudly instead, the
    * same contract the append seam applies.
    *
    * A REGISTERED graph sidecar ([[Hnsw.registerHnswSidecar]]) wins
    * over every quantized/IVF layout — the reference treats HNSW|IVF
    * as the two index types of ONE store concept
    * (`src/common/schema.py:19`, build
    * `src/server/utils/embedding.py:348-368`), and a registration is a
    * declared intent to serve from the graph; silently degrading a
    * graph-indexed store to a different recall/latency profile would
    * be a surprise. The ingest seams maintain the sidecar
    * automatically, so a registered-but-stale graph means out-of-band
    * mutation — the freshness check refuses loudly (run
    * SidecarRegistry.afterAppend) rather than falling back.
    */
  def route(spark: SparkSession, table: String): Route = {
    val ivf = graft.Fs.exists(spark, Ivf.modelPath(table))
    val pq = Pq.readMarker(spark, table)
    val sq8 = graft.Fs.exists(spark, Quantize.markerPath(table))
    // the corruption check stays FIRST: a broken residual-PQ layout is
    // a store integrity problem the graph must not paper over
    pq match {
      case Some(mk) if mk.residual && !ivf =>
        throw new IllegalStateException(
          s"store $table carries residual PQ codes but no ${Ivf.modelPath(table)} — " +
            "the codes are undecodable without the IVF centroids; restore the model " +
            "or re-run Pq.pqStore")
      case _ => ()
    }
    hnswRegistration(spark, table) match {
      case Some(reg) =>
        Hnsw.requireFreshSidecar(spark, table, reg.path)
        Route.Hnsw
      case None => pq match {
        case Some(mk) if mk.residual => Route.IvfPq
        case Some(_)                 => Route.PqOnly
        case None if sq8 && ivf      => Route.IvfSq8
        case None if sq8             => Route.Sq8Only
        case None if ivf             => Route.IvfExact
        case None                    => Route.Exact
      }
    }
  }

  private def hnswRegistration(spark: SparkSession,
                               table: String): Option[SidecarRegistry.Registration] =
    SidecarRegistry.registered(spark, table, SidecarRegistry.HnswSidecar)

  /** A resolved serving context: route, sidecar models, tuned probe
    * width and the store frame, loaded once by [[open]]. Every serve
    * call re-checks only the store's version stamp — the table moving
    * underneath a cached handle (an append, a compaction) refuses
    * loudly, the same staleness contract as the lexical/graph
    * sidecars; reopen after maintenance.
    */
  final case class Served private[ops] (
      spark: SparkSession, table: String, servedRoute: Route,
      version: Long, store: DataFrame,
      ivf: Option[Ivf.IvfModel], pq: Option[Pq.PqModel],
      hnswPath: Option[String]) {

    /** The graph route serves at the sidecar's build metric only — a
      * beam tuned for cosine says nothing about dot-product order.
      */
    private def requireGraphMetric(metric: String): Unit =
      require(metric == Hnsw.SidecarParams.metric,
        s"store $table serves from its graph sidecar, which is built at " +
          s"${Hnsw.SidecarParams.metric} — a $metric serve needs a " +
          "standalone Hnsw.build index (or drop the sidecar registration)")

    // resolved on FIRST tuned-width use (nProbe = 0), then cached: an
    // explicit width must bypass a stale serving config entirely (its
    // refusal belongs only to callers who actually consult it)
    private lazy val tunedWidth: Option[Int] =
      ivf.flatMap(m => Ivf.tunedNProbe(spark, table, m))

    private def width(nProbe: Int): Int = {
      val m = ivf.get
      math.min(if (nProbe > 0) nProbe else tunedWidth.getOrElse(2), m.k)
    }

    private def requireFresh(): Unit = {
      val cur = VersionedStore.currentState(spark, table)
        .map(_.version).getOrElse(0L)
      require(cur == version,
        s"store $table moved from v$version to v$cur since open() — a " +
          "cached serving handle over a changed table would silently miss " +
          "rows; reopen after maintenance")
    }

    /** Top-k rows nearest `queryVec`, output `(idCol, score)` scored
      * exactly — the [[Similarity.knn]] contract — via the cached
      * route. `nProbe = 0` means the tuned-or-default probe width; on
      * the graph route the width IS the beam ef (0 = the
      * [[Hnsw.tuneSidecarEf]]-measured point, which pins k too).
      */
    def search(idCol: String, embCol: String, queryVec: Array[Float],
               k: Int, metric: String = "COSINE",
               nProbe: Int = 0, overfetch: Int = 8): DataFrame = {
      require(nProbe >= 0, s"nProbe: 0 = tuned-or-default, else explicit (got $nProbe)")
      requireFresh()
      val hits = servedRoute match {
        case Route.Hnsw =>
          requireGraphMetric(metric)
          val spark2 = spark
          import spark2.implicits._
          val q = Seq((0L, queryVec.toSeq)).toDF("__qid", "__qv")
          Hnsw.searchHnswSidecar(spark, table, hnswPath.get, q,
              "__qid", "__qv", k, ef = nProbe)
            .withColumn("score", col("sim"))
        case Route.IvfPq =>
          Pq.searchIvfPq(store, idCol, embCol, queryVec, k, ivf.get, pq.get,
            nProbe = width(nProbe), metric = metric, overfetch = overfetch)
        case Route.PqOnly =>
          Pq.knnPqRescore(store, idCol, embCol, queryVec, k, pq.get, metric, overfetch)
        case Route.IvfSq8 =>
          val probes = ivf.get.probeOrder(queryVec).take(width(nProbe)).toSeq
          Quantize.knnQuantizedRescore(
            store.filter(col("cluster_id").isin(probes: _*)),
            idCol, embCol, queryVec, k, metric, overfetch)
        case Route.Sq8Only =>
          Quantize.knnQuantizedRescore(store, idCol, embCol, queryVec, k, metric, overfetch)
        case Route.IvfExact =>
          Ivf.search(store, embCol, ivf.get, queryVec, k,
            nProbe = width(nProbe), metric = metric, storePath = Some(table))
        case Route.Exact =>
          Similarity.knn(store.select(col(idCol), col(embCol)), embCol, queryVec, k, metric)
      }
      hits.select(col(idCol), col("score"))
    }

    /** Batch [[search]]: every query row's top-k in the fewest scans
      * the layout supports — the evaluation-shaped workload. Output
      * `(queryIdCol, rank, idCol, score)`, scored exactly.
      */
    def searchBatch(idCol: String, embCol: String,
                    queries: DataFrame, queryIdCol: String, queryEmbCol: String,
                    k: Int, metric: String = "COSINE",
                    nProbe: Int = 0, overfetch: Int = 8): DataFrame = {
      require(nProbe >= 0, s"nProbe: 0 = tuned-or-default, else explicit (got $nProbe)")
      requireFresh()
      val hits = servedRoute match {
        case Route.Hnsw =>
          requireGraphMetric(metric)
          Hnsw.searchHnswSidecar(spark, table, hnswPath.get, queries,
              queryIdCol, queryEmbCol, k, ef = nProbe)
            .withColumn("score", col("sim"))
        case Route.IvfPq =>
          Pq.searchIvfPqBatch(queries, store, queryIdCol, queryEmbCol,
            idCol, embCol, ivf.get, pq.get, topK = k, nProbe = width(nProbe),
            metric = metric, overfetch = overfetch)
        case Route.PqOnly =>
          Pq.knnPqRescoreBatch(queries, store, queryIdCol, queryEmbCol,
            idCol, embCol, pq.get, topK = k, metric = metric, overfetch = overfetch)
        case Route.IvfSq8 =>
          Quantize.searchBatch(queries, store, queryIdCol, queryEmbCol,
            idCol, embCol, topK = k, metric = metric, overfetch = overfetch,
            ivf = Some((ivf.get, width(nProbe))), storePath = Some(table))
        case Route.Sq8Only =>
          Quantize.searchBatch(queries, store, queryIdCol, queryEmbCol,
            idCol, embCol, topK = k, metric = metric, overfetch = overfetch)
        case Route.IvfExact =>
          Ivf.searchBatch(queries, store, queryIdCol, queryEmbCol, idCol, embCol,
            ivf.get, topK = k, nProbe = width(nProbe), metric = metric,
            storePath = Some(table))
        case Route.Exact =>
          Similarity.similarityJoin(queries, store, queryIdCol, queryEmbCol,
            idCol, embCol, k, metric)
      }
      hits.select(col(queryIdCol), col("rank"), col(idCol), col("score"))
    }
  }

  /** Resolve `table`'s serving context once: route, models (with their
    * fingerprint guards), tuned probe width, version stamp and the
    * store frame. The handle serves any number of calls until the
    * table changes.
    */
  def open(spark: SparkSession, table: String): Served = {
    // version stamp FIRST, store frame second: if the table is appended
    // between the two reads, the handle stamps the OLD version over the
    // NEW frame and the first serve's requireFresh() refuses loudly —
    // the reverse order would stamp the new version over the old frame
    // and pass forever while serving stale rows
    val version = VersionedStore.currentState(spark, table)
      .map(_.version).getOrElse(0L)
    val store = VersionedStore.read(spark, table).getOrElse(
      throw new IllegalArgumentException(s"no store at $table"))
    val r = route(spark, table)
    val ivf = r match {
      case Route.IvfPq | Route.IvfSq8 | Route.IvfExact =>
        val m = Ivf.loadModel(spark, Ivf.modelPath(table))
        // the fingerprint guard runs at open; per-call freshness is the
        // version stamp (a changed model implies a changed version)
        if (r != Route.IvfExact) Ivf.requireModelMatch(spark, table, m)
        Some(m)
      case _ => None
    }
    val pq = r match {
      case Route.IvfPq | Route.PqOnly =>
        Some(Pq.loadModel(spark, Pq.modelPath(table)))
      case _ => None
    }
    val hnsw = r match {
      case Route.Hnsw => hnswRegistration(spark, table).map(_.path)
      case _          => None
    }
    Served(spark, table, r, version, store, ivf, pq, hnsw)
  }

  /** One-shot [[Served.search]]: open + serve in a single call. */
  def search(spark: SparkSession, table: String, idCol: String, embCol: String,
             queryVec: Array[Float], k: Int, metric: String = "COSINE",
             nProbe: Int = 0, overfetch: Int = 8): DataFrame =
    open(spark, table).search(idCol, embCol, queryVec, k, metric, nProbe, overfetch)

  /** One-shot [[Served.searchBatch]]: open + serve in a single call. */
  def searchBatch(spark: SparkSession, table: String,
                  idCol: String, embCol: String,
                  queries: DataFrame, queryIdCol: String, queryEmbCol: String,
                  k: Int, metric: String = "COSINE",
                  nProbe: Int = 0, overfetch: Int = 8): DataFrame =
    open(spark, table).searchBatch(idCol, embCol, queries, queryIdCol,
      queryEmbCol, k, metric, nProbe, overfetch)
}
