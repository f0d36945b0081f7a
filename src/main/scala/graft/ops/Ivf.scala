package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** IVF-style approximate nearest-neighbor index (SURVEY.md §4: the
  * reference's HNSW/IVF vector index S16 has no Catalyst equivalent; the
  * scale story is coarse clustering + partition pruning).
  *
  * Fit: deterministic k-means (hash-seeded init + a few distributed Lloyd
  * iterations — assignment is a broadcast top-1 centroid join, update is a
  * posexplode/groupBy mean, only k×dim floats ever reach the driver).
  *
  * Serve: write the corpus `partitionBy(cluster_id)`; a query embeds,
  * ranks centroids driver-side (k tiny), and scans only the `nProbe`
  * nearest clusters — on a partitioned store that is real partition
  * pruning: `nProbe/k` of the data read, visible as partition filters in
  * the scan node. `nProbe = k` degenerates to exact brute force (the
  * correctness oracle).
  */
object Ivf {

  case class IvfModel(centroids: Array[Array[Float]]) {
    def k: Int = centroids.length
    /** Centroid ids nearest to the query, best first (driver-side; k is small). */
    def probeOrder(queryVec: Array[Float]): Array[Int] =
      centroids.zipWithIndex.map { case (c, i) =>
        var s = 0.0; var j = 0
        val n = math.min(c.length, queryVec.length)
        while (j < n) { val d = c(j).toDouble - queryVec(j); s += d * d; j += 1 }
        (i, s)
      }.sortBy(t => (t._2, t._1)).map(_._1)
    /** Content hash of the centroids (MD5 over their exact text
      * rendering, so save → load round-trips to the same value). Two
      * models agree on every cluster assignment iff their fingerprints
      * match — the token [[search]]/[[searchBatch]] check against a
      * store's persisted model to turn a stale-model probe (which would
      * silently prune away matching rows) into a loud error.
      */
    lazy val fingerprint: String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val body = centroids.map(_.mkString(" ")).mkString("\n")
      md.digest(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map("%02x".format(_)).mkString
    }
  }

  /** The model sidecar path inside a store table directory (underscore
    * prefix keeps it invisible to Spark's file index).
    */
  def modelPath(table: String): String = s"$table/_ivf_model"

  /** The segment layout every rewrite of a store must keep: an
    * IVF-indexed store's segments are cluster-partitioned and stamped
    * with its model's fingerprint (the probe-time stamp check refuses
    * anything else as foreign); an unindexed store's are flat and
    * unstamped.
    */
  final case class Layout(model: Option[IvfModel]) {
    def partitionBy: Seq[String] = if (model.isDefined) Seq("cluster_id") else Nil
    def marker: Option[String] = model.map(_.fingerprint)
  }

  /** The [[Layout]] `table` carries now, read from its model sidecar. */
  def layoutOf(spark: SparkSession, table: String): Layout =
    Layout(if (graft.Fs.exists(spark, modelPath(table)))
      Some(loadModel(spark, modelPath(table))) else None)

  // a (table, manifest version, manifest mtime, model fingerprint) tuple
  // that passed the full guard once cannot regress without a NEW manifest
  // commit (every mutation through the public API — appendAssigned,
  // indexStore, streaming appends — publishes a version, and indexStore
  // writes its sidecar only after its swap commits), so repeated probes
  // at the same version cost two tiny FS reads instead of a sidecar read
  // plus O(live segments) exists() round trips per probe. The mtime term
  // covers the one hole version numbers leave: an out-of-band
  // delete-and-recreate of the table restarts numbering, and a long-lived
  // driver that memoized the ORIGINAL v3 must not skip the per-segment
  // stamp check against the recreated store's v3.
  private val guardPassed =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(String, Long, Long, String)]()
  /** Count of full (non-memoized) guard evaluations — test observability. */
  private[graft] val guardFullChecks = new java.util.concurrent.atomic.AtomicLong(0)

  /** Fail loudly if `model` is not the model that assigned `table`'s
    * cluster layout — probing a partitioned store with a different model
    * silently loses rows (the scan predicate prunes them before any
    * runtime check can see the gap), so every path that knows the store
    * location must call this before building probe predicates. Memoized
    * per (table, manifest version, fingerprint): a hot serving path pays
    * one manifest-state read per probe, not per-segment FS chatter.
    * Unversioned tables (no manifest) are never memoized — nothing
    * version-stamps their mutations.
    */
  def requireModelMatch(spark: SparkSession, table: String, model: IvfModel): Unit = {
    val state = VersionedStore.currentState(spark, table)
    val key = state.map(st => (table, st.version,
      VersionedStore.manifestModTime(spark, table, st.version), model.fingerprint))
    if (key.exists(guardPassed.contains)) return
    guardFullChecks.incrementAndGet()
    val path = modelPath(table)
    require(graft.Fs.exists(spark, path),
      s"store $table carries no _ivf_model — it was not written by " +
        "writePartitioned/indexStore; probing it with cluster predicates would " +
        "silently lose rows")
    val persisted = loadModel(spark, path)
    require(persisted.fingerprint == model.fingerprint,
      s"IVF model mismatch for store $table: supplied model fingerprint " +
        s"${model.fingerprint} != persisted ${persisted.fingerprint} — the store's " +
        "partitions were assigned by a different model, so probing with this one " +
        "would silently drop matching rows. Load the store's own model via " +
        s"Ivf.loadModel(spark, \"$path\") or re-index with Ivf.indexStore.")
    // sidecar equality is not enough on a versioned store: a re-index
    // racing an assigned append can leave a segment whose rows were
    // assigned under the PREVIOUS model (the swap preserves concurrent
    // appends by design). Every assigned write stamps its segment with
    // the fingerprint that assigned it — require all live segments carry
    // the sidecar's stamp, so the stale-assignment race is loud too.
    val unstamped = state.map(_.segments).getOrElse(Nil)
      .filterNot(s => graft.Fs.exists(spark, s"$table/$s/_marker-${persisted.fingerprint}"))
    require(unstamped.isEmpty,
      s"IVF store $table has ${unstamped.size} live segment(s) not assigned by the " +
        s"sidecar model (fingerprint ${persisted.fingerprint}): " +
        s"${unstamped.take(3).mkString(", ")} — a re-index raced an assigned append, " +
        "or a writer bypassed Ivf.appendAssigned; re-run Ivf.indexStore.")
    // bounded: the set grows one entry per committed version actually
    // probed; clear wholesale in the (pathological) long-lived-driver
    // case rather than tracking LRU order
    if (guardPassed.size > 10000) guardPassed.clear()
    key.foreach(k => guardPassed.add(k): Unit)
  }

  /** Per-cluster row counts plus the imbalance summary a re-index
    * decision needs. Continuous ingestion via [[appendAssigned]] keeps
    * the layout clustered but NOT balanced: the model is frozen at fit
    * time, so drifted data piles into few clusters — probe-time pruning
    * then reads a growing fraction of the store and the `nProbe/k` cost
    * model quietly erodes. This is the monitoring surface: one
    * count-by-partition-column aggregation (metadata-cheap — the scan
    * reads zero data columns), returning `(cluster_id, n)` with null
    * for the null-embedding partition.
    */
  def clusterStats(spark: SparkSession, table: String): DataFrame = {
    val df = VersionedStore.read(spark, table).getOrElse(
      throw new IllegalStateException(s"no rows at $table"))
    df.groupBy(col("cluster_id")).agg(count(lit(1)).as("n"))
  }

  /** True when the store's cluster sizes have drifted past
    * `maxImbalance` (largest cluster vs the ideal rows/k share, null
    * partition excluded) — the "re-run [[indexStore]]" advisory. The
    * threshold is a cost statement: probing the hottest cluster costs
    * `imbalance`× the uniform-share estimate the nProbe knob assumes.
    * (Cluster COUNT is deliberately not a signal: k-means legitimately
    * leaves clusters empty when the data fills fewer than k regions,
    * and a re-fit would not resurrect them.)
    */
  def needsReindex(spark: SparkSession, table: String,
                   maxImbalance: Double = 4.0): Boolean = {
    require(maxImbalance >= 1.0, "maxImbalance is a ratio >= 1")
    imbalanceRatio(spark, table).exists(_ > maxImbalance)
  }

  /** Largest-cluster load relative to the balanced ideal `total/k` —
    * the number [[needsReindex]] thresholds and the append seam's drift
    * advisory reports. None for an empty store. One partition-column
    * aggregation (metadata-cheap, reads zero data columns).
    */
  def imbalanceRatio(spark: SparkSession, table: String): Option[Double] = {
    val model = loadModel(spark, modelPath(table))
    val stats = clusterStats(spark, table)
      .filter(col("cluster_id").isNotNull)
      .agg(sum(col("n")), max(col("n"))).head()
    if (stats.isNullAt(0)) None // empty store: nothing to probe
    else {
      val (total, largest) = (stats.getLong(0), stats.getLong(1))
      Some(largest / (total.toDouble / model.k))
    }
  }

  /** Assign each row its nearest centroid id. Fully narrow: ONE
    * [[graft.functions.NearestCentroids]] expression computes the
    * argmin over the whole centroid matrix per row (distance asc, cid
    * tie-break — the exact `array_min`-over-(d, cid)-structs order of
    * the k-expression formulation this replaced, which at k = √N
    * strained the planner and paid k expressions' worth of per-row
    * overhead) — no join, no shuffle, no row ids, safe under task
    * retries. A NULL embedding yields a NULL cluster id (the Hive
    * default partition on a partitioned write) rather than silently
    * filing in some cluster's partition.
    */
  def assign(df: DataFrame, embCol: String, model: IvfModel,
             clusterCol: String = "cluster_id"): DataFrame =
    df.withColumn(clusterCol,
      when(col(embCol).isNotNull,
        VectorFunctions.nearestCentroids(col(embCol), model.centroids, 1)
          .getItem(0)))

  /** The k ∝ √N fit rule, centralized: every cell-join consumer
    * ([[Similarity.ivfJoinTopK]], [[Contrastive.mineBitextIvf]]/
    * `hardNegativesIvf`, SemDeDup) does Σ|cell|·|probe-cell| work, so
    * its scaling claim rests on cells staying ≈√N-sized — which only
    * holds if k GROWS with the corpus. `k = √n` keeps mean cell size
    * at √n (probe cost per query grows as √N instead of N), floored
    * at 2 and capped at `maxK`: [[assign]] materializes one distance
    * expression per centroid, so k beyond a few thousand strains the
    * planner — past the cap (n > ~16M rows at the default) a flat IVF
    * wants the PQ ladder or a sharded/two-level layout, not more
    * centroids, and the cap makes that cliff a visible constant
    * instead of a planner stall.
    */
  def kForCorpus(n: Long, maxK: Int = 4096): Int = {
    require(maxK >= 2, s"maxK must be >= 2 (got $maxK)")
    math.min(maxK.toLong,
      math.max(2L, math.round(math.sqrt(math.max(0L, n).toDouble)))).toInt
  }

  /** [[fit]] under the [[kForCorpus]] rule with a SAMPLE-bounded Lloyd
    * phase: k-means cost is O(rows × k × dim) per iteration, so at
    * k = √N a full-corpus fit would cost N^1.5 — the training set is
    * instead the `256·k` rows with smallest xxhash64(id) (deterministic,
    * engine-replayable; 256 training points per centroid is the
    * classical k-means adequacy band), which caps the fit at O(k²·dim)
    * regardless of corpus size. ASSIGNMENT of the corpus to the fitted
    * centroids remains exact and full — only the centroid ESTIMATION
    * samples, exactly the FAISS train/add split. Returns the model and
    * the live (non-null-embedding) row count it was sized for.
    */
  def fitAuto(df: DataFrame, idCol: String, embCol: String,
              iters: Int = 2, maxK: Int = 4096): (IvfModel, Long) = {
    val live = df.select(col(idCol), col(embCol))
      .filter(col(embCol).isNotNull)
    val n = live.count()
    require(n > 0, "fitAuto needs at least one non-null embedding")
    val k = kForCorpus(n, maxK)
    val trainSize = 256L * k
    // pinned: fit runs 1 init collect + `iters` aggregation actions
    // over the training set, and without the cut each would
    // re-materialize the corpus-wide TakeOrdered — O(N) per Lloyd
    // round, the exact cost the sample bound exists to avoid (the
    // Pq.fit sample discipline)
    val train =
      if (n <= trainSize) live
      else live.orderBy(xxhash64(col(idCol)).asc, col(idCol))
        .limit(trainSize.toInt)
    graft.Tables.pinned(train)(t => (fit(t, idCol, embCol, k, iters), n))
  }

  /** Deterministic k-means fit. Init: the k rows with smallest
    * xxhash64(id) (a seeded pseudo-random sample). `iters` Lloyd rounds.
    */
  def fit(df: DataFrame, idCol: String, embCol: String, k: Int,
          iters: Int = 2): IvfModel = {
    // null embeddings are searchable-nowhere by contract (null cluster,
    // null score) — they must not seed centroids either, or getSeq NPEs
    val init = df.select(col(idCol), col(embCol))
      .filter(col(embCol).isNotNull)
      .orderBy(xxhash64(col(idCol)).asc, col(idCol))
      .limit(k)
      .collect()
      .map(_.getSeq[Float](1).toArray)
    var model = IvfModel(init)
    val dim = model.centroids.headOption.map(_.length).getOrElse(0)
    for (_ <- 0 until (if (dim == 0) 0 else iters)) {
      // null-embedding rows assign to a null cluster — they carry no
      // coordinates, so they must not contribute a (null-keyed) group
      val assigned = assign(
        df.select(col(embCol)).filter(col(embCol).isNotNull), embCol, model)
      // ONE vector-sum aggregate per group ([[graft.functions.VectorMean]]):
      // partial aggregation runs map-side and the shuffle carries k×dim
      // doubles — the same volume as the dim-wide avg-expression fan-out
      // this replaces, but with O(1) aggregate EXPRESSIONS whatever the
      // dim (the fan-out strained the planner and fell out of codegen at
      // production embedding dims of 1,024-4,096; and the posexplode
      // formulation before THAT shuffled corpus×dim exploded rows per
      // Lloyd round). Per-element null-skip semantics are bit-identical
      // to the fan-out — spec'd in IvfFitSpec.
      val means = assigned
        .groupBy(col("cluster_id"))
        .agg(graft.functions.VectorMean.vectorMean(col(embCol), dim).as("mean"))
        .collect()
      val byCluster = means.map(r => r.getInt(0) -> r.getSeq[Any](1)).toMap
      val next = model.centroids.indices.map { c =>
        byCluster.get(c) match {
          case Some(m) =>
            val v = new Array[Float](dim)
            var i = 0
            while (i < dim) {
              m(i) match {
                case d: java.lang.Double => v(i) = d.toFloat
                case _ => // null element position keeps 0f, as the fan-out did
              }
              i += 1
            }
            v
          case None => model.centroids(c) // empty cluster keeps its centroid
        }
      }.toArray
      model = IvfModel(next)
    }
    model
  }

  /** Write an IVF-partitioned store: parquet partitioned by cluster id so
    * probe-time filters prune whole partitions. The model that assigned
    * the clusters is persisted INSIDE the store directory (`_ivf_model`;
    * underscore-prefixed files are invisible to Spark's file index), so
    * the artifact that makes the partitioning meaningful travels with the
    * data — probing with a different model silently loses rows (see
    * [[searchBatch]]); [[loadModel]] recovers the right one.
    */
  def writePartitioned(df: DataFrame, embCol: String, model: IvfModel, path: String): Unit = {
    assign(df, embCol, model)
      .write.mode("overwrite").partitionBy("cluster_id").parquet(path)
    saveModel(df.sparkSession, s"$path/_ivf_model", model)
  }

  /** Persist centroids as text: line 1 = "k dim fingerprint", then one
    * space-separated centroid per line — engine-portable, no codec. The
    * fingerprint in the header lets [[loadModel]] detect a corrupted or
    * hand-edited file, and [[requireModelMatch]] compare models without
    * re-reading centroid payloads elsewhere.
    */
  def saveModel(spark: SparkSession, path: String, model: IvfModel): Unit = {
    val dim = model.centroids.headOption.map(_.length).getOrElse(0)
    val body = s"${model.k} $dim ${model.fingerprint}\n" +
      model.centroids.map(_.mkString(" ")).mkString("\n")
    graft.Fs.writeString(spark, path, body)
  }

  /** Load the model [[writePartitioned]]/[[saveModel]] persisted. Files
    * from before the fingerprint header (two-field "k dim") still load;
    * a three-field header must round-trip to its own fingerprint.
    */
  def loadModel(spark: SparkSession, path: String): IvfModel = {
    val lines = graft.Fs.readString(spark, path).split("\n")
    val header = lines.head.trim.split(" ")
    val k = header(0).toInt
    val dim = header(1).toInt
    val cents = lines.tail.take(k).map(_.trim.split(" ").map(_.toFloat))
    require(cents.length == k && cents.forall(_.length == dim),
      s"corrupt IVF model at $path")
    val model = IvfModel(cents)
    if (header.length >= 3)
      require(model.fingerprint == header(2),
        s"corrupt IVF model at $path: stored fingerprint ${header(2)} != " +
          s"recomputed ${model.fingerprint}")
    model
  }

  /** Top-k search probing only the `nProbe` nearest clusters. On a
    * cluster-partitioned store the `isin` filter is partition pruning.
    * Pass `storePath` whenever the store location is known: the probe
    * then verifies `model` is the one that assigned the store's layout
    * ([[requireModelMatch]]) instead of silently pruning away rows a
    * stale model put in unprobed clusters.
    */
  def search(store: DataFrame, embCol: String, model: IvfModel,
             queryVec: Array[Float], topK: Int, nProbe: Int,
             metric: String = "COSINE",
             storePath: Option[String] = None): DataFrame = {
    storePath.foreach(p => requireModelMatch(store.sparkSession, p, model))
    val probes = model.probeOrder(queryVec).take(math.max(1, nProbe)).toSeq
    Similarity.knn(
      store.filter(col("cluster_id").isin(probes: _*)),
      embCol, queryVec, topK, metric)
  }

  /** Metadata-filtered ANN — the vector-store feature every production
    * retrieval stack pairs with similarity search ("top-k docs about X
    * *in English*, *from this source*"). Semantics are PRE-filter
    * (filter-then-search): `predicate` is applied to the probed rows
    * BEFORE scoring, so the result is the exact top-k of the filtered
    * probed set and always returns `topK` rows when that many match.
    * (Post-filtering a plain top-k would silently return fewer — up to
    * zero — rows for selective predicates; that footgun is why this is
    * an operator and not a `.filter` on [[search]]'s result.)
    *
    * Plan shape: partition pruning from the probe list composes with
    * predicate pushdown — on a [[writePartitioned]] store BOTH reach
    * the parquet scan, so a selective metadata filter cuts scan IO
    * multiplicatively with nProbe. At `nProbe = model.k` the result is
    * the exact filtered top-k (oracle-checkable).
    */
  def searchFiltered(store: DataFrame, embCol: String, model: IvfModel,
                     queryVec: Array[Float], topK: Int, nProbe: Int,
                     predicate: Column, metric: String = "COSINE",
                     storePath: Option[String] = None): DataFrame =
    // delegate: the predicate commutes with the probe's cluster filter
    // (both push to the same scan), so this IS [[search]] over the
    // filtered store — one probe/guard implementation to maintain
    search(store.filter(predicate), embCol, model, queryVec, topK, nProbe,
      metric, storePath)

  /** IVF-probed *batch* similarity join: for every query row, the top-k
    * nearest store rows searching only that query's `nProbe` nearest
    * clusters — the composition a RAG evaluation runs at corpus scale
    * (reference: every retrieval is a similarity search against the
    * HNSW/IVF-indexed store, `src/server/agents/chatbot.py:188-210` +
    * `src/server/utils/embedding.py:348-368`; batched here instead of
    * per-question loops).
    *
    * Plan shape: the scan carries a static `cluster_id IN (union of all
    * probed clusters)` predicate — real partition pruning on a
    * [[writePartitioned]] store, so at nProbe ≪ k only that fraction of
    * the corpus is read at all. Within the scanned union, a broadcast
    * equi-join on cluster id pairs each corpus row with exactly the
    * queries probing its cluster (not the whole batch — the per-row work
    * is nProbe-bounded, unlike the crossJoin in
    * [[Similarity.similarityJoin]]), and the shared bounded-rank tail
    * (per-partition top-k heap + rank window) keeps the Exchange
    * corpus-size-independent. `nProbe = model.k` is exhaustive and equals
    * [[Similarity.similarityJoin]] bit-for-bit (same scores, same
    * ordering, same tiebreak) — PROVIDED `clusterCol` was assigned by
    * THIS `model`: a store partitioned by a different or stale model
    * holds rows in clusters the probe union never selects, and the scan
    * predicate prunes them before any runtime check could notice. Keep
    * the model artifact with the store it wrote — and pass `storePath`
    * whenever the location is known, so [[requireModelMatch]] turns that
    * silent row loss into a loud error.
    *
    * The query batch is collected to rank centroids per query — bounded
    * by the same contract that lets [[Similarity.similarityJoin]]
    * broadcast it (a broadcast is itself a driver collect); queries with
    * a null embedding are dropped, matching the join's null-score drop.
    */
  def searchBatch(queries: DataFrame, store: DataFrame,
                  queryIdCol: String, queryEmbCol: String,
                  corpusIdCol: String, corpusEmbCol: String,
                  model: IvfModel, topK: Int, nProbe: Int,
                  metric: String = "COSINE", scoreName: String = "score",
                  rankName: String = "rank",
                  clusterCol: String = "cluster_id",
                  storePath: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{IntegerType, StructField}
    storePath.foreach(p => requireModelMatch(store.sparkSession, p, model))
    val p = math.max(1, math.min(nProbe, model.k))
    val qdf = queries.select(col(queryIdCol), col(queryEmbCol))
    val probeRows = new java.util.ArrayList[Row]()
    qdf.collect().foreach { r =>
      if (!r.isNullAt(1)) {
        val emb = r.getSeq[Float](1).toArray
        model.probeOrder(emb).take(p).foreach(c => probeRows.add(Row(r.get(0), r.get(1), c)))
      }
    }
    val probeDf = store.sparkSession
      .createDataFrame(probeRows, qdf.schema.add(StructField("__probe", IntegerType, nullable = false)))
      .withColumnRenamed(queryIdCol, "__qid")
      .withColumnRenamed(queryEmbCol, "__qemb")
    val union = (0 until probeRows.size()).map(probeRows.get(_).getInt(2)).distinct
    // literal IN on the partition column = static pruning at the scan;
    // an empty batch must still return an empty frame of the right shape
    val pruned =
      if (union.isEmpty) store.filter(lit(false))
      else store.filter(col(clusterCol).isin(union: _*))
    val scored = pruned
      .join(broadcast(probeDf), col(clusterCol) === col("__probe"))
      .withColumn(scoreName, VectorFunctions.score(metric)(col(corpusEmbCol), col("__qemb")))
      .filter(col(scoreName).isNotNull)
      .select(col("__qid"), col(corpusIdCol), col(scoreName))
    Similarity.boundedRank(scored, queryIdCol, corpusIdCol, topK, metric, scoreName, rankName)
  }

  /** Recall-targeted nProbe auto-tuning — the second half of the
    * no-caller-folklore contract ([[kForCorpus]] sizes k; this sizes
    * the probe width): the smallest nProbe whose measured recall@k on
    * a bounded, deterministic query sample reaches `targetRecall`,
    * plus the full recall curve for observability.
    *
    * Cost shape: ONE exact batch similarity join of the sample against
    * the corpus (the broadcast-bounded [[Similarity.similarityJoin]] —
    * ground truth), one bounded semi-join to assign the true
    * neighbors' home cells, and driver-side probe ranks for the sample
    * queries. The recall CURVE then needs no per-candidate searches:
    * a true neighbor is recalled at probe width p iff its home cell
    * ranks within the query's first p probe cells, and because the
    * cell join scores candidates with the exact kernel, candidate
    * coverage IS search recall@k — so one cumulative histogram over
    * the cell ranks yields recall(p) for every p at once.
    *
    * Returns `(nProbe, curve)` where curve = one row per probe width
    * `(n_probe, n_covered, recall)` (model.k rows, exact integer
    * counts + one rounded division). `nProbe = model.k` when even the
    * full probe misses the target (possible only when ground-truth
    * neighbors tie at the k boundary); recall at full probe is 1.0 by
    * construction otherwise.
    */
  def tuneNProbe(corpus: DataFrame, idCol: String, embCol: String,
                 model: IvfModel, sampleQueries: DataFrame,
                 qIdCol: String, qEmbCol: String, k: Int,
                 targetRecall: Double,
                 metric: String = "COSINE"): (Int, DataFrame) = {
    require(targetRecall > 0.0 && targetRecall <= 1.0,
      s"targetRecall must be in (0, 1] (got $targetRecall)")
    val spark = corpus.sparkSession
    val q = sampleQueries.select(col(qIdCol), col(qEmbCol))
      .filter(col(qEmbCol).isNotNull)
    // driver-side probe ranks per sample query: (qid, cell) -> rank;
    // bounded by the same contract that lets the exact join broadcast
    val probeRank = q.collect().flatMap { r =>
      val order = model.probeOrder(r.getSeq[Float](1).toArray)
      order.iterator.zipWithIndex.map { case (cell, rank) =>
        (r.get(0), cell, rank)
      }
    }
    import spark.implicits._
    val rankDf = spark.createDataFrame(
      spark.sparkContext.parallelize(probeRank.toSeq.map(t =>
        org.apache.spark.sql.Row(t._1, t._2, t._3)), 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("__qid",
          q.schema.fields.head.dataType),
        org.apache.spark.sql.types.StructField("__cell",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("__cellrank",
          org.apache.spark.sql.types.IntegerType, nullable = false))))
    // ground truth: exact top-k per sample query (ONE corpus scan —
    // checkpointed because both the total and the rank aggregation
    // read it; without the cut the count action re-runs the join)
    val exact = Similarity.similarityJoin(q, corpus, qIdCol, qEmbCol,
        idCol, embCol, k, metric)
      .select(col(qIdCol).as("__qid"), col(idCol))
      .localCheckpoint()
    // home cells of the true neighbors only: broadcast the bounded
    // pair set into the corpus, assign the survivors (narrow)
    val truthCells = assign(
        corpus.select(col(idCol), col(embCol))
          .join(broadcast(exact.select(col(idCol)).distinct()), Seq(idCol)),
        embCol, model, clusterCol = "__cell")
      .select(col(idCol), col("__cell"))
    val ranked = exact.join(truthCells, Seq(idCol))
      .join(broadcast(rankDf), Seq("__qid", "__cell"))
    // cumulative coverage over cell ranks -> the whole recall curve
    val total = exact.count()
    require(total > 0, "tuneNProbe needs a non-empty ground-truth sample")
    val byRank = ranked.groupBy(col("__cellrank"))
      .agg(count(lit(1)).cast("long").as("n")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    // recall is an exact integer ratio (covered/total): publish it as
    // exact micros and choose from the SAME value the curve exposes —
    // round(double, n) on an exact ratio is the repo-banned pattern
    // (tie-sensitive and engine-build-sensitive), and choosing from a
    // value the curve doesn't carry lets a consumer re-deriving "first
    // rung meeting target" disagree with `chosen`
    var covered = 0L
    val rows = (0 until model.k).map { r =>
      covered += byRank.getOrElse(r, 0L)
      (r + 1, covered, Hnsw.recallMicros(covered, total))
    }
    val curve = rows.toDF("n_probe", "n_covered", "recall_micros")
    val tgt = Hnsw.targetMicros(targetRecall)
    val chosen = rows.collectFirst {
      case (p, _, recM) if recM >= tgt => p
    }.getOrElse(model.k)
    (chosen, curve)
  }

  /** Serving-config sidecar: the tuned probe width, stamped with the
    * model fingerprint it was measured against (underscore-prefixed,
    * invisible to the file index — the [[modelPath]] convention).
    */
  def servingConfigPath(table: String): String = s"$table/_ivf_serving"

  /** [[tuneNProbe]] against a store's OWN rows and persisted model:
    * samples `maxSample` deterministic queries from the table
    * (smallest xxhash64(id) — the fit-init discipline), tunes, and
    * persists the result to [[servingConfigPath]] so
    * [[VectorServe.search]] serves at the measured operating point
    * instead of a guessed constant. Returns (nProbe, recall curve).
    */
  def tuneStore(spark: SparkSession, table: String, idCol: String,
                embCol: String, k: Int, targetRecall: Double,
                maxSample: Int = 64, metric: String = "COSINE"): (Int, DataFrame) = {
    val store = VersionedStore.read(spark, table).getOrElse(
      throw new IllegalStateException(s"no rows to tune at $table"))
    val model = loadModel(spark, modelPath(table))
    requireModelMatch(spark, table, model)
    val sample = store.select(col(idCol), col(embCol))
      .filter(col(embCol).isNotNull)
      .orderBy(xxhash64(col(idCol)).asc, col(idCol)).limit(maxSample)
      .select(col(idCol).as("__tqid"), col(embCol).as("__tqemb"))
    val (p, curve) = tuneNProbe(store, idCol, embCol, model, sample,
      "__tqid", "__tqemb", k, targetRecall, metric)
    graft.Fs.writeString(spark, servingConfigPath(table),
      s"v1 ${model.fingerprint} $p $k $targetRecall $metric")
    (p, curve)
  }

  /** The persisted tuned probe width for `table` under `model`, if a
    * serving config exists. A config stamped by a DIFFERENT model is a
    * stale operating point — its recall measurement says nothing about
    * the current layout — and refuses loudly rather than silently
    * serving at an unmeasured width ([[requireModelMatch]]'s
    * philosophy). [[indexStore]] re-tunes automatically on re-index,
    * so this fires only after an out-of-band model swap.
    *
    * The width was measured at the sidecar's recorded `k`: serving a
    * SMALLER k at the same width only tightens coverage (the true
    * top-k' ⊆ the measured top-k's cells plus closer ones), while a
    * materially LARGER k dilutes the measurement — re-run
    * [[tuneStore]] at the serving k when it differs.
    */
  def tunedNProbe(spark: SparkSession, table: String,
                  model: IvfModel): Option[Int] = {
    val path = servingConfigPath(table)
    if (!graft.Fs.exists(spark, path)) return None
    val parts = graft.Fs.readString(spark, path).trim.split(" ")
    require(parts.length >= 4 && parts(0) == "v1",
      s"unrecognized serving config at $path")
    require(parts(1) == model.fingerprint,
      s"serving config at $path was tuned against model ${parts(1)}, the " +
        s"store now carries ${model.fingerprint} — its recall measurement no " +
        "longer applies; re-run Ivf.tuneStore (indexStore re-tunes " +
        "automatically when it re-indexes)")
    Some(parts(2).toInt)
  }

  /** Index (or re-index) a [[VersionedStore]] table in place: fit a
    * k-means model on the current live rows, rewrite them into ONE
    * cluster-partitioned segment through the store's race-safe manifest
    * swap, and persist the model sidecar — the reference's
    * rebuild-index-after-merge step (`src/server/utils/embedding.py:
    * 348-368`, drop + recreate `<table>_IDX`) as a manifest transition.
    * Concurrent appends survive exactly as under
    * [[VersionedStore.compact]]; concurrent readers keep their snapshot.
    * The model is written only after the swap commits, so a lost
    * compaction race cannot leave a sidecar describing a layout that
    * never landed. Returns the fitted model.
    *
    * `k = 0` (the default) auto-sizes the index: [[kForCorpus]] over
    * the live row count with the sample-bounded [[fitAuto]] Lloyd
    * phase — the k ∝ √N rule every cell-join consumer's scaling claim
    * needs, applied where the index is actually built instead of left
    * as caller folklore. Pass an explicit k > 0 to pin it (tests,
    * oracle fixtures, known-degenerate corpora).
    */
  def indexStore(spark: SparkSession, table: String, idCol: String, embCol: String,
                 k: Int = 0, iters: Int = 2, rowsPerFile: Long = 1L << 20): IvfModel = {
    require(k >= 0, s"k: 0 = auto (kForCorpus), or an explicit count (got $k)")
    val df = VersionedStore.read(spark, table).getOrElse(
      throw new IllegalStateException(s"no rows to index at $table"))
    val preVersion = VersionedStore.currentState(spark, table).map(_.version).getOrElse(0L)
    val model =
      if (k > 0) fit(df, idCol, embCol, k, iters)
      else fitAuto(df, idCol, embCol, iters)._1
    val (post, nFiles) = VersionedStore.compact(spark, table, rowsPerFile,
      reshape = assign(_, embCol, model), partitionBy = Seq("cluster_id"),
      marker = Some(model.fingerprint))
    // nFiles == 0 means another compactor swapped mid-rewrite and our
    // layout was abandoned — persisting this model would claim a
    // clustering the table does not have
    require(nFiles > 0,
      s"indexStore lost a concurrent-compaction race at $table; retry")
    saveModel(spark, modelPath(table), model)
    // a re-clustering rewrites rows but preserves them — registered
    // sidecars stay valid and only need their stamps moved (or a
    // rebuild when that is not provable), same as any other compaction
    SidecarRegistry.afterRewrite(spark, table, preVersion, post, nFiles)
    // a tuned serving config describes the PREVIOUS model's recall —
    // re-measure it under the new layout at its recorded (k, target)
    // so serving keeps its contract across re-indexing without a
    // caller change (the VectorServe motto)
    val cfgPath = servingConfigPath(table)
    if (graft.Fs.exists(spark, cfgPath)) {
      val parts = graft.Fs.readString(spark, cfgPath).trim.split(" ")
      // an unparseable config must not be silently left behind stale —
      // the next default-width search would refuse with a message
      // claiming indexStore re-tunes automatically
      require(parts.length >= 6 && parts(0) == "v1",
        s"unrecognized serving config at $cfgPath — delete it or re-run " +
          "Ivf.tuneStore before re-indexing")
      tuneStore(spark, table, idCol, embCol,
        k = parts(3).toInt, targetRecall = parts(4).toDouble,
        metric = parts(5)): Unit
    }
    model
  }

  /** Append rows into an indexed store WITHOUT degrading its layout:
    * assign each row its cluster under the store's own persisted model
    * and write the segment cluster-partitioned, so probe-time partition
    * pruning keeps holding as the store grows. This is the maintenance
    * step a continuously-ingesting store needs — a plain append would
    * land unclustered segments and the probed search would silently
    * degrade to full scans (or worse, miss the new rows entirely under a
    * cluster predicate). Returns the appended row count. The rows must
    * carry `embCol`; callers that already hold the model pass it to skip
    * the sidecar read, but it must match the persisted one
    * ([[requireModelMatch]]). Rows with a NULL embedding get a null
    * cluster (Hive default partition): visible to full reads, but
    * unreachable by probed search — the same contract as the similarity
    * join, which drops null-embedding rows via their null score.
    */
  def appendAssigned(spark: SparkSession, table: String, df: DataFrame, embCol: String,
                     model: Option[IvfModel] = None): Long = {
    val persisted = loadModel(spark, modelPath(table))
    model.foreach(m => require(m.fingerprint == persisted.fingerprint,
      s"supplied model (${m.fingerprint}) != store sidecar (${persisted.fingerprint})"))
    VersionedStore.appendNonEmpty(spark, table,
      assign(df, embCol, persisted), partitionBy = Seq("cluster_id"),
      marker = Some(persisted.fingerprint))
  }
}
