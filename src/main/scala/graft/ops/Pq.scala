package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** Product quantization (PQ) for the embedding column — the memory/IO
  * tier past [[Quantize]]'s SQ8. SQ8 keeps one code per DIMENSION
  * (dim bytes/vector); PQ keeps one code per SUBSPACE (`m` bytes/vector
  * at 256 centroids): the vector is split into `m` contiguous
  * sub-vectors, each encoded as the id of its nearest sub-codebook
  * centroid. At dim 64 / m 8 the candidate scan reads 8 bytes of codes
  * per row instead of 256 of floats — 32× — which is what makes a 100 TB
  * corpus's coarse pass tractable per query. This is the classic
  * IVF-ADC shape (Jégou et al., "Product Quantization for Nearest
  * Neighbor Search", TPAMI 2011; FAISS `IndexPQ`) re-expressed as two
  * Spark scans:
  *
  *   1. '''coarse (ADC)''': the query is turned into per-subspace
  *      lookup tables (`m × ncent` doubles, a driver literal); each
  *      row's approximate score is `m` literal-array lookups summed by
  *      a codegen'd `zip_with`/`aggregate` — the scan reads ONLY
  *      `(id, codes)`;
  *   2. '''rescore''': exactly as [[Quantize.knnQuantizedRescore]] —
  *      the float column is read for the `k × overfetch` surviving ids
  *      only, scored exactly, top `k` returned.
  *
  * Like the SQ8 path, the fixture query (`knn_pq_rescore`) shares the
  * exact kNN oracle: any fixture-visible rank loss from the coarse cut
  * is a loud correctness failure, and the recall/overfetch trade-off is
  * measured separately (SCALE.md sweep) instead of silently shipped.
  */
object Pq {

  /** `m` sub-codebooks of `ncent` centroids of `dsub` floats each. */
  final case class PqModel(codebooks: Array[Array[Array[Float]]]) {
    def m: Int = codebooks.length
    def ncent: Int = codebooks.headOption.map(_.length).getOrElse(0)
    def dsub: Int = codebooks.headOption.flatMap(_.headOption).map(_.length).getOrElse(0)
    def dim: Int = m * dsub
    /** Content digest — the cross-artifact compatibility stamp, same
      * contract as [[Ivf.IvfModel.fingerprint]].
      */
    lazy val fingerprint: String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      codebooks.foreach(_.foreach(c => md.update(c.mkString(",").getBytes("UTF-8"))))
      md.digest().map("%02x".format(_)).mkString
    }
  }

  def codesCol(embCol: String): String = s"${embCol}_pq"
  def modelPath(table: String): String = s"$table/_pq_model"
  /** Marker sidecar: content = the encoded embedding column's name
    * ([[Ingest.appendRespectingLayout]] reads it to encode incoming
    * rows, exactly the [[Quantize.markerPath]] contract).
    */
  def markerPath(table: String): String = s"$table/_pq"

  /** Deterministic PQ fit: `m` independent k-means (hash-seeded init,
    * `iters` Lloyd rounds — the [[Ivf.fit]] recipe per subspace) over
    * the sub-vector slices of a bounded deterministic sample. The
    * sample is a CACHED DataFrame, not a driver collect, so fitting
    * cost is flat in corpus size (codebook training on a bounded
    * sample is the standard PQ practice at scale) — and the m
    * sub-k-means are BATCHED: every Lloyd round is ONE job (each
    * sample row explodes to its m (subspace, cluster, sub-vector)
    * assignments, one VectorMean aggregation updates all m×ncent
    * centroids), not m separate assign+update jobs per round. At
    * production shapes (m=32-64) the per-subspace loop was ~100 Lloyd
    * jobs of pure scheduling overhead on a memory-resident sample;
    * the batched form is `iters` jobs total. Init is identical to the
    * per-subspace recipe: every subspace seeds from the SAME `ncent`
    * smallest-hash rows, sliced.
    */
  def fit(df: DataFrame, idCol: String, embCol: String, m: Int,
          ncent: Int = 16, iters: Int = 2, sampleN: Int = 1 << 16): PqModel = {
    require(m >= 1 && ncent >= 1 && ncent <= 256,
      "ncent must fit a byte code (<= 256)")
    graft.Tables.pinned(df.select(col(idCol), col(embCol))
        .filter(col(embCol).isNotNull)
        .orderBy(xxhash64(col(idCol)).asc, col(idCol))
        .limit(sampleN)) { sample =>
      val head = sample.select(col(embCol)).head(1)
      if (head.isEmpty) PqModel(Array.empty)
      else {
        val dim = head(0).getSeq[Float](0).length
        require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
        val dsub = dim / m
        val initRows = sample
          .orderBy(xxhash64(col(idCol)).asc, col(idCol)).limit(ncent)
          .select(col(embCol)).collect()
          .map(_.getSeq[Float](0).toArray)
        var books = Array.tabulate(m)(j =>
          initRows.map(r => r.slice(j * dsub, (j + 1) * dsub)))
        for (_ <- 0 until iters) {
          val subs = array((0 until m).map { j =>
            val sub = slice(col(embCol), j * dsub + 1, dsub)
            struct(lit(j).as("j"),
              VectorFunctions.nearestCentroids(sub, books(j), 1)
                .getItem(0).as("cid"),
              sub.as("sub"))
          }: _*)
          val means = sample.select(explode(subs).as("a"))
            .groupBy(col("a.j"), col("a.cid"))
            .agg(graft.functions.VectorMean.vectorMean(col("a.sub"), dsub).as("mean"))
            .collect()
          val next = books.map(_.map(identity)) // empty clusters keep centroids
          means.foreach { r =>
            val (j, cid) = (r.getInt(0), r.getInt(1))
            val mvec = r.getSeq[Any](2)
            val v = new Array[Float](dsub)
            var i = 0
            while (i < dsub) {
              mvec(i) match {
                case x: java.lang.Double => v(i) = x.toFloat
                case _ => // null element position keeps 0f (the Ivf.fit rule)
              }
              i += 1
            }
            next(j)(cid) = v
          }
          books = next
        }
        PqModel(books)
      }
    }
  }

  /** Append the codes column: per subspace, the nearest sub-centroid id
    * shifted to a byte (`cid - 128`) — `ARRAY<TINYINT>` of length `m`,
    * 1 byte per subspace per row on disk. Same narrow argmin as
    * [[Ivf.assign]]: ONE [[graft.functions.NearestCentroids]] per
    * subspace over its sliced sub-vector (m expressions total; the
    * m×ncent distance fan-out this replaced is a planner stall at
    * production PQ shapes like m=64, ncent=256 — 16k expressions),
    * identical (distance, cid) selection order; a NULL embedding
    * yields NULL codes.
    */
  def encode(df: DataFrame, embCol: String, model: PqModel): DataFrame = {
    require(model.m > 0, "empty PQ model")
    val codes = array((0 until model.m).map { j =>
      val sub = slice(col(embCol), j * model.dsub + 1, model.dsub)
      (VectorFunctions.nearestCentroids(sub, model.codebooks(j), 1).getItem(0)
        - 128).cast("byte")
    }: _*)
    df.withColumn(codesCol(embCol), when(col(embCol).isNotNull, codes))
  }

  private def ordering(metric: String, score: Column): Column = metric match {
    case "EUCLIDEAN_DISTANCE" => score.asc
    case _                    => score.desc
  }

  /** Per-query ADC lookup tables as driver literals. For the dot/cosine
    * family: `dot(j)(c) = <q_j, centroid_jc>` and the centroid norms
    * `nrm2(j)(c) = |centroid_jc|²` (the cosine denominator of the
    * RECONSTRUCTED vector — internally consistent with the numerator's
    * approximation, the [[Quantize]] qnorm principle). For euclidean:
    * `l2(j)(c) = |q_j - centroid_jc|²` summing to the exact squared
    * distance to the reconstruction.
    */
  private def luts(model: PqModel, queryVec: Array[Float])
      : (Seq[Seq[Double]], Seq[Seq[Double]], Seq[Seq[Double]]) = {
    val dot = model.codebooks.zipWithIndex.map { case (book, j) =>
      book.map { c =>
        var s = 0.0d; var i = 0
        while (i < model.dsub) { s += c(i).toDouble * queryVec(j * model.dsub + i); i += 1 }
        s
      }.toSeq
    }.toSeq
    val nrm2 = model.codebooks.map(_.map { c =>
      var s = 0.0d; var i = 0
      while (i < c.length) { s += c(i).toDouble * c(i); i += 1 }
      s
    }.toSeq).toSeq
    val l2 = model.codebooks.zipWithIndex.map { case (book, j) =>
      book.map { c =>
        var s = 0.0d; var i = 0
        while (i < model.dsub) {
          val d = c(i).toDouble - queryVec(j * model.dsub + i); s += d * d; i += 1
        }
        s
      }.toSeq
    }.toSeq
    (dot, nrm2, l2)
  }

  /** Coarse top-`n` candidate ids via ADC over the codes column only.
    * The per-query LUTs ride a BROADCAST 1-row frame (not plan
    * literals): baking m×256 doubles into the expression tree forced a
    * large codegen compile on every first execution (measured 18 s
    * worst-run cold-start vs 0.5 s steady-state) — as data, the plan is
    * query-independent and the JIT'd code is reused across queries.
    * Same doubles, same arithmetic, bit-identical scores (PqSpec pins
    * ADC ≡ reconstruction).
    */
  private[graft] def coarseCandidates(store: DataFrame, idCol: String, embCol: String,
                                      queryVec: Array[Float], n: Int,
                                      metric: String, model: PqModel): DataFrame = {
    val cc = codesCol(embCol)
    require(store.columns.contains(cc),
      s"store lacks $cc — write it through Pq.encode first")
    require(model.dim == queryVec.length,
      s"query dim ${queryVec.length} != model dim ${model.dim}")
    val spark = store.sparkSession
    import spark.implicits._
    val (dot, nrm2, l2) = luts(model, queryVec)
    val lutDf = broadcast(Seq((dot, nrm2, l2)).toDF("__dot", "__nrm2", "__l2"))
    val qvNorm = math.sqrt(queryVec.map(v => v.toDouble * v.toDouble).sum)
    val approx = metric match {
      case "COSINE" =>
        val d = adcSumCol(col(cc), col("__dot"))
        val rn = sqrt(adcSumCol(col(cc), col("__nrm2")))
        when(rn === 0.0d || lit(qvNorm) === 0.0d, lit(0.0d))
          .otherwise(d / (rn * lit(qvNorm)))
      case "DOT_PRODUCT" => adcSumCol(col(cc), col("__dot"))
      case "EUCLIDEAN_DISTANCE" =>
        sqrt(greatest(adcSumCol(col(cc), col("__l2")), lit(0.0d)))
      case other => throw new IllegalArgumentException(s"unknown metric: $other")
    }
    store
      .select(col(idCol), col(cc))
      .crossJoin(lutDf)
      .withColumn("__approx", approx)
      .filter(col("__approx").isNotNull)
      .orderBy(ordering(metric, col("__approx")), col(idCol))
      .limit(n)
      .select(col(idCol), col(cc), col("__approx"))
  }

  /** Top-k nearest rows via the ADC coarse pass + exact rescore —
    * output `(idCol, score)` exactly as [[Similarity.knn]] scores it,
    * identical to the exact path whenever the true top-k survives the
    * `k × overfetch` coarse cut. PQ codes are coarser than SQ8's, so
    * the default overfetch is wider; the candidate set is bounded by
    * contract and pruned via [[Similarity.pruneToCandidates]] (IN
    * literal while small, broadcast semi-join beyond the cliff).
    */
  def knnPqRescore(store: DataFrame, idCol: String, embCol: String,
                   queryVec: Array[Float], k: Int, model: PqModel,
                   metric: String = "COSINE", overfetch: Int = 8,
                   scoreName: String = "score"): DataFrame = {
    require(k >= 1 && overfetch >= 1)
    val pruned = Similarity.pruneToCandidates(store, idCol,
      coarseCandidates(store, idCol, embCol, queryVec, k * overfetch, metric, model))
    pruned
      .select(col(idCol), col(embCol))
      .withColumn(scoreName, VectorFunctions.score(metric)(col(embCol), typedlit(queryVec)))
      .filter(col(scoreName).isNotNull)
      .orderBy(ordering(metric, col(scoreName)), col(idCol))
      .limit(k)
  }

  // ------------------------------------------------------------------
  // Residual IVF-PQ: the composition that makes PQ useful WITHIN cells.
  // Plain PQ quantizes clustered corpora to their cell centroids and
  // loses in-cell ranking entirely (measured: recall@10 ~ 0 on the
  // clustered fixture at any overfetch — every in-cell point shares one
  // code word). Encoding the RESIDUAL v - centroid(cluster) instead
  // (Jégou et al. 2011, §IV; FAISS IndexIVFPQ) spends the whole
  // codebook on the in-cell jitter, so ADC distinguishes neighbors
  // inside the probed cells — the coarse quantizer (IVF) carries the
  // between-cell structure, PQ carries the within-cell structure.
  // ------------------------------------------------------------------

  /** The residual of `embCol` against the row's assigned IVF centroid
    * (`clusterCol` must already be assigned — [[Ivf.assign]]).
    */
  private def residualCol(embCol: String, clusterCol: String,
                          ivf: Ivf.IvfModel): Column = {
    val cents = typedlit(ivf.centroids.map(_.toSeq).toSeq)
    zip_with(col(embCol), element_at(cents, col(clusterCol) + 1),
      (v, c) => (v - c).cast("float"))
  }

  /** PQ codebooks fit on IVF residuals: assign (or reuse) cluster ids,
    * subtract each row's centroid, fit on the residual vectors. One
    * shared codebook across cells (the FAISS default) — per-cell
    * codebooks would multiply model size by k for marginal gain.
    */
  def fitResiduals(df: DataFrame, idCol: String, embCol: String,
                   ivf: Ivf.IvfModel, m: Int, ncent: Int = 16,
                   iters: Int = 2, sampleN: Int = 1 << 16): PqModel = {
    val assigned = Ivf.assign(df.select(col(idCol), col(embCol)), embCol, ivf)
    val resid = assigned
      .filter(col(embCol).isNotNull)
      .withColumn(embCol, residualCol(embCol, "cluster_id", ivf))
    fit(resid, idCol, embCol, m, ncent, iters, sampleN)
  }

  /** Append the residual codes column (`<emb>_pq`): the row's residual
    * against its assigned centroid, PQ-encoded. Requires `clusterCol`
    * (an IVF-layout store already carries it).
    */
  def encodeResiduals(df: DataFrame, embCol: String, clusterCol: String,
                      ivf: Ivf.IvfModel, model: PqModel): DataFrame = {
    val cc = codesCol(embCol)
    val withResid = df.withColumn(s"__resid_$embCol",
      when(col(embCol).isNotNull && col(clusterCol).isNotNull,
        residualCol(embCol, clusterCol, ivf)))
    encode(withResid, s"__resid_$embCol", model)
      .withColumn(cc, col(codesCol(s"__resid_$embCol")))
      .drop(s"__resid_$embCol", codesCol(s"__resid_$embCol"))
  }

  /** Coarse ADC over residual codes: the approximate reconstruction is
    * `centroid(cluster) + codebook(codes)`, so per probed cluster the
    * score decomposes into a per-cluster scalar (query vs centroid) and
    * the shared-LUT residual part, both driver literals:
    *
    *   - dot:    `<q, cent_cl> + Σ_j dotLUT(j)(code_j)`
    *   - cosine: the dot above over `|recon|`, where `|recon|² =
    *     |cent_cl|² + 2·Σ_j centDotLUT_cl(j)(code_j) + Σ_j nrm2LUT(j)(code_j)`
    *   - euclid: `|q - cent_cl|² - 2·Σ_j qcLUT_cl(j)(code_j) + Σ_j nrm2LUT(j)(code_j)`
    *     with `qcLUT_cl(j)(c) = <(q - cent_cl)_j, codebook_jc>`
    *
    * The per-cluster LUTs and scalars ride a BROADCAST 1-row frame
    * (`element_at` twice plus the zip_with sum on attribute references)
    * — not plan literals, for the same cold-start reason as
    * [[coarseCandidates]]: a k×m×256-double literal tree forced a large
    * first-run codegen compile; as data the plan is query-independent.
    */
  private[graft] def coarseResidualCandidates(store: DataFrame, idCol: String,
                                              embCol: String, clusterCol: String,
                                              queryVec: Array[Float], n: Int,
                                              metric: String, ivf: Ivf.IvfModel,
                                              model: PqModel): DataFrame = {
    val cc = codesCol(embCol)
    require(store.columns.contains(cc),
      s"store lacks $cc — write it through Pq.encodeResiduals first")
    val (_, nrm2, _) = luts(model, queryVec)
    val qvNorm = math.sqrt(queryVec.map(v => v.toDouble * v.toDouble).sum)
    // residual-space dot LUT: <q_j, codebook_jc> (query NOT shifted —
    // the centroid term is separated out)
    val dotQ = model.codebooks.zipWithIndex.map { case (book, j) =>
      book.map { c =>
        var s = 0.0d; var i = 0
        while (i < model.dsub) { s += c(i).toDouble * queryVec(j * model.dsub + i); i += 1 }
        s
      }.toSeq
    }.toSeq
    // per-cluster scalars and per-cluster residual LUTs
    val centDot = ivf.centroids.map { cent =>
      var s = 0.0d; var i = 0
      while (i < cent.length) { s += cent(i).toDouble * queryVec(i); i += 1 }
      s
    }
    val centNrm2 = ivf.centroids.map { cent =>
      var s = 0.0d; var i = 0
      while (i < cent.length) { s += cent(i).toDouble * cent(i); i += 1 }
      s
    }
    // <cent_cl_j, codebook_jc> per cluster — cosine's cross term
    val centDotBook: Seq[Seq[Seq[Double]]] = ivf.centroids.map { cent =>
      model.codebooks.zipWithIndex.map { case (book, j) =>
        book.map { c =>
          var s = 0.0d; var i = 0
          while (i < model.dsub) { s += c(i).toDouble * cent(j * model.dsub + i); i += 1 }
          s
        }.toSeq
      }.toSeq
    }.toSeq
    val cl = col(clusterCol)
    val codes = col(cc)
    val spark = store.sparkSession
    import spark.implicits._
    val qc2Scalars = centNrm2.zip(centDot)
      .map { case (n2, d) => n2 - 2.0d * d + qvNorm * qvNorm }.toSeq
    val lutDf = broadcast(Seq((
        dotQ, nrm2, centDotBook,
        centDot.toSeq, centNrm2.toSeq, qc2Scalars))
      .toDF("__dotq", "__nrm2", "__cdb", "__centdot", "__centnrm2", "__qc2"))
    def perClusterScalar(c: Column): Column = element_at(c, cl.cast("int") + 1)
    def perClusterLutSum(lut: Column): Column =
      aggregate(
        zip_with(codes, element_at(lut, cl.cast("int") + 1),
          (c, row) => element_at(row, c.cast("int") + 129)),
        lit(0.0d), (acc, x) => acc + x)
    val residDot = adcSumCol(codes, col("__dotq"))   // <q, rec_resid>
    val residNrm2 = adcSumCol(codes, col("__nrm2"))  // |rec_resid|²
    val approx = metric match {
      case "COSINE" =>
        val d = perClusterScalar(col("__centdot")) + residDot
        val rn2 = perClusterScalar(col("__centnrm2")) +
          lit(2.0d) * perClusterLutSum(col("__cdb")) + residNrm2
        val rn = sqrt(greatest(rn2, lit(0.0d)))
        when(rn === 0.0d || lit(qvNorm) === 0.0d, lit(0.0d))
          .otherwise(d / (rn * lit(qvNorm)))
      case "DOT_PRODUCT" => perClusterScalar(col("__centdot")) + residDot
      case "EUCLIDEAN_DISTANCE" =>
        // |q - cent - rec|² = |q - cent|² - 2<q - cent, rec> + |rec|²
        //                   = |q-cent|² - 2(<q,rec> - <cent,rec>) + |rec|²
        sqrt(greatest(
          perClusterScalar(col("__qc2")) -
            lit(2.0d) * (residDot - perClusterLutSum(col("__cdb"))) + residNrm2,
          lit(0.0d)))
      case other => throw new IllegalArgumentException(s"unknown metric: $other")
    }
    store
      .select(col(idCol), codes, cl)
      .crossJoin(lutDf)
      .withColumn("__approx", approx)
      .filter(col("__approx").isNotNull)
      .orderBy(ordering(metric, col("__approx")), col(idCol))
      .limit(n)
      .select(col(idCol), codes, cl, col("__approx"))
  }

  /** IVF-PQ serve: probe the `nProbe` nearest cells (partition pruning
    * on the IVF layout), rank the probed rows by residual ADC (codes +
    * cluster id only — no float reads), exact-rescore the `k ×
    * overfetch` survivors. The 100 TB read profile per query:
    * `nProbe/k` of the corpus's CODE bytes + `k × overfetch` float
    * rows.
    */
  def searchIvfPq(store: DataFrame, idCol: String, embCol: String,
                  queryVec: Array[Float], k: Int,
                  ivf: Ivf.IvfModel, model: PqModel,
                  nProbe: Int, metric: String = "COSINE",
                  overfetch: Int = 8, clusterCol: String = "cluster_id",
                  scoreName: String = "score"): DataFrame = {
    require(k >= 1 && nProbe >= 1 && overfetch >= 1)
    val probes = ivf.probeOrder(queryVec).take(nProbe).toSeq
    val probed = store.filter(col(clusterCol).isin(probes: _*))
    val pruned = Similarity.pruneToCandidates(probed, idCol,
      coarseResidualCandidates(probed, idCol, embCol, clusterCol,
        queryVec, k * overfetch, metric, ivf, model))
    pruned
      .select(col(idCol), col(embCol))
      .withColumn(scoreName, VectorFunctions.score(metric)(col(embCol), typedlit(queryVec)))
      .filter(col(scoreName).isNotNull)
      .orderBy(ordering(metric, col(scoreName)), col(idCol))
      .limit(k)
  }

  /** ADC sum where the lookup table is a per-row COLUMN (the batch
    * path: each broadcast probe row carries its query's LUT) instead of
    * a literal.
    */
  private def adcSumCol(codes: Column, lut: Column): Column =
    aggregate(
      zip_with(codes, lut, (c, row) => element_at(row, c.cast("int") + 129)),
      lit(0.0d), (acc, x) => acc + x)

  /** Batch residual IVF-PQ: every query's top-k in ONE codes-only scan.
    * The plan mirrors [[Ivf.searchBatch]] — a static `cluster_id IN
    * (union of probed cells)` predicate prunes partitions at the scan,
    * a broadcast equi-join on cluster id pairs each corpus row with
    * exactly the queries probing its cell — but the pairing rows carry
    * the query's ADC lookup tables and per-cluster scalars as COLUMNS,
    * so the coarse score is the same codegen'd zip_with/aggregate with
    * zero float reads. The bounded-rank tail cuts to `k × overfetch`
    * per query, and one rescore join reads floats for exactly those
    * candidate rows. Queries are collected to rank centroids and build
    * LUTs — the bounded-batch contract every batch path here rides on;
    * null-embedding queries drop like everywhere else.
    *
    * At `nProbe = ivf.k` and a corpus-covering `overfetch` this equals
    * exact [[Similarity.similarityJoin]] per query (the pin-to-exact
    * contract); at operating settings it reads `nProbe/k` of the
    * corpus's CODE bytes once for the whole batch instead of per query.
    */
  def searchIvfPqBatch(queries: DataFrame, store: DataFrame,
                       queryIdCol: String, queryEmbCol: String,
                       corpusIdCol: String, corpusEmbCol: String,
                       ivf: Ivf.IvfModel, model: PqModel,
                       topK: Int, nProbe: Int,
                       metric: String = "COSINE", overfetch: Int = 8,
                       clusterCol: String = "cluster_id",
                       scoreName: String = "score", rankName: String = "rank",
                       storePath: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    require(topK >= 1 && overfetch >= 1)
    storePath.foreach(p => Ivf.requireModelMatch(store.sparkSession, p, ivf))
    val p = math.max(1, math.min(nProbe, ivf.k))
    val cc = codesCol(corpusEmbCol)
    require(store.columns.contains(cc),
      s"store lacks $cc — write it through Pq.encodeResiduals first")
    val qdf = queries.select(col(queryIdCol), col(queryEmbCol))
    val probeRows = new java.util.ArrayList[Row]()
    qdf.collect().foreach { r =>
      if (!r.isNullAt(1)) {
        val qv = r.getSeq[Float](1).toArray
        val (dot, nrm2, _) = luts(model, qv)
        // residual-space dot LUT (query unshifted; centroid separated)
        val dotQ = model.codebooks.zipWithIndex.map { case (book, j) =>
          book.map { c =>
            var s = 0.0d; var i = 0
            while (i < model.dsub) { s += c(i).toDouble * qv(j * model.dsub + i); i += 1 }
            s
          }.toSeq
        }.toSeq
        val qvNorm = math.sqrt(qv.map(v => v.toDouble * v).sum)
        ivf.probeOrder(qv).take(p).foreach { cl =>
          val cent = ivf.centroids(cl)
          var cd = 0.0d; var cn = 0.0d; var i = 0
          while (i < cent.length) {
            cd += cent(i).toDouble * qv(i); cn += cent(i).toDouble * cent(i); i += 1
          }
          val lutCb = model.codebooks.zipWithIndex.map { case (book, j) =>
            book.map { c =>
              var s = 0.0d; var k2 = 0
              while (k2 < model.dsub) { s += c(k2).toDouble * cent(j * model.dsub + k2); k2 += 1 }
              s
            }.toSeq
          }.toSeq
          probeRows.add(Row(r.get(0), r.get(1), cl, dotQ, nrm2, lutCb,
            cd, cn, qvNorm, cn - 2.0d * cd + qvNorm * qvNorm))
        }
      }
    }
    val lutType = ArrayType(ArrayType(DoubleType, containsNull = false), containsNull = false)
    val probeSchema = StructType(qdf.schema.fields ++ Seq(
      StructField("__probe", IntegerType, nullable = false),
      StructField("__lutd", lutType), StructField("__lutn", lutType),
      StructField("__lutcb", lutType),
      StructField("__centdot", DoubleType, nullable = false),
      StructField("__centnrm2", DoubleType, nullable = false),
      StructField("__qnorm", DoubleType, nullable = false),
      StructField("__qc2", DoubleType, nullable = false)))
    val probeDf = store.sparkSession.createDataFrame(probeRows, probeSchema)
      .withColumnRenamed(queryIdCol, "__qid")
      .withColumnRenamed(queryEmbCol, "__qemb")
    val union = (0 until probeRows.size()).map(probeRows.get(_).getInt(2)).distinct
    val pruned =
      if (union.isEmpty) store.filter(lit(false))
      else store.filter(col(clusterCol).isin(union: _*))
    val codes = col(cc)
    val residDot = adcSumCol(codes, col("__lutd"))
    val residNrm2 = adcSumCol(codes, col("__lutn"))
    val centCb = adcSumCol(codes, col("__lutcb"))
    val approx = metric match {
      case "COSINE" =>
        val d = col("__centdot") + residDot
        val rn = sqrt(greatest(
          col("__centnrm2") + lit(2.0d) * centCb + residNrm2, lit(0.0d)))
        when(rn === 0.0d || col("__qnorm") === 0.0d, lit(0.0d))
          .otherwise(d / (rn * col("__qnorm")))
      case "DOT_PRODUCT" => col("__centdot") + residDot
      case "EUCLIDEAN_DISTANCE" =>
        sqrt(greatest(
          col("__qc2") - lit(2.0d) * (residDot - centCb) + residNrm2, lit(0.0d)))
      case other => throw new IllegalArgumentException(s"unknown metric: $other")
    }
    // coarse: codes-only scan, bounded-rank cut to k×overfetch per query
    val coarse = pruned
      .select(col(corpusIdCol), codes, col(clusterCol))
      .join(broadcast(probeDf), col(clusterCol) === col("__probe"))
      .withColumn("__approx", approx)
      .filter(col("__approx").isNotNull)
      .select(col("__qid"), col(corpusIdCol), col("__approx"))
    val cands = Similarity.boundedRank(coarse, queryIdCol, corpusIdCol,
        topK * overfetch, metric, "__approx", "__crank")
      .select(col(queryIdCol).as("__qid"), col(corpusIdCol))
    // rescore: floats for the candidate rows only, exact score, top k
    val qemb = probeDf.select(col("__qid"), col("__qemb")).distinct()
    val rescored = pruned
      .select(col(corpusIdCol), col(corpusEmbCol))
      .join(cands, corpusIdCol)
      .join(broadcast(qemb), "__qid")
      .withColumn(scoreName,
        VectorFunctions.score(metric)(col(corpusEmbCol), col("__qemb")))
      .filter(col(scoreName).isNotNull)
      .select(col("__qid"), col(corpusIdCol), col(scoreName))
    Similarity.boundedRank(rescored, queryIdCol, corpusIdCol, topK, metric,
      scoreName, rankName)
  }

  /** Batch plain-PQ (no IVF layout): every query's top-k in ONE
    * codes-only corpus scan — [[searchIvfPqBatch]] minus the centroid
    * decomposition. Each corpus row pairs with every query (the query
    * batch broadcasts with its per-query ADC LUTs as columns), the
    * coarse score is the same codegen'd `adcSumCol`, the bounded-rank
    * tail cuts to `k × overfetch` per query, and one rescore join
    * reads floats for exactly those candidates. At a corpus-covering
    * overfetch this equals exact [[Similarity.similarityJoin]] per
    * query (the pin-to-exact contract).
    */
  def knnPqRescoreBatch(queries: DataFrame, store: DataFrame,
                        queryIdCol: String, queryEmbCol: String,
                        corpusIdCol: String, corpusEmbCol: String,
                        model: PqModel, topK: Int,
                        metric: String = "COSINE", overfetch: Int = 8,
                        scoreName: String = "score",
                        rankName: String = "rank"): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    require(topK >= 1 && overfetch >= 1)
    val cc = codesCol(corpusEmbCol)
    require(store.columns.contains(cc),
      s"store lacks $cc — write it through Pq.encode first")
    val qdf = queries.select(col(queryIdCol), col(queryEmbCol))
    val qRows = new java.util.ArrayList[Row]()
    qdf.collect().foreach { r =>
      if (!r.isNullAt(1)) {
        val qv = r.getSeq[Float](1).toArray
        require(model.dim == qv.length,
          s"query dim ${qv.length} != model dim ${model.dim}")
        val (dot, nrm2, l2) = luts(model, qv)
        val qvNorm = math.sqrt(qv.map(v => v.toDouble * v.toDouble).sum)
        qRows.add(Row(r.get(0), r.get(1), dot, nrm2, l2, qvNorm))
      }
    }
    val lutType = ArrayType(ArrayType(DoubleType, containsNull = false), containsNull = false)
    val qSchema = StructType(qdf.schema.fields ++ Seq(
      StructField("__lutd", lutType), StructField("__lutn", lutType),
      StructField("__lutl2", lutType),
      StructField("__qnorm", DoubleType, nullable = false)))
    val probeDf = store.sparkSession.createDataFrame(qRows, qSchema)
      .withColumnRenamed(queryIdCol, "__qid")
      .withColumnRenamed(queryEmbCol, "__qemb")
    val codes = col(cc)
    val approx = metric match {
      case "COSINE" =>
        val d = adcSumCol(codes, col("__lutd"))
        val rn = sqrt(adcSumCol(codes, col("__lutn")))
        when(rn === 0.0d || col("__qnorm") === 0.0d, lit(0.0d))
          .otherwise(d / (rn * col("__qnorm")))
      case "DOT_PRODUCT" => adcSumCol(codes, col("__lutd"))
      case "EUCLIDEAN_DISTANCE" =>
        sqrt(greatest(adcSumCol(codes, col("__lutl2")), lit(0.0d)))
      case other => throw new IllegalArgumentException(s"unknown metric: $other")
    }
    val coarse = store.select(col(corpusIdCol), codes)
      .crossJoin(broadcast(probeDf))
      .withColumn("__approx", approx)
      .filter(col("__approx").isNotNull)
      .select(col("__qid"), col(corpusIdCol), col("__approx"))
    val cands = Similarity.boundedRank(coarse, queryIdCol, corpusIdCol,
        topK * overfetch, metric, "__approx", "__crank")
      .select(col(queryIdCol).as("__qid"), col(corpusIdCol))
    val qemb = probeDf.select(col("__qid"), col("__qemb"))
    val rescored = store.select(col(corpusIdCol), col(corpusEmbCol))
      .join(cands, corpusIdCol)
      .join(broadcast(qemb), "__qid")
      .withColumn(scoreName,
        VectorFunctions.score(metric)(col(corpusEmbCol), col("__qemb")))
      .filter(col(scoreName).isNotNull)
      .select(col("__qid"), col(corpusIdCol), col(scoreName))
    Similarity.boundedRank(rescored, queryIdCol, corpusIdCol, topK, metric,
      scoreName, rankName)
  }

  /** Persist the codebooks as text: line 1 `m ncent dsub fingerprint`,
    * then `m × ncent` space-separated centroid lines in subspace-major
    * order — the [[Ivf.saveModel]] portability contract.
    */
  def saveModel(spark: SparkSession, path: String, model: PqModel): Unit = {
    val body = s"${model.m} ${model.ncent} ${model.dsub} ${model.fingerprint}\n" +
      model.codebooks.flatMap(_.map(_.mkString(" "))).mkString("\n")
    graft.Fs.writeString(spark, path, body)
  }

  /** Load and integrity-check a [[saveModel]] file. */
  def loadModel(spark: SparkSession, path: String): PqModel = {
    val lines = graft.Fs.readString(spark, path).split("\n")
    val header = lines(0).split(" ")
    val (m, ncent, dsub) = (header(0).toInt, header(1).toInt, header(2).toInt)
    val flat = lines.drop(1).map(_.split(" ").map(_.toFloat))
    require(flat.length == m * ncent,
      s"PQ model at $path: expected ${m * ncent} centroid lines, got ${flat.length}")
    require(flat.forall(_.length == dsub),
      s"PQ model at $path: centroid width != $dsub")
    val model = PqModel(flat.grouped(ncent).toArray)
    require(model.fingerprint == header(3),
      s"PQ model at $path fails its fingerprint — corrupted or hand-edited")
    model
  }

  /** The `_pq` marker decoded: the encoded column name and whether the
    * codes are residuals against the store's IVF model.
    */
  final case class PqMarker(embCol: String, residual: Boolean)
  def readMarker(spark: SparkSession, table: String): Option[PqMarker] =
    if (!graft.Fs.exists(spark, markerPath(table))) None
    else {
      val parts = graft.Fs.readString(spark, markerPath(table)).trim.split("\\s+")
      Some(PqMarker(parts(0), parts.length > 1 && parts(1) == "residual"))
    }

  /** PQ-encode a [[VersionedStore]] table in place: fit on the live
    * rows, rewrite them with the codes column through the store's
    * race-safe compaction swap, then persist model + marker (the
    * [[Quantize.quantizeStore]] rewrite-then-sidecar order). On an
    * IVF-indexed table the codebook is fit on RESIDUALS and the codes
    * are residual codes — the coherent composition ([[searchIvfPq]]
    * serves it); the marker records the mode, so every append through
    * [[Ingest.appendRespectingLayout]] re-derives codes the same way.
    */
  def pqStore(spark: SparkSession, table: String, embCol: String, m: Int,
              ncent: Int = 16, iters: Int = 2, idCol: String = "id",
              rowsPerFile: Long = 1L << 20): PqModel = {
    val rows = VersionedStore.read(spark, table).getOrElse(
      throw new IllegalArgumentException(s"no store at $table"))
    val ivfModel =
      if (graft.Fs.exists(spark, Ivf.modelPath(table)))
        Some(Ivf.loadModel(spark, Ivf.modelPath(table)))
      else None
    val model = ivfModel match {
      case Some(ivf) => fitResiduals(rows, idCol, embCol, ivf, m, ncent, iters)
      case None      => fit(rows, idCol, embCol, m, ncent, iters)
    }
    val preVersion = VersionedStore.currentState(spark, table).map(_.version).getOrElse(0L)
    val (post, nFiles) = VersionedStore.compact(spark, table, rowsPerFile,
      reshape = df => ivfModel match {
        case Some(ivf) => encodeResiduals(df, embCol, "cluster_id", ivf, model)
        case None      => encode(df, embCol, model)
      },
      partitionBy = ivfModel.map(_ => Seq("cluster_id")).getOrElse(Nil),
      marker = ivfModel.map(_.fingerprint))
    require(nFiles > 0, s"pqStore lost a concurrent-compaction race at $table; retry")
    saveModel(spark, modelPath(table), model)
    graft.Fs.writeString(spark, markerPath(table),
      if (ivfModel.isDefined) s"$embCol residual" else embCol)
    Keyword.maintainRegisteredIndexAfterCompact(spark, table, preVersion, post, nFiles)
    Dedup.maintainRegisteredSidecarAfterCompact(spark, table, preVersion, post, nFiles)
    Dedup.maintainRegisteredSrpSidecarAfterCompact(spark, table, preVersion, post, nFiles)
    Sketch.maintainRegisteredHllSidecarAfterCompact(spark, table, preVersion, post, nFiles)
    model
  }
}
