package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** Int8 scalar quantization for the embedding column — the scan-IO lever
  * the float vector path lacks at 100 TB. The embedding column dominates
  * a vector store's bytes (dim × 4 per row); quantizing it per vector to
  * `ARRAY<TINYINT>` plus two float parameters cuts the candidate scan to
  * ~¼ of the bytes, and the exact float column is then touched only for
  * the overfetched candidate set through an id-pruned scan. This is the
  * standard SQ8 coarse-then-rescore shape (e.g. FAISS's scalar
  * quantizer; the reference's Oracle HNSW index likewise serves from a
  * compressed structure and rescans rows only for results) re-expressed
  * as two Spark scans over one parquet store:
  *
  *   1. '''coarse''': scan ONLY `(id, emb_q, emb_qmin, emb_qscale,
  *      emb_qnorm)` (column pruning keeps the float column out of the
  *      read schema — spec-asserted), score the dequantized
  *      approximation with a codegen'd dot product, keep the top
  *      `k × overfetch` per the metric's ordering;
  *   2. '''rescore''': scan `(id, emb)` for exactly those candidate ids
  *      (a literal IN predicate — row-group pruning at the file index),
  *      score exactly, return the top `k`.
  *
  * The result EQUALS exact [[Similarity.knn]] whenever the true top-k
  * survives the coarse cut — per-vector int8 keeps relative ranks close,
  * so modest overfetch (default 4×) covers it; the parity query
  * `knn_quantized_rescore` shares the exact kNN oracle, making any
  * fixture-visible rank loss a loud correctness failure rather than a
  * silent recall drop.
  */
object Quantize {

  /** Quantization parameters + codes for `embCol`, appended as four
    * columns (the float column is kept — the rescore path needs it):
    *
    *   - `<emb>_qmin FLOAT`, `<emb>_qscale FLOAT`: per-vector affine
    *     range, `value ≈ qmin + (code + 128) · qscale`;
    *   - `<emb>_q ARRAY<TINYINT>`: codes in [-128, 127];
    *   - `<emb>_qnorm FLOAT`: L2 norm of the DEQUANTIZED vector — the
    *     coarse cosine/euclidean denominators come from the same
    *     approximation the dot product uses, so coarse scores are
    *     internally consistent.
    *
    * A constant vector (max = min) quantizes to all -128 with scale 0
    * and dequantizes exactly to qmin. Null embeddings yield null codes
    * (same contract as [[Ivf.assign]]).
    */
  def withQuantized(df: DataFrame, embCol: String): DataFrame = {
    val mn = array_min(col(embCol))
    val scale = ((array_max(col(embCol)) - mn) / lit(255.0f)).cast("float")
    val codes = transform(col(embCol), v =>
      least(greatest(round((v - col(s"${embCol}_qmin")) / col(s"${embCol}_qscale")) - 128,
        lit(-128)), lit(127)).cast("byte"))
    val deq = (q: Column) =>
      col(s"${embCol}_qmin") + (q.cast("double") + lit(128.0d)) * col(s"${embCol}_qscale")
    df.withColumn(s"${embCol}_qmin", mn)
      .withColumn(s"${embCol}_qscale", scale)
      .withColumn(s"${embCol}_q",
        when(col(s"${embCol}_qscale") === 0.0f,
          transform(col(embCol), _ => lit(-128).cast("byte")))
          .otherwise(codes))
      .withColumn(s"${embCol}_qnorm",
        sqrt(aggregate(col(s"${embCol}_q"), lit(0.0d),
          (acc, q) => acc + deq(q) * deq(q))).cast("float"))
  }

  private def ordering(metric: String, score: Column): Column = metric match {
    case "EUCLIDEAN_DISTANCE" => score.asc
    case _                    => score.desc
  }

  /** Coarse top-`n` candidates scored on the quantized columns only.
    * The dot product against the int8 codes distributes over the affine
    * dequantization, so per row it is ONE codegen'd integer-array dot
    * plus two multiply-adds:
    * `approxDot = qscale · (dot(qv, q) + 128 · Σqv) + qmin · Σqv`.
    */
  private[graft] def coarseCandidates(store: DataFrame, idCol: String, embCol: String,
                                      queryVec: Array[Float], n: Int,
                                      metric: String): DataFrame = {
    val needed = Seq(s"${embCol}_q", s"${embCol}_qmin", s"${embCol}_qscale", s"${embCol}_qnorm")
    require(needed.forall(store.columns.contains),
      s"store lacks ${needed.mkString(", ")} — write it through Quantize.withQuantized first")
    val sQv = queryVec.map(_.toDouble).sum
    val qvNorm = math.sqrt(queryVec.map(v => v.toDouble * v.toDouble).sum)
    val dotInt = VectorFunctions.dotProduct(
      col(s"${embCol}_q").cast("array<float>"), VectorFunctions.vector(queryVec))
    val approxDot = col(s"${embCol}_qscale").cast("double") * (dotInt + lit(128.0d * sQv)) +
      col(s"${embCol}_qmin").cast("double") * lit(sQv)
    val qn = col(s"${embCol}_qnorm").cast("double")
    val approx = metric match {
      case "COSINE" =>
        when(qn === 0.0d || lit(qvNorm) === 0.0d, lit(0.0d))
          .otherwise(approxDot / (qn * lit(qvNorm)))
      case "DOT_PRODUCT" => approxDot
      case "EUCLIDEAN_DISTANCE" =>
        sqrt(greatest(qn * qn - lit(2.0d) * approxDot + lit(qvNorm * qvNorm), lit(0.0d)))
      case other => throw new IllegalArgumentException(s"unknown metric: $other")
    }
    store
      .select((idCol +: needed).map(col): _*)
      .withColumn("__approx", approx)
      .filter(col("__approx").isNotNull)
      .orderBy(ordering(metric, col("__approx")), col(idCol))
      .limit(n)
  }

  /** The quantization marker sidecar inside a [[VersionedStore]] table
    * (underscore-named: invisible to the file index). Its CONTENT is the
    * quantized embedding column's name — [[Ingest.appendRespectingLayout]]
    * reads it to quantize incoming rows, so appends keep the store
    * searchable by [[knnQuantizedRescore]].
    */
  def markerPath(table: String): String = s"$table/_sq8"

  /** Quantize a [[VersionedStore]] table in place: rewrite the live rows
    * with the four quantization columns through the store's race-safe
    * compaction swap, then persist the marker — the same
    * rewrite-then-sidecar order as [[Ivf.indexStore]], so a lost
    * compaction race cannot leave a marker describing columns the table
    * does not have. An IVF-indexed store keeps its cluster-partitioned
    * layout (and its per-segment model stamp) through the rewrite — the
    * two layouts compose in either order. After this, every append
    * through [[Ingest.appendRespectingLayout]] carries the quantized
    * columns automatically (a bare append of unquantized rows would
    * make the strict union fail every read).
    */
  def quantizeStore(spark: org.apache.spark.sql.SparkSession, table: String,
                    embCol: String, rowsPerFile: Long = 1L << 20): Unit = {
    val layout = Ivf.layoutOf(spark, table)
    val preVersion = VersionedStore.currentState(spark, table).map(_.version).getOrElse(0L)
    val (post, nFiles) = VersionedStore.compact(spark, table, rowsPerFile,
      reshape = withQuantized(_, embCol),
      partitionBy = layout.partitionBy, marker = layout.marker)
    require(nFiles > 0,
      s"quantizeStore lost a concurrent-compaction race at $table; retry")
    graft.Fs.writeString(spark, markerPath(table), embCol)
    // the rewrite adds code columns but preserves rows — restamp (or
    // rebuild) registered sidecars so their serving survives
    SidecarRegistry.afterRewrite(spark, table, preVersion, post, nFiles)
  }

  /** Batch SQ8 serving: every query's top-k in ONE codes-only corpus
    * scan (per query batch). Pairing mirrors [[Ivf.searchBatch]]: with
    * `ivf = Some((model, nProbe))` the scan carries a static
    * `cluster_id IN (union of probed cells)` predicate (partition
    * pruning on an indexed store) and a broadcast equi-join pairs each
    * row with exactly the queries probing its cell; without a model
    * the bounded query batch cross-broadcasts over the codes scan. The
    * coarse score is the SAME affine-dot arithmetic as the
    * single-query [[coarseCandidates]] (the per-query scalars `Σqv`,
    * `128·Σqv`, `‖q‖` ride the broadcast as columns), the bounded-rank
    * tail cuts to `k × overfetch` per query, and one rescore join
    * reads floats for exactly those candidates. At full probe + a
    * corpus-covering overfetch this equals exact
    * [[Similarity.similarityJoin]] per query.
    */
  def searchBatch(queries: DataFrame, store: DataFrame,
                  queryIdCol: String, queryEmbCol: String,
                  corpusIdCol: String, embCol: String,
                  topK: Int, metric: String = "COSINE", overfetch: Int = 4,
                  ivf: Option[(Ivf.IvfModel, Int)] = None,
                  clusterCol: String = "cluster_id",
                  scoreName: String = "score", rankName: String = "rank",
                  storePath: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    require(topK >= 1 && overfetch >= 1)
    ivf.foreach { case (m, _) =>
      storePath.foreach(p => Ivf.requireModelMatch(store.sparkSession, p, m))
    }
    val needed = Seq(s"${embCol}_q", s"${embCol}_qmin", s"${embCol}_qscale",
      s"${embCol}_qnorm")
    require(needed.forall(store.columns.contains),
      s"store lacks ${needed.mkString(", ")} — write it through Quantize.withQuantized first")
    val qdf = queries.select(col(queryIdCol), col(queryEmbCol))
    val qRows = new java.util.ArrayList[Row]()
    qdf.collect().foreach { r =>
      if (!r.isNullAt(1)) {
        val qv = r.getSeq[Float](1).toArray
        val sQv = qv.map(_.toDouble).sum
        val qvNorm = math.sqrt(qv.map(v => v.toDouble * v.toDouble).sum)
        ivf match {
          case Some((m, np)) =>
            m.probeOrder(qv).take(math.max(1, math.min(np, m.k)))
              .foreach(cl => qRows.add(
                Row(r.get(0), r.get(1), cl, sQv, 128.0d * sQv, qvNorm)))
          case None =>
            qRows.add(Row(r.get(0), r.get(1), -1, sQv, 128.0d * sQv, qvNorm))
        }
      }
    }
    val qSchema = StructType(qdf.schema.fields ++ Seq(
      StructField("__probe", IntegerType, nullable = false),
      StructField("__sqv", DoubleType, nullable = false),
      StructField("__sqv128", DoubleType, nullable = false),
      StructField("__qnorm", DoubleType, nullable = false)))
    val probeDf = store.sparkSession.createDataFrame(qRows, qSchema)
      .withColumnRenamed(queryIdCol, "__qid")
      .withColumnRenamed(queryEmbCol, "__qemb")
    val pruned = ivf match {
      case Some(_) =>
        val union = (0 until qRows.size()).map(qRows.get(_).getInt(2)).distinct
        if (union.isEmpty) store.filter(lit(false))
        else store.filter(col(clusterCol).isin(union: _*))
      case None => store
    }
    val scanCols = (corpusIdCol +: needed) ++ ivf.map(_ => clusterCol).toSeq
    val paired = ivf match {
      case Some(_) => pruned.select(scanCols.map(col): _*)
        .join(broadcast(probeDf), col(clusterCol) === col("__probe"))
      case None => pruned.select(scanCols.map(col): _*)
        .crossJoin(broadcast(probeDf))
    }
    val dotInt = VectorFunctions.dotProduct(
      col(s"${embCol}_q").cast("array<float>"), col("__qemb"))
    val approxDot = col(s"${embCol}_qscale").cast("double") *
      (dotInt + col("__sqv128")) +
      col(s"${embCol}_qmin").cast("double") * col("__sqv")
    val qn = col(s"${embCol}_qnorm").cast("double")
    val approx = metric match {
      case "COSINE" =>
        when(qn === 0.0d || col("__qnorm") === 0.0d, lit(0.0d))
          .otherwise(approxDot / (qn * col("__qnorm")))
      case "DOT_PRODUCT" => approxDot
      case "EUCLIDEAN_DISTANCE" =>
        sqrt(greatest(qn * qn - lit(2.0d) * approxDot +
          col("__qnorm") * col("__qnorm"), lit(0.0d)))
      case other => throw new IllegalArgumentException(s"unknown metric: $other")
    }
    val coarse = paired
      .withColumn("__approx", approx)
      .filter(col("__approx").isNotNull)
      .select(col("__qid"), col(corpusIdCol), col("__approx"))
    val cands = Similarity.boundedRank(coarse, queryIdCol, corpusIdCol,
        topK * overfetch, metric, "__approx", "__crank")
      .select(col(queryIdCol).as("__qid"), col(corpusIdCol))
    val qemb = probeDf.select(col("__qid"), col("__qemb")).distinct()
    val rescored = pruned.select(col(corpusIdCol), col(embCol))
      .join(cands, corpusIdCol)
      .join(broadcast(qemb), "__qid")
      .withColumn(scoreName,
        VectorFunctions.score(metric)(col(embCol), col("__qemb")))
      .filter(col(scoreName).isNotNull)
      .select(col("__qid"), col(corpusIdCol), col(scoreName))
    Similarity.boundedRank(rescored, queryIdCol, corpusIdCol, topK, metric,
      scoreName, rankName)
  }

  /** Top-k nearest rows via the quantized coarse pass + exact rescore.
    * Output `(idCol, score)` exactly as [[Similarity.knn]] scores it —
    * identical to the exact path whenever the true top-k survives the
    * `k × overfetch` coarse cut. The candidate set is k × overfetch
    * bounded by contract; [[Similarity.pruneToCandidates]] compiles it
    * as an IN literal while small (parquet row-group pruning at the
    * scan) and as a broadcast semi-join beyond the literal-size cliff.
    */
  def knnQuantizedRescore(store: DataFrame, idCol: String, embCol: String,
                          queryVec: Array[Float], k: Int,
                          metric: String = "COSINE", overfetch: Int = 4,
                          scoreName: String = "score"): DataFrame = {
    require(k >= 1 && overfetch >= 1)
    val pruned = Similarity.pruneToCandidates(store, idCol,
      coarseCandidates(store, idCol, embCol, queryVec, k * overfetch, metric))
    pruned
      .select(col(idCol), col(embCol))
      .withColumn(scoreName, VectorFunctions.score(metric)(col(embCol), VectorFunctions.vector(queryVec)))
      .filter(col(scoreName).isNotNull)
      .orderBy(ordering(metric, col(scoreName)), col(idCol))
      .limit(k)
  }
}
