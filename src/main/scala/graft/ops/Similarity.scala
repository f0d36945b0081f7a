package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** Vector-search operators (SURVEY.md §2.5 V2-V4, J4).
  *
  * The reference delegates these to Oracle's `VECTOR` search via OracleVS
  * (`src/server/agents/chatbot.py:183-210`); here they are declarative
  * DataFrame plans over an `ARRAY<FLOAT>` column so Catalyst keeps scan
  * pruning/codegen, and the single-query search generalizes to a batch
  * *similarity join* (query set × corpus) — the shape that matters at
  * 100 TB, where per-query loops would be driver-bound.
  *
  * Score convention: for COSINE and DOT_PRODUCT larger is better; for
  * EUCLIDEAN_DISTANCE smaller is better. `orderedScore` returns the score
  * column plus its sort ordering so every operator shares one definition.
  */
object Similarity {

  /** Metrics as declared by the reference (`src/common/schema.py:18`). */
  val Metrics = Seq("COSINE", "DOT_PRODUCT", "EUCLIDEAN_DISTANCE")

  private def ordering(metric: String, score: Column): Column = metric match {
    case "EUCLIDEAN_DISTANCE" => score.asc
    case _                    => score.desc
  }

  /** V2: top-k rows nearest to one query vector.
    *
    * Plan shape: narrow scan → codegen'd distance projection →
    * TakeOrderedAndProject (no shuffle of the corpus; the global top-k is
    * merged from per-partition top-ks). This is exactly the plan that
    * scales: at 1000 executors each partition computes its own top-k and
    * only k rows per partition reach the driver-side merge.
    */
  def knn(corpus: DataFrame, embCol: String, queryVec: Array[Float], k: Int,
          metric: String = "COSINE", scoreName: String = "score"): DataFrame =
    knnOf(corpus, embCol, VectorFunctions.vector(queryVec), k, metric, scoreName)

  /** [[knn]] with the query vector given as a column: a literal, or the
    * slot of a prepared plan ([[graft.PreparedPlans]]).
    */
  private[graft] def knnOf(corpus: DataFrame, embCol: String, queryVec: Column, k: Int,
                           metric: String, scoreName: String = "score"): DataFrame = {
    val score = VectorFunctions.score(metric)(col(embCol), queryVec)
    corpus
      .withColumn(scoreName, score)
      .orderBy(ordering(metric, col(scoreName)), col(corpus.columns.head))
      .limit(k)
  }

  /** Parent-document retrieval (the small-to-big RAG pattern): search
    * fine-grained CHUNK vectors for precision, return the top PARENT
    * documents for context. Fetches the `kChunks` nearest chunks, rolls
    * them up to their parents by best chunk score, and returns the top
    * `kParents` parents — `(parentIdCol, n_hit_chunks, best_score)`,
    * ranked on the 6dp-ROUNDED best score with a parent-id tiebreak
    * (the [[graft.ops.Keyword.bm25]] cut convention).
    *
    * Scale shape: the chunk search is [[knn]]'s per-partition top-k
    * merge (no corpus shuffle); everything after operates on the
    * kChunks-bounded hit set — driver-cheap at any corpus size.
    */
  def parentTopK(chunks: DataFrame, parentIdCol: String, embCol: String,
                 queryVec: Array[Float], kChunks: Int, kParents: Int,
                 metric: String = "COSINE"): DataFrame = {
    require(kChunks >= kParents, "fetch at least as many chunks as parents")
    knn(chunks, embCol, queryVec, kChunks, metric)
      .groupBy(col(parentIdCol))
      .agg(count(lit(1)).as("n_hit_chunks"),
        // metric scores are transcendental-derived (cosine/sqrt):
        // round(6) is the knn-score convention, tie measure zero
        round(if (metric == "EUCLIDEAN_DISTANCE") min(col("score"))
          else max(col("score")), 6).as("best_score"))
      .orderBy(ordering(metric, col("best_score")), col(parentIdCol))
      .limit(kParents)
  }

  /** V3 score normalization: map a raw metric score to a relevance in
    * [0,1] (larger = more relevant) so one threshold convention covers
    * all metrics. The reference inherits LangChain's convention and its
    * Oracle backend even raises NotImplementedError for thresholds
    * (`st_common.py:262-265`), so the engine defines and documents one:
    * COSINE → (1+cos)/2; EUCLIDEAN → 1/(1+dist); DOT_PRODUCT → sigmoid.
    */
  def relevance(metric: String, score: Column): Column = metric match {
    case "COSINE"             => (score + 1.0) / 2.0
    case "EUCLIDEAN_DISTANCE" => lit(1.0) / (score + 1.0)
    case "DOT_PRODUCT"        => lit(1.0) / (lit(1.0) + exp(-score))
    case other                => throw new IllegalArgumentException(s"unknown metric: $other")
  }

  /** V3: similarity search keeping only scores past a threshold
    * (reference `score_threshold`, `src/common/schema.py:177`). For
    * EUCLIDEAN the threshold is a max distance; otherwise a min score.
    */
  def scoreThreshold(corpus: DataFrame, embCol: String, queryVec: Array[Float],
                     threshold: Double, metric: String = "COSINE",
                     scoreName: String = "score"): DataFrame = {
    val score = VectorFunctions.score(metric)(col(embCol), VectorFunctions.vector(queryVec))
    val keep = if (metric == "EUCLIDEAN_DISTANCE") col(scoreName) <= threshold
               else col(scoreName) >= threshold
    corpus.withColumn(scoreName, score).filter(keep)
  }

  /** J4/north-star: batch similarity join — for every row of `queries`,
    * the top-k nearest rows of `corpus`.
    *
    * The query side is broadcast (it is the small side by construction:
    * a query batch), so the corpus is scanned exactly once with no
    * shuffle. Before the global ranking window, a per-partition bounded
    * top-k ([[LocalTopK]]) reduces each scan partition to at most
    * k rows per query, so the window's Exchange moves at most
    * k × |queries| × numPartitions rows — independent of corpus size
    * (a naive `row_number` window alone would shuffle the entire scored
    * corpus into query-id partitions). Rows with a null score are
    * dropped (a null embedding has no defined distance). `rankName` is
    * the 1-based pick order per query; ties break on `corpusIdCol`
    * ascending, which therefore must be Comparable and non-null.
    */
  def similarityJoin(queries: DataFrame, corpus: DataFrame,
                     queryIdCol: String, queryEmbCol: String,
                     corpusIdCol: String, corpusEmbCol: String,
                     k: Int, metric: String = "COSINE",
                     scoreName: String = "score", rankName: String = "rank"): DataFrame = {
    val q = queries.select(col(queryIdCol).as("__qid"), col(queryEmbCol).as("__qemb"))
    val score = VectorFunctions.score(metric)(col(corpusEmbCol), col("__qemb"))
    val scored = corpus
      .crossJoin(broadcast(q))
      .withColumn(scoreName, score)
      .filter(col(scoreName).isNotNull)
      .select(col("__qid"), col(corpusIdCol), col(scoreName))
    boundedRank(scored, queryIdCol, corpusIdCol, k, metric, scoreName, rankName)
  }

  /** IVF-bucketed top-k similarity join — the scale path when the QUERY
    * side is too large to broadcast (corpus×corpus linking, full-corpus
    * kNN graphs): both sides are assigned to an [[Ivf.IvfModel]]'s
    * cells, the query side to its `nProbe` NEAREST cells (the probe
    * fan-out), and candidates are generated by the (cell) equi-join —
    * Σ |q-cell|·|c-cell| pairwise work instead of |Q|·|C|, exactly the
    * SemDeDup trade applied to a join. At `nProbe = model.k` every pair
    * is considered and the result EQUALS [[similarityJoin]] rank for
    * rank (the pin-to-exact contract of `ann_ivf_full_probe`); at
    * partial probe, recall follows the measured nprobe sweep
    * (SCALE.md).
    *
    * Plan shape: one exchange per side keyed on the cell id
    * (SHUFFLE_HASH — embedding payloads never sort), then
    * [[boundedRank]]'s per-partition heap pre-prune. A corpus row
    * belongs to exactly ONE cell, so a (query, candidate) pair is
    * generated at most once — no dedup pass exists between the join
    * and the ranking. Null embeddings on either side drop: no cell,
    * no distance.
    */
  def ivfJoinTopK(queries: DataFrame, corpus: DataFrame,
                  queryIdCol: String, queryEmbCol: String,
                  corpusIdCol: String, corpusEmbCol: String,
                  model: Ivf.IvfModel, nProbe: Int, k: Int,
                  metric: String = "COSINE",
                  scoreName: String = "score", rankName: String = "rank"): DataFrame = {
    require(nProbe >= 1 && nProbe <= model.k,
      s"nProbe must be in [1, ${model.k}] (got $nProbe)")
    val q = probeCellsExploded(
      queries.select(col(queryIdCol).as("__qid"), col(queryEmbCol).as("__qemb")),
      "__qemb", model, nProbe, "__cell")
    val c = Ivf.assign(
        corpus.select(col(corpusIdCol), col(corpusEmbCol)), corpusEmbCol, model,
        clusterCol = "__cell")
      .filter(col("__cell").isNotNull)
    val score = VectorFunctions.score(metric)(col(corpusEmbCol), col("__qemb"))
    val scored = q.join(c.hint("SHUFFLE_HASH"), Seq("__cell"))
      .withColumn(scoreName, score)
      .filter(col(scoreName).isNotNull)
      .select(col("__qid"), col(corpusIdCol), col(scoreName))
    boundedRank(scored, queryIdCol, corpusIdCol, k, metric, scoreName, rankName)
  }

  /** Self-tuned corpus kNN graph in one call — the building block a
    * semantic-dedup / diversity / curriculum pass starts from: the IVF
    * model auto-fits under the k ∝ √N rule ([[Ivf.fitAuto]]), the
    * probe width tunes itself to `targetRecall` on a deterministic
    * self-sample ([[Ivf.tuneNProbe]]), and every row retrieves its `k`
    * nearest OTHER rows through the cell join. Output
    * `(idCol, rankName, neighborName, scoreName)` with self-pairs
    * removed and ranks recomputed 1..k over the survivors (the cell
    * join fetches k+1 so dropping self never starves a row; under
    * exact-duplicate ties self may not rank first, which is why the
    * re-rank exists instead of a drop-rank-1 shortcut).
    */
  def knnGraphAuto(corpus: DataFrame, idCol: String, embCol: String, k: Int,
                   targetRecall: Double = 0.95, metric: String = "COSINE",
                   maxSample: Int = 64,
                   neighborName: String = "neighbor_id",
                   scoreName: String = "score",
                   rankName: String = "rank"): DataFrame = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    val (model, _) = Ivf.fitAuto(corpus, idCol, embCol)
    val sample = corpus.select(col(idCol), col(embCol))
      .filter(col(embCol).isNotNull)
      .orderBy(xxhash64(col(idCol)).asc, col(idCol)).limit(maxSample)
      .select(col(idCol).as("__tqid"), col(embCol).as("__tqemb"))
    val (nProbe, _) = Ivf.tuneNProbe(corpus, idCol, embCol, model, sample,
      "__tqid", "__tqemb", k + 1, targetRecall, metric)
    val raw = ivfJoinTopK(
      corpus.select(col(idCol).as("__gqid"), col(embCol).as("__gqemb")),
      corpus, "__gqid", "__gqemb", idCol, embCol, model, nProbe, k + 1,
      metric, scoreName, "__rawrank")
    val w = Window.partitionBy(col("__gqid"))
      .orderBy(ordering(metric, col(scoreName)), col(idCol).asc)
    raw.filter(col("__gqid") =!= col(idCol))
      .withColumn(rankName, row_number().over(w))
      .filter(col(rankName) <= k)
      .select(col("__gqid").as(idCol + "_src"), col(rankName),
        col(idCol).as(neighborName), col(scoreName))
      .withColumnRenamed(idCol + "_src", idCol)
  }

  /** Prune `store` to a bounded candidate-id relation — the shared
    * rescore seam of the quantized serving ladder ([[Quantize]]/[[Pq]]).
    * Small sets compile to an `IN` literal, which parquet row-group
    * statistics can prune at the scan; beyond `maxInList` ids the
    * literal becomes a liability (a 16k-element IN is a 16k-node
    * predicate tree compiled into the plan), so the prune switches to a
    * broadcast LEFT SEMI join — same row set, plan size O(1). The
    * candidate relation is localCheckpointed once (it is k×overfetch
    * bounded by the caller's contract); ONE bounded
    * `limit(maxInList+1)` collect both sizes the set and supplies the
    * literal ids — no separate count job on the serving path.
    */
  private[ops] def pruneToCandidates(store: DataFrame, idCol: String,
                                     candidates: DataFrame,
                                     maxInList: Int = 1024): DataFrame = {
    val candIds = candidates.select(col(idCol)).localCheckpoint()
    val head = candIds.limit(maxInList + 1).collect()
    if (head.isEmpty) store.filter(lit(false))
    else if (head.length <= maxInList)
      store.filter(col(idCol).isin(head.map(_.get(0)).toSeq: _*))
    else store.join(broadcast(candIds), Seq(idCol), "left_semi")
  }

  /** Query-side probe fan-out shared by [[ivfJoinTopK]] and the IVF
    * bitext miner ([[Contrastive.mineBitextIvf]]): each row explodes
    * into its `nProbe` nearest cells, in deterministic (distance,
    * cell-id) order — [[graft.functions.NearestCentroids]] ranks the
    * whole centroid matrix in ONE expression with exactly the
    * (d, cid)-struct array_sort order the k-expression formulation
    * used (and the probeOrder the single-vector path uses); at
    * k = √N the per-row sort of k structs this replaced dominated the
    * probe wall. Null embeddings drop (no cell); every other column
    * passes through untouched.
    */
  private[ops] def probeCellsExploded(df: DataFrame, embCol: String,
                                      model: Ivf.IvfModel, nProbe: Int,
                                      cellCol: String): DataFrame =
    df.filter(col(embCol).isNotNull)
      .withColumn(cellCol, explode(graft.functions.VectorFunctions
        .nearestCentroids(col(embCol), model.centroids, nProbe)))

  /** Shared ranking tail of every batch retrieval ([[similarityJoin]],
    * [[Ivf.searchBatch]]): per-partition bounded top-k pre-prune
    * ([[LocalTopK]]) followed by the global per-query rank window.
    * `scored` must have exactly the columns (`__qid`, corpusIdCol,
    * scoreName) in that order; the pre-prune uses the window's exact
    * ordering, so it can never change the global result.
    */
  private[ops] def boundedRank(scored: DataFrame, queryIdCol: String,
                               corpusIdCol: String, k: Int, metric: String,
                               scoreName: String, rankName: String): DataFrame = {
    require(queryIdCol != corpusIdCol,
      s"query and corpus id columns must differ (both '$queryIdCol'): the output " +
        "would carry two identically-named columns that silently shadow each other " +
        "— alias one side before the join")
    val reduced = scored.mapPartitions(
      new LocalTopK(k, asc = metric == "EUCLIDEAN_DISTANCE", qidIdx = 0, idIdx = 1, scoreIdx = 2))(
      org.apache.spark.sql.Encoders.row(scored.schema))
    val w = Window.partitionBy(col("__qid"))
      .orderBy(ordering(metric, col(scoreName)), col(corpusIdCol))
    reduced
      .withColumn(rankName, row_number().over(w))
      .filter(col(rankName) <= k)
      .select(col("__qid").as(queryIdCol), col(rankName), col(corpusIdCol), col(scoreName))
  }

  /** Per-partition bounded top-k reducer for [[similarityJoin]]: keeps, for
    * every query id seen in a partition, the k best (score, id) rows under
    * exactly the final window's ordering (score per metric, then id
    * ascending), so pre-pruning can never change the global result. Memory
    * is O(|queries| × k) per partition — bounded, because the query side is
    * a broadcast batch.
    */
  private final class LocalTopK(k: Int, asc: Boolean, qidIdx: Int, idIdx: Int, scoreIdx: Int)
      extends (Iterator[org.apache.spark.sql.Row] => Iterator[org.apache.spark.sql.Row])
      with Serializable {
    import org.apache.spark.sql.Row
    // Orders rows by "badness": compare(a, b) > 0 iff a ranks strictly
    // after b in the final sort, so the priority queue's head is the
    // worst kept row (the one to evict).
    private val worstFirst: Ordering[Row] = new Ordering[Row] {
      def compare(a: Row, b: Row): Int = {
        val byScore =
          if (asc) java.lang.Double.compare(a.getDouble(scoreIdx), b.getDouble(scoreIdx))
          else java.lang.Double.compare(b.getDouble(scoreIdx), a.getDouble(scoreIdx))
        if (byScore != 0) byScore
        else a.get(idIdx).asInstanceOf[Comparable[Any]].compareTo(b.get(idIdx))
      }
    }
    def apply(rows: Iterator[Row]): Iterator[Row] = {
      val heaps = scala.collection.mutable.HashMap
        .empty[Any, scala.collection.mutable.PriorityQueue[Row]]
      rows.foreach { r =>
        val heap = heaps.getOrElseUpdate(r.get(qidIdx),
          scala.collection.mutable.PriorityQueue.empty[Row](worstFirst))
        if (heap.size < k) heap.enqueue(r)
        else if (worstFirst.compare(r, heap.head) < 0) { heap.dequeue(); heap.enqueue(r) }
      }
      heaps.valuesIterator.flatMap(_.iterator)
    }
  }

  /** V4: Maximal Marginal Relevance re-rank (reference
    * `src/server/agents/chatbot.py:199-206`): fetch `fetchK` candidates by
    * similarity, then greedily select `k` maximizing
    * `lambda*sim(q,d) - (1-lambda)*max_{s in S} sim(d,s)`.
    *
    * The greedy phase is inherently sequential, so it runs driver-side
    * over the collected candidates — bounded by the reference's own cap
    * (`fetch_k <= 10000`, `src/common/schema.py:180`); the fetch phase is
    * the distributed [[knn]]. Returns (id, mmr_rank, score) in pick order.
    */
  def mmr(corpus: DataFrame, idCol: String, embCol: String, queryVec: Array[Float],
          k: Int, fetchK: Int = 20, lambdaMult: Double = 0.5): Seq[(Long, Int, Double)] =
    mmrAny(corpus, idCol, embCol, queryVec, k, fetchK, lambdaMult)
      .map { case (id, r, s) => (id.asInstanceOf[Long], r, s) }

  /** [[mmr]] for any id type (chunk stores key on md5 strings): same
    * fetch, same greedy, ids passed through untouched.
    */
  def mmrAny(corpus: DataFrame, idCol: String, embCol: String, queryVec: Array[Float],
             k: Int, fetchK: Int = 20, lambdaMult: Double = 0.5): Seq[(Any, Int, Double)] = {
    require(fetchK <= 10000, "fetch_k capped at 10000 (reference schema.py:180)")
    val cand = knn(corpus.select(col(idCol), col(embCol)), embCol, queryVec, fetchK)
      .collect()
      .map(r => (r.get(0), r.getSeq[Float](1).toArray, r.getDouble(2)))
    mmrGreedy(cand, k, lambdaMult)
  }

  /** V4 batched: MMR re-rank for a whole query batch — the fetch phase is
    * ONE distributed [[similarityJoin]] (corpus scanned once for the
    * batch), and the greedy phase runs *inside executors*: candidates
    * shuffle once on query id, sort within partitions by (qid, fetch
    * rank), and a streaming mapPartitions runs the greedy per
    * consecutive group over ≤ fetchK rows each — so an evaluation
    * pipeline diversifies without a driver loop per question, and ids of
    * ANY type pass through untouched (md5-string chunk ids included; the
    * partition/sort replaces `groupByKey`, whose key encoder would pin
    * the id type). Per query this is byte-identical to [[mmr]] (same
    * fetch ordering and tiebreak, same [[mmrGreedy]] code). Returns
    * (queryIdCol, corpusIdCol, mmr_rank, score) in pick order per query.
    */
  def mmrBatch(queries: DataFrame, corpus: DataFrame,
               queryIdCol: String, queryEmbCol: String,
               corpusIdCol: String, corpusEmbCol: String,
               k: Int, fetchK: Int = 20, lambdaMult: Double = 0.5): DataFrame = {
    require(fetchK <= 10000, "fetch_k capped at 10000 (reference schema.py:180)")
    // fetch: distributed top-fetchK per query; candidate embeddings come
    // back via an equi-join on the (bounded) candidate set — AQE
    // broadcasts the k×|queries| side, the corpus is not re-shuffled
    val fetched = similarityJoin(queries, corpus, queryIdCol, queryEmbCol,
        corpusIdCol, corpusEmbCol, k = fetchK)
      .join(corpus.select(col(corpusIdCol), col(corpusEmbCol).as("__cemb")), corpusIdCol)
      .select(col(queryIdCol).as("__qid"), col("rank"),
        col(corpusIdCol).as("__cid"), col("score"), col("__cemb"))
    mmrRerankFetched(fetched, queryIdCol, corpusIdCol, k, lambdaMult)
  }

  /** The distributed greedy tail of [[mmrBatch]], reusable by any fetch
    * plan (e.g. an IVF-probed fetch in [[Chat.answerBatch]]): `fetched`
    * must carry exactly `(__qid, rank, __cid, score, __cemb)` — the
    * per-query candidates with their fetch rank and embeddings. One
    * shuffle on query id, in-partition sort by (qid, fetch rank), then a
    * streaming per-group greedy.
    */
  private[ops] def mmrRerankFetched(fetched: DataFrame, queryIdCol: String,
                                    corpusIdCol: String, k: Int,
                                    lambdaMult: Double): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, IntegerType, StructField, StructType}
    val kk = k
    val lm = lambdaMult
    val outSchema = StructType(Seq(
      StructField(queryIdCol, fetched.schema("__qid").dataType),
      StructField(corpusIdCol, fetched.schema("__cid").dataType),
      StructField("mmr_rank", IntegerType, nullable = false),
      StructField("score", DoubleType, nullable = false)))
    fetched
      .repartition(col("__qid"))
      .sortWithinPartitions(col("__qid"), col("rank"))
      .mapPartitions { it =>
        val buf = it.buffered
        new Iterator[Row] {
          private var out: Iterator[Row] = Iterator.empty
          def hasNext: Boolean = out.hasNext || buf.hasNext
          def next(): Row = {
            if (!out.hasNext) {
              // consecutive rows share a qid after the sort; candidate
              // order within the group is fetch-rank order, so greedy
              // tie-breaking matches the single-query path exactly
              val qid = buf.head.get(0)
              val cand = scala.collection.mutable.ArrayBuffer.empty[(Any, Array[Float], Double)]
              while (buf.hasNext && buf.head.get(0) == qid)  {
                val r = buf.next()
                cand += ((r.get(2), r.getSeq[Float](4).toArray, r.getDouble(3)))
              }
              out = mmrGreedy(cand.toArray, kk, lm)
                .map { case (id, rank, s) => Row(qid, id, rank, s) }.iterator
            }
            out.next()
          }
        }
      }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  private def cos(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1 }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  /** The sequential greedy MMR core shared by [[mmr]] (driver-side) and
    * [[mmrBatch]] (inside mapPartitions): candidates in fetch-rank order,
    * select argmax of `λ·rel − (1−λ)·max_sim_to_selected`, first-wins on
    * ties (iteration order = candidate order).
    */
  private[ops] def mmrGreedy[I](cand: Array[(I, Array[Float], Double)],
                                k: Int, lambdaMult: Double): Seq[(I, Int, Double)] = {
    if (cand.isEmpty) return Seq.empty
    val selected = scala.collection.mutable.ArrayBuffer[Int]()
    val remaining = scala.collection.mutable.LinkedHashSet(cand.indices: _*)
    while (selected.size < math.min(k, cand.length)) {
      val best = remaining.maxBy { i =>
        val rel = lambdaMult * cand(i)._3
        val div = if (selected.isEmpty) 0.0
                  else (1 - lambdaMult) * selected.map(s => cos(cand(i)._2, cand(s)._2)).max
        rel - div
      }
      selected += best
      remaining -= best
    }
    selected.zipWithIndex.map { case (i, rank) => (cand(i)._1, rank + 1, cand(i)._3) }.toSeq
  }
}
