package graft.ops

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Trained quality classifier over hashed bag-of-words features — the
  * CCNet / LLaMA-pipeline "fastText quality gate" re-expressed
  * relationally: logistic regression on 12-bit md5 feature buckets,
  * fit by full-batch gradient descent INSIDE the engine, then applied
  * as a scoring join. Where [[Importance]] (DSIR) ranks documents by a
  * closed-form generative log-ratio, this op LEARNS the discriminator
  * from labeled examples, which is what production crawls actually run
  * (reference context: the quality gates around ingest,
  * /root/reference/src/server/utils/embedding.py:296-304 — the
  * reference outsources "is this worth embedding" to upstream
  * curation; this operator is that upstream step).
  *
  * Engine-portability: features are the [[Importance.tokenBucket]]
  * md5-prefix buckets (4096) plus a bias bucket −1; `x` is the
  * document-normalized term frequency `cnt / n_tokens`. Each GD step
  * rounds the weight vector to 6 decimals — a quantized per-iteration
  * checkpoint — so the ENTIRE training trajectory is replayable
  * bit-for-bit by any SQL engine as K unrolled CTE iterations (the
  * pagerank/BPE unrolled-iteration oracle pattern): last-ulp float-sum
  * divergence cannot compound across steps because every step re-bases
  * on the rounded vector.
  *
  * Scale shape: the model is ≤4097 weights (4096 buckets + bias), so
  * the fit holds it as a dense array on the driver and broadcasts it.
  * The corpus-sized work runs once per fit: tokenizing, the
  * per-document feature agg (keyed by id) and the label join build one
  * persisted `(y, buckets, x)` row per document. Each GD step is then
  * one Spark action — a `treeAggregate` of the dense gradient over
  * those rows — with no query planned per step; the weight update is
  * 4097 driver-side roundings.
  */
object Classifier {

  /** Hashed features of `df`: one `(idCol, b, x)` row per distinct
    * md5 bucket per document (`x` = bucket count / doc token count)
    * plus a bias row `(idCol, −1, 1.0)` for EVERY document — so a
    * tokenless document still scores (at the bias prior) instead of
    * silently dropping out of the gate.
    */
  def hashedFeatures(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tb = df
      .select(col(idCol).as("__id"),
        explode(filter(TextAnalysis.tokens(col(textCol)),
          t => length(t) > 0)).as("__tok"))
      .withColumn("__b", Importance.tokenBucket(col("__tok")))
    val nd = tb.groupBy(col("__id")).agg(count(lit(1)).as("__n"))
    val tokFeat = tb.groupBy(col("__id"), col("__b"))
      .agg(count(lit(1)).as("__c"))
      .join(nd, Seq("__id"))
      .select(col("__id"), col("__b"),
        (col("__c").cast("double") / col("__n")).as("__x"))
    val biasFeat = df.select(col(idCol).as("__id")).distinct()
      .select(col("__id"), lit(-1).as("__b"), lit(1.0).as("__x"))
    tokFeat.unionByName(biasFeat)
  }

  /** Dense weight/gradient width: bucket `b` ∈ [−1, 4095] at index `b + 1`. */
  private val Width = 4097

  /** Fit logistic-regression weights on `labeled` (`labelCol` ∈ {0, 1})
    * by `iters` full-batch GD steps at learning rate `lr` (scaled by
    * 1/N, N = labeled rows). Returns `(b INT, w DOUBLE)` — a local frame
    * of ≤4097 rows, weights rounded to 6 decimals (the
    * replayable-checkpoint contract).
    *
    * Each step: p_d = σ(Σ_b w_b·x_db); g_b = Σ_d (p_d − y_d)·x_db;
    * w ← round(w − (lr/N)·g, 6). Zero-init makes step 1's
    * probabilities exactly 0.5 in every engine. The model's bucket
    * domain is the buckets of the trained documents; each one gets a
    * gradient every step.
    *
    * Shape (see the object doc): one persisted `(y, buckets, x)` row
    * per document; each step broadcasts the weights as a dense
    * `Array[Double]` and runs ONE `treeAggregate` of `(p − y)·x` into a
    * dense gradient. The logit sums in array order and the gradient in
    * partition order, not a grouped SQL sum's order, so either may
    * differ from another engine's in the last ulp. `round(·, 6)` maps
    * both to the same weight unless the pre-round value lies within an
    * ulp of a half-micro boundary, and the next step reads only the
    * rounded vector, so no difference compounds.
    *
    * Refuses (IllegalArgumentException naming `labelCol`) a null label:
    * its `(p − y)` would be null, so the document would drop out of
    * every gradient sum and a bucket seen only in null-label documents
    * would train to a null weight. A row with a null id is counted in N
    * but not trained on (its features join no label).
    */
  def fitLogReg(labeled: DataFrame, idCol: String, textCol: String,
                labelCol: String, iters: Int = 3, lr: Double = 5.0): DataFrame = {
    require(iters >= 1, s"iters must be >= 1 (got $iters)")
    require(lr > 0, s"lr must be > 0 (got $lr)")
    val spark = labeled.sparkSession
    val ydf = labeled
      .select(col(idCol).as("__id"), col(labelCol).cast("double").as("__y"))
    val counts = ydf
      .agg(count(lit(1)), count(when(col("__y").isNull, lit(1)))).head()
    val n = counts.getLong(0)
    require(n > 0, "no labeled rows")
    require(counts.getLong(1) == 0,
      s"label column '$labelCol' has ${counts.getLong(1)} null value(s)")
    val step = lr / n
    val rows = hashedFeatures(labeled, idCol, textCol)
      .groupBy(col("__id"))
      .agg(collect_list(struct(col("__b"), col("__x"))).as("__f"))
      .join(ydf, Seq("__id"))
      .select(col("__y"), col("__f.__b"), col("__f.__x"))
      .rdd
      .map(r => (r.getDouble(0), r.getSeq[Int](1).toArray, r.getSeq[Double](2).toArray))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var w = new Array[Double](Width)
    var seen = new Array[Boolean](Width)
    try {
      for (_ <- 1 to iters) {
        val bw = spark.sparkContext.broadcast(w)
        val (g, s) = try gradient(rows, bw) finally bw.destroy()
        // a bucket no document has keeps g = 0, so its weight stays 0.0
        w = w.zip(g).map { case (wb, gb) => round6(wb - step * gb) }
        seen = s
      }
    } finally rows.unpersist()
    import spark.implicits._
    (0 until Width).filter(i => seen(i)).map(i => (i - 1, w(i))).toDF("b", "w")
  }

  /** One GD step over the training rows under broadcast weights `bw`:
    * the dense gradient, and which buckets occur in any row.
    */
  private def gradient(rows: RDD[(Double, Array[Int], Array[Double])],
                       bw: Broadcast[Array[Double]]): (Array[Double], Array[Boolean]) =
    rows.treeAggregate((new Array[Double](Width), new Array[Boolean](Width)))(
      (acc, row) => {
        val (g, seen) = acc
        val (y, bs, xs) = row
        val w = bw.value
        var s = 0.0
        var k = 0
        while (k < bs.length) { s += w(bs(k) + 1) * xs(k); k += 1 }
        val r = 1.0 / (1.0 + StrictMath.exp(-s)) - y
        k = 0
        while (k < bs.length) {
          g(bs(k) + 1) += r * xs(k)
          seen(bs(k) + 1) = true
          k += 1
        }
        acc
      },
      (a, b) => {
        var i = 0
        while (i < Width) {
          a._1(i) += b._1(i)
          a._2(i) |= b._2(i)
          i += 1
        }
        a
      })

  /** Spark's `round(v, 6)` on a double: HALF_UP on its shortest decimal form. */
  private def round6(v: Double): Double =
    if (v.isNaN || v.isInfinite) v
    else BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Score `df` under trained `weights` — `(idCol, prob)` with prob
    * rounded to 6 decimals; buckets the model never saw contribute 0
    * (left join), so scoring a NEW corpus under a model trained
    * elsewhere is well-defined. The weights broadcast; the corpus
    * never shuffles except the per-document feature agg.
    */
  def score(df: DataFrame, idCol: String, textCol: String,
            weights: DataFrame): DataFrame = {
    hashedFeatures(df, idCol, textCol)
      .join(broadcast(weights.select(col("b").as("__b"), col("w").as("__w"))),
        Seq("__b"), "left")
      .groupBy(col("__id"))
      .agg(round(lit(1.0) / (lit(1.0) +
        exp(-sum(coalesce(col("__w"), lit(0.0)) * col("__x")))), 6).as("prob"))
      .select(col("__id").as(idCol), col("prob"))
  }

  /** Collect a trained weight frame into the literal map
    * [[scoreMapSide]] embeds — bounded by construction (≤4097 rows).
    */
  def collectWeights(weights: DataFrame): Map[Int, Double] =
    weights.select(col("b").cast("int"), col("w").cast("double"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap

  /** Reliability table for a scored, labeled frame — the calibration
    * check every deployed quality gate needs before its probabilities
    * are used as thresholds: `prob` binned into `bins` equal-width
    * bins, per bin the count, mean predicted probability, observed
    * positive fraction, their absolute gap, and the global expected
    * calibration error (ECE = Σ nᵢ·gapᵢ / N, identical on every row).
    * Bounded output (≤ bins rows); one aggregation over the scored
    * frame.
    */
  def calibrationTable(scored: DataFrame, probCol: String, labelCol: String,
                       bins: Int = 10): DataFrame = {
    require(bins >= 2, s"bins must be >= 2 (got $bins)")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    scored
      .withColumn("__bin",
        least(floor(col(probCol) * bins), lit(bins - 1)).cast("int"))
      .groupBy(col("__bin").as("bin"))
      // frac_pos is an exact integer ratio (tie-capable at a round
      // boundary) and gap/ECE chain off it — the whole table leaves as
      // integer micros (Tables.micros floor pin), keeping every
      // downstream op exact integer arithmetic: gap is an integer
      // difference, ECE an integer-valued double division both engines
      // floor identically. avg_prob's pre-pin sum is order-sensitive in
      // its last ulp either way; the pin absorbs it exactly as round did.
      .agg(count(lit(1)).as("n"),
        graft.Tables.micros(avg(col(probCol))).as("avg_prob_micros"),
        graft.Tables.micros(avg(col(labelCol).cast("double")))
          .as("frac_pos_micros"))
      .withColumn("gap_micros",
        abs(col("avg_prob_micros") - col("frac_pos_micros")))
      .withColumn("ece_micros",
        floor(sum(col("n") * col("gap_micros")).over(w).cast("double") /
          sum(col("n")).over(w).cast("double")).cast("long"))
  }

  /** Shuffle-FREE scoring — the serving/streaming path. Because
    * `x_b = cnt_b / n`, the logit telescopes to
    * `bias + (Σ_tokens w_bucket(tok)) / n`: one fold over the row's own
    * token array against an embedded weight map, no explode, no
    * aggregation, no exchange. Safe in Structured Streaming append mode
    * (stateless narrow map) and the shape a 1000-executor scoring pass
    * wants — the model rides the plan, the corpus never shuffles.
    * Agrees with [[score]] up to the last ulp of the pre-round logit
    * (the fold visits tokens in document order; the grouped sum is
    * partial-aggregation order).
    */
  def scoreMapSide(df: DataFrame, idCol: String, textCol: String,
                   weights: Map[Int, Double]): DataFrame = {
    val bias = weights.getOrElse(-1, 0.0)
    val wmap = typedlit(weights.filter { case (b, _) => b >= 0 })
    val toks = filter(TextAnalysis.tokens(col(textCol)), t => length(t) > 0)
    val s = aggregate(toks, lit(0.0),
      (acc, t) => acc + coalesce(wmap(Importance.tokenBucket(t)), lit(0.0)))
    val logit = when(size(toks) > 0, s / size(toks)).otherwise(lit(0.0)) +
      lit(bias)
    df.select(col(idCol),
      round(lit(1.0) / (lit(1.0) + exp(-logit)), 6).as("prob"))
  }
}
