package graft.ops

import java.security.MessageDigest

import scala.collection.immutable.ArraySeq

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** Trained quality classifier over hashed bag-of-words features — the
  * CCNet / LLaMA-pipeline "fastText quality gate" re-expressed
  * relationally: logistic regression on 12-bit md5 feature buckets,
  * fit by full-batch gradient descent INSIDE the engine, then applied
  * per document. Where [[Importance]] (DSIR) ranks documents by a
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
  * Scale shape: one row per document, one shuffle. Catalyst only
  * projects each row's id and its tokens ([[TextAnalysis.tokens]], so
  * Spark's trim/split semantics hold). The JVM drops empty tokens,
  * md5-buckets the rest and shuffles the buckets once by id; each id's
  * pooled buckets become one sparse feature row — the bias `(−1, 1.0)`
  * and `x_b = count_b / n` per distinct bucket. Ids pool under SQL's
  * grouping ([[groupKey]]). The model is ≤4097 weights, held as a dense
  * array on the driver and broadcast, so neither the fit nor the score
  * plans more than that one projection per call: a warm pass reuses
  * its generated code instead of compiling a feature plan again.
  */
object Classifier {

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
    * Shape (see the object doc): the buckets shuffle once by id, and
    * every labelled row becomes one persisted `(y, buckets, x)`
    * training row carrying its id's pooled features, so an id on k rows
    * trains k times on the same features. Each step broadcasts the
    * weights as a dense `Array[Double]` and runs ONE `treeAggregate` of
    * `(p − y)·x` into a dense gradient. The logit sums in bucket order
    * and the gradient in partition order, not a grouped SQL sum's
    * order, so either may differ from another engine's in the last
    * ulp. `round(·, 6)` maps both to the same weight unless the
    * pre-round value lies within an ulp of a half-micro boundary, and
    * the next step reads only the rounded vector, so no difference
    * compounds.
    *
    * Refuses (IllegalArgumentException naming `labelCol`) a null label:
    * its `(p − y)` would be null, so the document would drop out of
    * every gradient sum and a bucket seen only in null-label documents
    * would train to a null weight. A row with a null id is counted in N
    * but not trained on (a SQL join of its features to its label never
    * matches).
    */
  def fitLogReg(labeled: DataFrame, idCol: String, textCol: String,
                labelCol: String, iters: Int = 3, lr: Double = 5.0): DataFrame = {
    require(iters >= 1, s"iters must be >= 1 (got $iters)")
    require(lr > 0, s"lr must be > 0 (got $lr)")
    val spark = labeled.sparkSession
    val y = col(labelCol).cast("double")
    val counts = labeled.agg(count(lit(1)), count(when(y.isNull, lit(1)))).head()
    val n = counts.getLong(0)
    require(n > 0, "no labeled rows")
    require(counts.getLong(1) == 0,
      s"label column '$labelCol' has ${counts.getLong(1)} null value(s)")
    val step = lr / n
    val rows = byId(labeled, idCol, textCol, y)
      .flatMap { case (key, docs) =>
        if (key == null) Nil
        else {
          val (bs, xs) = features(docs.map(_._1))
          docs.map { case (_, label) => (label, bs, xs) }
        }
      }
      .persist(StorageLevel.MEMORY_AND_DISK) // an RDD pin, released in the finally below
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

  /** The type of `df`'s id column. Refuses (IllegalArgumentException
    * naming `idCol`) a type [[groupKey]] cannot group as SQL does:
    * nested types, and strings under a collation without binary
    * equality.
    */
  private def idType(df: DataFrame, idCol: String): DataType = {
    val t = df.select(col(idCol)).schema.head.dataType
    val groupable = t match {
      case s: StringType => s.collationId == StringType.collationId
      case BooleanType | BinaryType | DateType | TimestampType | TimestampNTZType => true
      case _: NumericType => true
      case _ => false
    }
    require(groupable, s"id column '$idCol' has type ${t.simpleString}, which cannot key a classifier")
    t
  }

  /** Every row of `df` grouped by id: per id, each row's token buckets
    * and its `y` (a DOUBLE column). Catalyst projects the id, the
    * tokens and `y`; the JVM drops empty tokens and buckets the rest on
    * the tokens' UTF-8 bytes as Spark holds them. One shuffle, into as
    * many partitions as a SQL shuffle would use.
    */
  private def byId(df: DataFrame, idCol: String, textCol: String,
                   y: Column): RDD[(Any, Iterable[(Array[Int], Double)])] = {
    val t = idType(df, idCol)
    df.select(col(idCol), TextAnalysis.tokens(col(textCol)), y)
      .queryExecution.toRdd
      .mapPartitions { rows =>
        val md5 = MessageDigest.getInstance("MD5")
        rows.map { r =>
          val key = if (r.isNullAt(0)) null else groupKey(r.get(0, t))
          val bs = if (r.isNullAt(1)) Array.emptyIntArray else buckets(r.getArray(1), md5)
          (key, (bs, r.getDouble(2)))
        }
      }
      .groupByKey(df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)
  }

  /** An id value as a JVM key that groups as SQL's GROUP BY does: the
    * row's string is copied out of its reused buffer, bytes compare by
    * value, and −0.0 and every NaN become the 0.0 and NaN SQL's
    * grouping normalises them to.
    */
  private def groupKey(v: Any): Any = v match {
    case b: Array[Byte] => ArraySeq.unsafeWrapArray(b)
    case d: Double => if (d == 0.0) 0.0 else if (d.isNaN) Double.NaN else d
    case f: Float => if (f == 0.0f) 0.0f else if (f.isNaN) Float.NaN else f
    case o => InternalRow.copyValue(o)
  }

  /** The id value SQL outputs for the group of `key`. */
  private def idValue(key: Any): Any = key match {
    case b: ArraySeq.ofByte => b.unsafeArray
    case o => o
  }

  /** md5 buckets of the non-empty tokens in `toks`: the first three hex
    * digits of the digest, `((d0 & 0xff) << 4) | ((d1 & 0xff) >> 4)`,
    * which is [[Importance.tokenBucket]].
    */
  private def buckets(toks: ArrayData, md5: MessageDigest): Array[Int] = {
    val out = new Array[Int](toks.numElements())
    var n = 0
    var i = 0
    while (i < out.length) {
      val t = if (toks.isNullAt(i)) null else toks.getUTF8String(i)
      if (t != null && t.numBytes > 0) {
        val d = md5.digest(t.getBytes)
        out(n) = ((d(0) & 0xff) << 4) | ((d(1) & 0xff) >> 4)
        n += 1
      }
      i += 1
    }
    java.util.Arrays.copyOf(out, n)
  }

  /** One id's feature row from its rows' buckets, pooled: the bias
    * `(−1, 1.0)` first, then each distinct bucket ascending with
    * `x = count / n` over all `n` pooled tokens.
    */
  private def features(docs: Iterable[Array[Int]]): (Array[Int], Array[Double]) = {
    val pooled = Array.concat(docs.toSeq: _*)
    java.util.Arrays.sort(pooled)
    val bs = Array.newBuilder[Int]
    val xs = Array.newBuilder[Double]
    bs += -1
    xs += 1.0
    var i = 0
    while (i < pooled.length) {
      var j = i
      while (j < pooled.length && pooled(j) == pooled(i)) j += 1
      bs += pooled(i)
      xs += (j - i).toDouble / pooled.length
      i = j
    }
    (bs.result(), xs.result())
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
        val r = sigmoid(logit(bw.value, bs, xs)) - y
        var k = 0
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

  /** Σ w_b·x_b over a feature row, in the row's bucket order. */
  private def logit(w: Array[Double], bs: Array[Int], xs: Array[Double]): Double = {
    var s = 0.0
    var k = 0
    while (k < bs.length) { s += w(bs(k) + 1) * xs(k); k += 1 }
    s
  }

  /** Spark's `1 / (1 + exp(−s))`: its `exp` is `StrictMath.exp`. */
  private def sigmoid(s: Double): Double = 1.0 / (1.0 + StrictMath.exp(-s))

  /** Spark's `round(v, 6)` on a double: HALF_UP on its shortest decimal form. */
  private def round6(v: Double): Double =
    if (v.isNaN || v.isInfinite) v
    else BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Score `df` under trained `weights` — one `(idCol, prob)` row per
    * id, prob rounded to 6 decimals. Rows sharing an id pool their
    * features, as they do in the fit. A tokenless or null-text document
    * scores at the bias prior, and so do null ids, as one row: their
    * tokens are not pooled, just as a null id trains nothing in the
    * fit. Buckets the model never saw, and weights outside [−1, 4095],
    * contribute 0, so scoring a NEW corpus under a model trained
    * elsewhere is well-defined.
    *
    * Shape (see the object doc): the ≤4097 weights are collected
    * ([[collectWeights]]) into a dense broadcast array, and each id's
    * feature row maps straight to its probability after the one shuffle
    * by id. The logit sums bias first, then buckets ascending.
    */
  def score(df: DataFrame, idCol: String, textCol: String,
            weights: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val t = idType(df, idCol)
    val dense = new Array[Double](Width)
    collectWeights(weights).foreach { case (b, w) =>
      if (b >= -1 && b < Width - 1) dense(b + 1) = w
    }
    val bw = spark.sparkContext.broadcast(dense)
    val toScala = CatalystTypeConverters.createToScalaConverter(t)
    // score rows carry no label
    val probs = byId(df, idCol, textCol, lit(0.0)).map { case (key, docs) =>
      val (bs, xs) = features(if (key == null) Nil else docs.map(_._1))
      Row(toScala(idValue(key)), round6(sigmoid(logit(bw.value, bs, xs))))
    }
    spark.createDataFrame(probs, StructType(Seq(
      StructField(idCol, t), StructField("prob", DoubleType))))
  }

  /** Collect a trained weight frame into a bucket → weight map — what
    * [[score]] broadcasts and [[scoreMapSide]] embeds; bounded by
    * construction (≤4097 rows).
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
    * Agrees with [[score]] on a unique id up to the last ulp of the
    * pre-round logit (the fold visits tokens in document order; score
    * sums per distinct bucket); rows sharing an id score separately
    * here.
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
