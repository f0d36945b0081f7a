package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Classifier

/** Trained hashed-logreg quality gate: separation on planted labels,
  * the bias-only (tokenless) document contract, bounded model size,
  * replay determinism of the rounded-checkpoint training loop, and
  * exact agreement with the relational reference below on every id
  * and text edge (duplicate, null, STRING, BINARY and DOUBLE ids; null
  * and empty text).
  */
class ClassifierSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def labeled = Seq(
    (1L, "good clean prose with varied words here", 1),
    (2L, "good thoughtful writing flows nicely along", 1),
    (3L, "clean prose varied thoughtful writing good", 1),
    (4L, "spam spam spam buy buy buy", 0),
    (5L, "buy spam buy spam buy spam", 0),
    (6L, "spam buy spam buy spam buy", 0)).toDF("doc_id", "text", "y")

  /** The relational feature plan the classifier ran before it built one
    * row per document, kept as the reference: one `(__id, __b, __x)` row
    * per distinct md5 bucket per id (`x` = bucket count / the id's
    * token count) plus a bias row `(__id, −1, 1.0)` per distinct id.
    * Ids pool under SQL grouping (null is one group, 0.0 and −0.0 one,
    * NaN one, BINARY by value); a null id keeps only its bias row, since
    * its token rows join no token count.
    */
  private def hashedFeatures(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tb = df
      .select(col(idCol).as("__id"),
        explode(filter(graft.ops.TextAnalysis.tokens(col(textCol)),
          t => length(t) > 0)).as("__tok"))
      .withColumn("__b", graft.ops.Importance.tokenBucket(col("__tok")))
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

  /** The r18 fit, verbatim — the step-by-step relational trajectory ANY
    * restructure of the fit must replay bit-for-bit (round 19 measured
    * a driver-held-weights loop against this pin: trajectory-exact but
    * slower, reverted). Reads `text` and label `y`.
    */
  private def fitReference(labeled: DataFrame, idCol: String, iters: Int,
                           lr: Double): Map[Int, Double] = {
    val ydf = labeled.select(col(idCol).as("__id"), $"y".cast("double").as("__y"))
    val feat = hashedFeatures(labeled, idCol, "text").localCheckpoint()
    val step = lr / ydf.count()
    var w = feat.select($"__b").distinct()
      .select($"__b", lit(0.0).as("__w")).localCheckpoint()
    for (_ <- 1 to iters) {
      val p = feat.join(broadcast(w), Seq("__b"))
        .groupBy($"__id").agg(sum($"__w" * $"__x").as("__s"))
        .join(ydf, Seq("__id"))
        .select($"__id", $"__y", (lit(1.0) / (lit(1.0) + exp(-$"__s"))).as("__p"))
      val g = feat.join(p, Seq("__id"))
        .groupBy($"__b").agg(sum(($"__p" - $"__y") * $"__x").as("__g"))
      w = w.join(g, Seq("__b"))
        .select($"__b", round($"__w" - lit(step) * $"__g", 6).as("__w"))
        .localCheckpoint()
    }
    w.collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
  }

  /** The grouped relational score: features ⋈ broadcast weights (an
    * unseen bucket adds 0), summed per id, through the rounded sigmoid.
    */
  private def scoreReference(df: DataFrame, idCol: String, weights: DataFrame): DataFrame =
    hashedFeatures(df, idCol, "text")
      .join(broadcast(weights.select(col("b").as("__b"), col("w").as("__w"))),
        Seq("__b"), "left")
      .groupBy(col("__id"))
      .agg(round(lit(1.0) / (lit(1.0) +
        exp(-sum(coalesce(col("__w"), lit(0.0)) * col("__x")))), 6).as("prob"))
      .select(col("__id").as(idCol), col("prob"))

  /** Scored rows as `(id, prob)`, sorted, with ids rendered so that
    * −0.0, NaN, null and byte values stay apart and compare exactly.
    */
  private def probs(scored: DataFrame): Seq[(String, Double)] =
    scored.collect().toSeq.map(r => (r.get(0) match {
      case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
      case v => String.valueOf(v)
    }, r.getDouble(1))).sortBy(t => (t._1, t._2.toString))

  /** Fit and score `df` (columns `idCol`, `text`, `y`) and require both
    * to equal the relational reference exactly.
    */
  private def assertMatchesReference(df: DataFrame, idCol: String): Unit = {
    val w = Classifier.fitLogReg(df, idCol, "text", "y", iters = 4)
    val got = Classifier.collectWeights(w)
    val want = fitReference(df, idCol, iters = 4, lr = 5.0)
    assert(got == want, s"weights: ${got.toSeq.sorted.take(5)} vs ${want.toSeq.sorted.take(5)}")
    assert(probs(Classifier.score(df, idCol, "text", w)) ==
      probs(scoreReference(df, idCol, w)))
  }

  test("fitLogReg + score: planted positive/negative vocabularies separate") {
    val w = Classifier.fitLogReg(labeled, "doc_id", "text", "y")
    val probs = Classifier.score(labeled, "doc_id", "text", w)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val pos = Seq(1L, 2L, 3L).map(probs)
    val neg = Seq(4L, 5L, 6L).map(probs)
    assert(pos.min > neg.max,
      s"positives ${pos} should all outscore negatives ${neg}")
    // an unseen doc from the positive vocabulary scores above one from
    // the negative vocabulary — the model generalizes by bucket
    val fresh = Seq((10L, "varied clean words"), (11L, "buy buy spam"))
      .toDF("doc_id", "text")
    val f = Classifier.score(fresh, "doc_id", "text", w)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(f(10L) > f(11L))
  }

  test("score: tokenless document still scores at the bias prior") {
    val w = Classifier.fitLogReg(labeled, "doc_id", "text", "y")
    val bias = w.filter($"b" === -1).collect().head.getDouble(1)
    val got = Classifier.score(
        Seq((20L, ""), (21L, null.asInstanceOf[String])).toDF("doc_id", "text"),
        "doc_id", "text", w)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val expected = BigDecimal(1.0 / (1.0 + math.exp(-bias)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == Map(20L -> expected, 21L -> expected))
  }

  test("scoreMapSide: shuffle-free scoring matches the grouped path, streams in append mode") {
    val wdf = Classifier.fitLogReg(labeled, "doc_id", "text", "y")
    val wmap = Classifier.collectWeights(wdf)
    val grouped = Classifier.score(labeled, "doc_id", "text", wdf)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val mapSide = Classifier.scoreMapSide(labeled, "doc_id", "text", wmap)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    grouped.foreach { case (id, p) =>
      assert(math.abs(mapSide(id) - p) <= 1.1e-6, s"doc $id: $p vs ${mapSide(id)}")
    }
    // no exchange anywhere in the scoring plan
    val plan = Classifier.scoreMapSide(labeled, "doc_id", "text", wmap)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"map-side scoring must not shuffle:\n$plan")
    // the same expression runs unchanged as a stateless streaming map
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val q = Classifier.scoreMapSide(stream.toDS().toDF("doc_id", "text"),
        "doc_id", "text", wmap)
      .writeStream.format("memory").queryName("clf_stream")
      .outputMode("append").start()
    try {
      stream.addData(labeled.select($"doc_id", $"text")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq: _*)
      q.processAllAvailable()
      val streamed = spark.table("clf_stream")
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(streamed == mapSide)
    } finally q.stop()
  }

  test("calibrationTable: bins, gaps, and ECE; prob 1.0 clamps to the top bin") {
    val scored = Seq(
      (0.05, 0.0), (0.08, 0.0), (0.12, 0.0),  // low bins, all negative
      (0.95, 1.0), (0.97, 1.0), (1.0, 1.0),   // top bin (1.0 clamps to 9)
      (0.45, 1.0), (0.47, 0.0)                // mid bin, half positive
    ).toDF("prob", "y")
    val got = Classifier.calibrationTable(scored, "prob", "y")
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5)))).toMap
    assert(got.keySet == Set(0, 1, 4, 9))
    assert(got(9)._1 == 3L, "prob = 1.0 must land in bin 9, not a phantom bin 10")
    // the table leaves as exact integer micros (Tables.micros)
    assert(got(4)._3 == 500000L)
    // perfect extremes have tiny gaps; the mid bin carries |0.46 - 0.5|
    assert(got(4)._4 == 40000L)
    // ECE = floor(sum(n*gap_micros)/N), constant across rows
    val ece = got.values.map(_._5).toSet
    assert(ece.size == 1)
    val want = math.floor(got.values.map(t => (t._1 * t._4).toDouble).sum / 8.0).toLong
    assert(ece.head == want)
  }

  test("fitLogReg: trajectory equals the step-by-step relational reference exactly") {
    // the real corpus at sf0.001 under the declared queries' exact
    // hyperparameters — 12 rounded steps compound any replay divergence
    val docs = Tables.documents(spark, sf)
      .withColumn("y", when($"lang" === "en", 1).otherwise(0))
      .select($"doc_id", $"text", $"y")
    val got = Classifier.fitLogReg(docs, "doc_id", "text", "y", iters = 12, lr = 2.0)
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val want = fitReference(docs, "doc_id", iters = 12, lr = 2.0)
    assert(got.keySet == want.keySet)
    val diverged = got.collect { case (b, v) if want(b) != v => (b, v, want(b)) }
    assert(diverged.isEmpty, s"weights diverged at ${diverged.take(5)}")
  }

  test("fitLogReg: a null label refuses, naming the column; a null id is counted, not trained") {
    val withNull = labeled.union(Seq((7L, "spam buy", Option.empty[Int]))
      .toDF("doc_id", "text", "y"))
    val e = intercept[IllegalArgumentException](
      Classifier.fitLogReg(withNull, "doc_id", "text", "y"))
    assert(e.getMessage.contains("'y'"), e.getMessage)
    // a null-id row trains nothing but counts in N = 7: the fit equals
    // one over the six trainable rows at lr scaled by 6/7
    val nullId = labeled.union(Seq((Option.empty[Long], "unique zzz", 1))
      .toDF("doc_id", "text", "y"))
    val got = Classifier.collectWeights(
      Classifier.fitLogReg(nullId, "doc_id", "text", "y", iters = 3))
    val want = Classifier.collectWeights(
      Classifier.fitLogReg(labeled, "doc_id", "text", "y", iters = 3, lr = 5.0 * 6 / 7))
    assert(got.keySet == want.keySet, "the null-id row's buckets must not enter the model")
    want.foreach { case (b, v) =>
      assert(math.abs(got(b) - v) <= 1e-6, s"bucket $b: ${got(b)} vs $v")
    }
  }

  test("fitLogReg: one Spark job per GD step") {
    // the Catalyst loop this replaced planned three joins, two
    // aggregations and a localCheckpoint per step: 21 → 53 jobs here
    // (8 per step); the RDD loop over one row per document runs 4 → 8
    val (_, j2) = jobsOf(Classifier.fitLogReg(labeled, "doc_id", "text", "y", iters = 2))
    val (_, j6) = jobsOf(Classifier.fitLogReg(labeled, "doc_id", "text", "y", iters = 6))
    assert(j6 - j2 <= 4, s"iters 2 → 6 added ${j6 - j2} jobs ($j2 → $j6)")
  }

  test("fitLogReg: releases every persisted block; result is (b INT, w DOUBLE)") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val w = Classifier.fitLogReg(labeled, "doc_id", "text", "y", iters = 4)
    assert(sc.getPersistentRDDs.keySet == before)
    assert(w.schema.map(f => f.name -> f.dataType.simpleString) ==
      Seq("b" -> "int", "w" -> "double"))
  }

  test("fitLogReg: model stays bucket-bounded and training is replayable") {
    val w1 = Classifier.fitLogReg(labeled, "doc_id", "text", "y")
    assert(w1.count() <= 4097)
    // rounded-checkpoint GD is deterministic: a second fit over a
    // differently-partitioned copy lands on the identical weight vector
    val w2 = Classifier.fitLogReg(labeled.repartition(7), "doc_id", "text", "y")
    val m1 = w1.collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val m2 = w2.collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(m1 == m2)
    // zero iterations of movement is impossible: training moved the bias
    assert(m1(-1) != 0.0)
  }

  test("fit and score: a duplicate id pools its rows' features and scores once") {
    val dup = labeled.union(Seq((1L, "spam buy clean", 0), (4L, "varied words buy", 1),
        (4L, "", 0)).toDF("doc_id", "text", "y"))
    assertMatchesReference(dup, "doc_id")
    val w = Classifier.fitLogReg(dup, "doc_id", "text", "y")
    assert(Classifier.score(dup, "doc_id", "text", w).count() == 6)
  }

  test("score: null ids score as one row, at the reference's probability") {
    val w = Classifier.fitLogReg(labeled, "doc_id", "text", "y")
    val df = labeled.union(Seq((Option.empty[Long], "buy spam clean", 1),
        (Option.empty[Long], "", 0)).toDF("doc_id", "text", "y"))
    val got = probs(Classifier.score(df, "doc_id", "text", w))
    assert(got == probs(scoreReference(df, "doc_id", w)))
    assert(got.count(_._1 == "null") == 1 && got.size == 7, got)
    assertMatchesReference(df, "doc_id")
  }

  test("fit and score: STRING, BINARY and DOUBLE ids group like SQL") {
    val texts = labeled.select($"text", $"y").as[(String, Int)].collect().toSeq
    def frame[K: scala.reflect.runtime.universe.TypeTag](ids: Seq[K]): DataFrame =
      ids.zip(texts ++ texts).map { case (k, (t, y)) => (k, t, y) }
        .toDF("id", "text", "y")
    assertMatchesReference(
      frame(Seq("a", "b", "a", null, "c", "d", "B", "b ", "é")), "id")
    assertMatchesReference(frame(Seq[Array[Byte]](Array(1, 2), Array(2), Array(1, 2),
      null, Array(), Array(2, 0), Array(), Array(1, 2), Array(-1))), "id")
    val otherNaN = java.lang.Double.longBitsToDouble(0x7ff8000000000001L)
    assertMatchesReference(frame(Seq[java.lang.Double](0.0, -0.0, Double.NaN, otherNaN,
      1.5, null, -1.5, 0.0, Double.NaN)), "id")
  }

  test("fit and score: null and empty text train and score on the bias alone") {
    val df = labeled.union(Seq((7L, "", 1), (8L, null, 0), (9L, "   ", 1),
        (10L, "\t spam\u00a0x", 0)).toDF("doc_id", "text", "y"))
    assertMatchesReference(df, "doc_id")
  }

  test("fitLogReg and score: stage budget") {
    // the exploded-token feature plan ran 14 stages for this fit and 7
    // for this score; one row per document is the label count (2), one
    // shuffle by id (2) and one stage per further GD step (5), and one
    // shuffle by id for the score
    val (w, fit) = stagesOf(Classifier.fitLogReg(labeled, "doc_id", "text", "y", iters = 6))
    val (_, sc) = stagesOf(Classifier.score(labeled, "doc_id", "text", w).collect())
    assert(fit <= 9, s"fit(iters = 6) ran $fit stages")
    assert(sc <= 2, s"score ran $sc stages")
  }
}
