package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.embed.HashEmbedder
import graft.functions.{VectorFunctions, VectorKernels}
import graft.ops.Similarity

object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .appName("graft-test")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    Tables.bootstrap(s)
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"

  /** Jobs started by `body` on this thread (a local property marks them,
    * so a job of any other thread is not counted).
    */
  def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p => p.getProperty("graft.test.jobs") == tag))
          n.incrementAndGet()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.test.jobs", tag)
    try {
      val r = body
      ListenerBusDrain(sc)
      (r, n.get)
    } finally {
      sc.setLocalProperty("graft.test.jobs", null)
      sc.removeSparkListener(listener)
    }
  }
}

class SimilaritySpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private lazy val emb = Tables.embeddings(spark, sf).cache()
  private lazy val all: Array[(Long, Array[Float])] =
    emb.select($"vec_id", $"embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
  private lazy val qv = all.find(_._1 == 0L).get._2

  private def cosRef(a: Array[Float], b: Array[Float]): Double = {
    val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
    val na = math.sqrt(a.map(x => x.toDouble * x).sum)
    val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
    if (na == 0 || nb == 0) 0.0 else dot / (na * nb)
  }

  test("knn matches brute-force reference for every metric") {
    val corpus = emb.filter($"vec_id" =!= 0).select($"vec_id", $"embedding")
    for (metric <- Similarity.Metrics) {
      val got = Similarity.knn(corpus, "embedding", qv, 5, metric)
        .select($"vec_id").as[Long].collect().toSeq
      val scored = all.filter(_._1 != 0L).map { case (id, v) =>
        val s = metric match {
          case "COSINE"             => cosRef(v, qv)
          case "DOT_PRODUCT"        => v.zip(qv).map { case (x, y) => x.toDouble * y }.sum
          case "EUCLIDEAN_DISTANCE" => math.sqrt(v.zip(qv).map { case (x, y) => val d = x.toDouble - y; d * d }.sum)
        }
        (id, s)
      }
      val want = (if (metric == "EUCLIDEAN_DISTANCE") scored.sortBy(t => (t._2, t._1))
                  else scored.sortBy(t => (-t._2, t._1))).take(5).map(_._1).toSeq
      assert(got == want, s"metric $metric")
    }
  }

  test("similarityJoin rank 1 equals per-query knn top-1") {
    val q = emb.filter($"vec_id" < 3).select($"vec_id".as("query_id"), $"embedding")
    val c = emb.filter($"vec_id" >= 3).select($"vec_id", $"embedding")
    val joined = Similarity.similarityJoin(q, c, "query_id", "embedding", "vec_id", "embedding", 3)
      .filter($"rank" === 1).select($"query_id", $"vec_id").as[(Long, Long)].collect().toMap
    for (qid <- 0L to 2L) {
      val qvec = all.find(_._1 == qid).get._2
      val want = all.filter(_._1 >= 3).map { case (id, v) => (id, cosRef(v, qvec)) }
        .maxBy(t => (t._2, -t._1))._1
      assert(joined(qid) == want, s"query $qid")
    }
  }

  test("similarityJoin local top-k: partitioning-invariant, ties break by id, matches naive ranking") {
    // plant an exact duplicate of every corpus vector under a shifted id
    // so every score ties at least once — the id tiebreak must decide,
    // including at the k boundary, identically in the per-partition heaps
    // and the global window
    val q = emb.filter($"vec_id" < 3).select($"vec_id".as("query_id"), $"embedding")
    val base = emb.filter($"vec_id" >= 3 && $"vec_id" < 43).select($"vec_id", $"embedding")
    val corpus = base.union(base.select(($"vec_id" + 1000).as("vec_id"), $"embedding"))
    def run(parts: Int): Set[(Long, Int, Long)] =
      Similarity.similarityJoin(q, corpus.repartition(parts), "query_id", "embedding",
          "vec_id", "embedding", k = 5)
        .select($"query_id", $"rank", $"vec_id").as[(Long, Int, Long)].collect().toSet
    val got = run(7)
    assert(got == run(1), "result must not depend on corpus partitioning")
    val corpusLocal = all.filter(t => t._1 >= 3 && t._1 < 43)
      .flatMap(t => Seq(t, (t._1 + 1000, t._2)))
    for (qid <- 0L to 2L) {
      val qvec = all.find(_._1 == qid).get._2
      val want = corpusLocal.map { case (id, v) => (id, cosRef(v, qvec)) }
        .sortBy(t => (-t._2, t._1)).take(5).zipWithIndex
        .map { case ((id, _), i) => (qid, i + 1, id) }.toSet
      assert(got.filter(_._1 == qid) == want, s"query $qid")
    }
    // the pre-pruning map step must be in the physical plan (it is what
    // bounds the ranking Exchange at k rows per query per partition)
    val plan = Similarity.similarityJoin(q, corpus, "query_id", "embedding",
      "vec_id", "embedding", k = 5).queryExecution.executedPlan.toString
    assert(plan.contains("MapPartitions"), s"expected MapPartitions in:\n$plan")
  }

  test("mmr: first pick is top-1 similarity; picks are distinct; lambda=1 degenerates to knn") {
    val corpus = emb.filter($"vec_id" =!= 0)
    val picks = Similarity.mmr(corpus, "vec_id", "embedding", qv, k = 4, fetchK = 10)
    assert(picks.map(_._1).distinct.size == 4)
    val top1 = Similarity.knn(corpus.select($"vec_id", $"embedding"), "embedding", qv, 1)
      .select($"vec_id").as[Long].head()
    assert(picks.head._1 == top1)
    val pure = Similarity.mmr(corpus, "vec_id", "embedding", qv, k = 4, fetchK = 10, lambdaMult = 1.0)
    val knn4 = Similarity.knn(corpus.select($"vec_id", $"embedding"), "embedding", qv, 4)
      .select($"vec_id").as[Long].collect().toSeq
    assert(pure.map(_._1) == knn4)
  }

  test("mmrBatch equals single-query mmr for every query in the batch") {
    // 10 queries × the rest of the corpus: the distributed flatMapGroups
    // greedy must reproduce the driver-side mmr pick-for-pick (ids,
    // ranks, and scores) for each query id
    val corpus = emb.filter($"vec_id" >= 10)
    val queries = emb.filter($"vec_id" < 10).select($"vec_id".as("query_id"), $"embedding")
    val batch = Similarity.mmrBatch(queries, corpus, "query_id", "embedding",
        "vec_id", "embedding", k = 4, fetchK = 10)
      .select($"query_id", $"vec_id", $"mmr_rank", $"score")
      .as[(Long, Long, Int, Double)].collect()
      .groupBy(_._1).map { case (q, rows) =>
        (q, rows.sortBy(_._3).map(t => (t._2, t._3, t._4)).toSeq)
      }
    assert(batch.size == 10)
    for (qid <- 0L until 10L) {
      val qvec = all.find(_._1 == qid).get._2
      val single = Similarity.mmr(corpus, "vec_id", "embedding", qvec, k = 4, fetchK = 10)
      assert(batch(qid) == single, s"query $qid: batch and single MMR must agree")
    }
  }

  test("score threshold keeps exactly the rows past the threshold") {
    val corpus = emb.filter($"vec_id" =!= 0).select($"vec_id", $"embedding")
    val got = Similarity.scoreThreshold(corpus, "embedding", qv, 0.1)
      .select($"vec_id").as[Long].collect().toSet
    val want = all.filter(_._1 != 0L).filter(t => cosRef(t._2, qv) >= 0.1).map(_._1).toSet
    assert(got == want)
  }

  test("vector expressions agree with interpreted kernels and handle edge shapes") {
    val df = Seq(
      (Array(1f, 2f, 3f), Array(4f, 5f, 6f)),
      (Array(0f, 0f, 0f), Array(1f, 1f, 1f))
    ).toDF("a", "b")
    val rows = df.select(
      VectorFunctions.cosineSim($"a", $"b"),
      VectorFunctions.dotProduct($"a", $"b"),
      VectorFunctions.euclidean($"a", $"b")).collect()
    assert(math.abs(rows(0).getDouble(0) - 32.0 / math.sqrt(14.0 * 77.0)) < 1e-12)
    assert(rows(0).getDouble(1) == 32.0)
    assert(math.abs(rows(0).getDouble(2) - math.sqrt(27.0)) < 1e-12)
    assert(rows(1).getDouble(0) == 0.0) // zero vector -> 0, not NaN
  }

  test("vector expressions: codegen and interpreted paths agree bit-for-bit") {
    val emb = Tables.embeddings(spark, sf).limit(50)
    def values(): Seq[(Double, Double, Double)] = {
      import spark.implicits._
      val q = emb.select($"embedding").head.getSeq[Float](0).toArray
      emb.select(
        graft.functions.VectorFunctions.cosineSim($"embedding", typedlit(q)),
        graft.functions.VectorFunctions.dotProduct($"embedding", typedlit(q)),
        graft.functions.VectorFunctions.euclidean($"embedding", typedlit(q)))
        .as[(Double, Double, Double)].collect().toSeq
    }
    val withCodegen = values()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val interpreted = values()
      assert(withCodegen == interpreted, "doGenCode must match nullSafeEval exactly")
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("SequentialDotProduct ≡ aggregate(zip_with(...)) bit-for-bit, nulls included") {
    // the miners' pinned fold, in both formulations, over real
    // embeddings plus planted edge rows: unequal lengths (zip-pad
    // null), a null element, a leading -0.0 product, and null inputs
    val rows = Tables.embeddings(spark, sf).limit(40)
      .select($"embedding".as("a"), $"embedding".as("b"))
      .union(Seq(
        (Seq(1f, 2f), Seq(3f)),                       // unequal length
        (Seq(-0.0f, 2f), Seq(0.0f, 5f)),              // -0.0 first product
        (null.asInstanceOf[Seq[Float]], Seq(1f))      // null input
      ).toDF("a", "b"))
      .union(Seq((Seq[java.lang.Float](1f, null), Seq[java.lang.Float](2f, 3f)))
        .toDF("a", "b"))                              // null ELEMENT
    val oldForm = aggregate(
      zip_with($"a", $"b", (p, q) => p.cast("double") * q.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    val got = rows.select(
        graft.functions.VectorFunctions.seqDotProduct($"a", $"b").as("k"),
        oldForm.as("h"))
      .collect().map(r =>
        (if (r.isNullAt(0)) None else Some(r.getDouble(0)),
         if (r.isNullAt(1)) None else Some(r.getDouble(1))))
    got.foreach { case (k, h) => assert(k == h, s"kernel $k != fold $h") }
    assert(got.count(_._1.isEmpty) == 3, "all three planted nulls null out")
  }

  test("registered SQL functions work from spark.sql") {
    graft.functions.VectorFunctions.register(spark)
    Tables.embeddings(spark, sf).createOrReplaceTempView("emb_sql")
    val rows = spark.sql(
      """SELECT vec_id,
        |  cosine_similarity(embedding, embedding) AS self_cos,
        |  dot_product_f(embedding, embedding) AS self_dot,
        |  euclidean_distance(embedding, embedding) AS self_dist
        |FROM emb_sql LIMIT 5""".stripMargin).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(math.abs(r.getDouble(1) - 1.0) < 1e-9, "self cosine = 1")
      assert(r.getDouble(2) > 0.0)
      assert(r.getDouble(3) == 0.0, "self distance = 0")
    }
  }

  test("rate-limited embedder preserves values and enforces the batch interval") {
    import graft.embed.{HashEmbedder, RateLimitedEmbedder}
    val inner = HashEmbedder(16)
    val rl = RateLimitedEmbedder(inner, rpm = 6000) // 10 ms between calls
    assert(rl.embed("hello world").toSeq == inner.embed("hello world").toSeq,
      "throttling must not change values")
    val t0 = System.nanoTime()
    (1 to 3).foreach(_ => rl.embed("x"))
    assert((System.nanoTime() - t0) / 1e6 >= 20.0, "3 calls at a 10 ms interval need >= 20 ms")
    // rpm <= 0 disables; batch values unchanged either way
    val off = RateLimitedEmbedder(inner, rpm = 0)
    assert(off.embedBatch(Seq("a", "b")).map(_.toSeq) ==
      inner.embedBatch(Seq("a", "b")).map(_.toSeq))
    // the inner embedder's own batch implementation (e.g. one batched
    // API call) must be delegated to, not unrolled into per-text calls
    val counting = new graft.embed.Embedder {
      var batchCalls = 0
      def dim = 4
      def embed(t: String): Array[Float] = Array.fill(4)(1f)
      override def embedBatch(ts: Seq[String]): Seq[Array[Float]] =
        { batchCalls += 1; ts.map(embed) }
    }
    RateLimitedEmbedder(counting, rpm = 0).embedBatch(Seq("a", "b", "c")): Unit
    assert(counting.batchCalls == 1, "inner embedBatch must be called exactly once")
  }

  test("equal rate-limited embedders share one JVM-wide clock (task churn cannot reset it)") {
    import graft.embed.{HashEmbedder, RateLimitedEmbedder}
    val inner = HashEmbedder(8, seed = 777) // distinct identity from other specs
    // two equal instances = the same embedder deserialized into two
    // tasks; their calls must share the interval, not each start fresh
    val a = RateLimitedEmbedder(inner, rpm = 3000) // 20 ms interval
    val b = RateLimitedEmbedder(inner, rpm = 3000)
    val t0 = System.nanoTime()
    a.embed("x"); b.embed("x"); a.embed("x")
    assert((System.nanoTime() - t0) / 1e6 >= 40.0,
      "3 calls across equal instances at a 20 ms interval need >= 40 ms")
    // a different rpm is a different throttle identity — independent clock
    val c = RateLimitedEmbedder(inner, rpm = 1)
    val t1 = System.nanoTime()
    c.embed("x")
    assert((System.nanoTime() - t1) / 1e6 < 5000.0, "first call on a fresh identity is unthrottled")
  }

  test("ivfJoinTopK: full probe equals the exact batch join; partial probe is a subset; nulls drop") {
    import graft.ops.Ivf
    val q = emb.filter($"vec_id" < 10).select($"vec_id".as("query_id"), $"embedding")
    val c = emb.filter($"vec_id" >= 10).select($"vec_id", $"embedding")
    val model = Ivf.fit(c, "vec_id", "embedding", k = 8)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Int, Long)] =
      df.select($"query_id", $"rank", $"vec_id")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted
    val exact = rows(Similarity.similarityJoin(q, c,
      "query_id", "embedding", "vec_id", "embedding", k = 4))
    val full = rows(Similarity.ivfJoinTopK(q, c,
      "query_id", "embedding", "vec_id", "embedding", model, nProbe = 8, k = 4))
    assert(full == exact, "full probe must equal the exact join rank for rank")
    // partial probe: every (query, candidate) it returns is an exact-join
    // candidate pair scored identically — ranks may shift (fewer
    // candidates), membership per query is a subset of the probed cells'
    // content, and nothing is fabricated
    val part = Similarity.ivfJoinTopK(q, c,
      "query_id", "embedding", "vec_id", "embedding", model, nProbe = 2, k = 4)
    val partPairs = part.select($"query_id", $"vec_id", round($"score", 6))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val exactAll = Similarity.similarityJoin(q, c,
        "query_id", "embedding", "vec_id", "embedding", k = c.count().toInt)
      .select($"query_id", $"vec_id", round($"score", 6))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    partPairs.foreach { case (pair, s) =>
      assert(exactAll(pair) == s, s"pair $pair must carry the exact score")
    }
    // a null query embedding probes nothing; a null corpus embedding has
    // no cell — neither crashes nor emits rows
    val qn = Seq((99L, Option.empty[Seq[Float]])).toDF("query_id", "embedding")
    assert(Similarity.ivfJoinTopK(qn, c, "query_id", "embedding",
      "vec_id", "embedding", model, nProbe = 2, k = 4).count() == 0)
    intercept[IllegalArgumentException] {
      Similarity.ivfJoinTopK(q, c, "query_id", "embedding",
        "vec_id", "embedding", model, nProbe = 0, k = 4)
    }
  }

  test("knnGraphAuto: self-tuned graph equals the exact self-join graph at target 1.0") {
    val corpus = emb.filter($"vec_id" < 120 && $"embedding".isNotNull)
      .select($"vec_id", $"embedding").localCheckpoint()
    val got = Similarity.knnGraphAuto(corpus, "vec_id", "embedding",
        k = 3, targetRecall = 1.0)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted
    // exact reference: self-join top-(k+1), drop self, re-rank
    val q = corpus.select($"vec_id".as("qid"), $"embedding".as("qemb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"qid").orderBy($"score".desc, $"vec_id".asc)
    val exact = Similarity.similarityJoin(q, corpus,
        "qid", "qemb", "vec_id", "embedding", k = 4)
      .filter($"qid" =!= $"vec_id")
      .withColumn("rk", row_number().over(w)).filter($"rk" <= 3)
      .collect().map(r => (r.getLong(r.fieldIndex("qid")),
        r.getInt(r.fieldIndex("rk")), r.getLong(r.fieldIndex("vec_id"))))
      .toSeq.sorted
    assert(got == exact)
    // structural contract: no self-edges, exactly k neighbors per node
    assert(got.forall { case (a, _, b) => a != b })
    assert(got.groupBy(_._1).values.forall(_.length == 3))
    assert(got.map(_._1).distinct.length == corpus.count())
  }

  test("hash embedder is deterministic, unit-norm, and token-order invariant in aggregate") {
    val e = HashEmbedder(dim = 16)
    val v1 = e.embed("spark catalyst engine")
    val v2 = e.embed("spark catalyst engine")
    assert(v1.toSeq == v2.toSeq)
    val norm = math.sqrt(v1.map(x => x.toDouble * x).sum)
    assert(math.abs(norm - 1.0) < 1e-6)
    assert(e.embed("").forall(_ == 0f))
  }
}
