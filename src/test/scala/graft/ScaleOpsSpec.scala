package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.embed.HashEmbedder
import graft.ops.{Ivf, Multimodal, Similarity}
import graft.sources.DocumentSources
import graft.streaming.IncrementalIngest

object ScaleOpsSpec {
  // stream-stream join fixtures (top-level so spark.implicits can derive encoders)
  case class SsjL(lkey: String, lts: java.sql.Timestamp, lv: Int)
  case class SsjR(rkey: String, rts: java.sql.Timestamp, rv: Int)
}

class ScaleOpsSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("streaming incremental ingest merges micro-batches idempotently") {
    val in = Files.createTempDirectory("stream-in").toString
    val store = Files.createTempDirectory("stream-store").toString + "/chunks"
    val ckpt = Files.createTempDirectory("stream-ckpt").toString
    def writeDocs(name: String, docs: Seq[(Long, String)]): Unit =
      Files.writeString(java.nio.file.Paths.get(in, name),
        docs.map { case (i, t) => s"""{"doc_id":$i,"text":"$t"}""" }.mkString("\n"))

    writeDocs("b1.json", Seq((1L, "alpha beta gamma delta"), (2L, "epsilon zeta eta theta")))
    val q = IncrementalIngest.start(spark, in, store, HashEmbedder(16), 64, 0, ckpt)
    try {
      q.processAllAvailable()
      val n1 = graft.ops.VersionedStore.read(spark, store).get.count()
      assert(n1 == 2)
      // second batch: one duplicate doc (same content) + one new
      writeDocs("b2.json", Seq((3L, "alpha beta gamma delta"), (4L, "iota kappa lambda mu")))
      q.processAllAvailable()
      val rows = graft.ops.VersionedStore.read(spark, store).get
      assert(rows.count() == 3, "duplicate content must not re-append")
      assert(rows.select("id").distinct().count() == 3)
      assert(rows.schema.fieldNames.contains("embedding"))
      // index the store mid-stream: micro-batches after it must land
      // cluster-assigned, or the mixed layout would fail the next read
      graft.ops.Ivf.indexStore(spark, store, "id", "embedding", k = 2)
      writeDocs("b3.json", Seq((5L, "nu xi omicron pi rho")))
      q.processAllAvailable()
      val grown = graft.ops.VersionedStore.read(spark, store).get
      assert(grown.count() == 4)
      assert(grown.schema.fieldNames.contains("cluster_id"),
        "streamed appends must keep the clustered layout")
      // register a lexical index mid-stream: subsequent micro-batches come
      // through the same seam, so the index stays fresh and the staleness
      // guard never trips — continuous ingestion serves BM25 throughout
      val lexIdx = Files.createTempDirectory("stream-lexidx").toString
      graft.ops.Keyword.registerLexicalIndex(spark, store, "id", "text", lexIdx)
      writeDocs("b4.json", Seq((6L, "sigma tau upsilon phi")))
      q.processAllAvailable()
      val hits = graft.ops.Keyword.bm25Indexed(spark, lexIdx, Seq("sigma", "alpha"),
        topK = 5, store = Some(store))
      assert(hits.count() >= 2, "both the pre-registration and streamed docs must rank")
      // training-mix expressions are stateless and map-side, so they
      // compose into the stream's output unchanged: split assignment on
      // the streamed store must equal the batch assignment key-by-key
      val streamedSplit = graft.ops.Sampling.hashSplit(
          graft.ops.VersionedStore.read(spark, store).get.select($"id"), "id",
          Seq("train" -> 0.8, "test" -> 0.2), seed = "s1")
        .as[(String, String)].collect().toMap
      val batchSplit = graft.ops.Sampling.hashSplit(
          streamedSplit.keys.toSeq.toDF("id"), "id",
          Seq("train" -> 0.8, "test" -> 0.2), seed = "s1")
        .as[(String, String)].collect().toMap
      assert(streamedSplit == batchSplit,
        "split membership must be identical however the rows arrived")
      // register the MinHash near-dup sidecar mid-stream: every later
      // micro-batch folds through the same seam, so an ingestion-time
      // near-dup check against the WHOLE streamed history is always
      // fresh — no manual maintenance between batches
      val mhIdx = Files.createTempDirectory("stream-mhidx").toString
      graft.ops.Dedup.registerMinhashSidecar(spark, store, "id", "text", mhIdx)
      writeDocs("b5.json", Seq((7L, "chi psi omega alef bet gimel")))
      q.processAllAvailable()
      val dupProbe = Seq(("probe-dup-1", "chi psi omega alef bet gimel"))
        .toDF("id", "text")
      val found = graft.ops.Dedup.nearDupAgainstStore(spark, dupProbe,
        "id", "text", store, mhIdx, threshold = 0.9).count()
      assert(found >= 1,
        "a dup of a doc streamed AFTER sidecar registration must be caught " +
          "without manual maintenance — the micro-batch seam folds it")
    } finally q.stop()
  }

  test("streaming dedup within watermark drops close-arriving duplicates with bounded state") {
    val in = Files.createTempDirectory("sdedup-in").toString
    val out = Files.createTempDirectory("sdedup-out").toString + "/rows"
    val ckpt = Files.createTempDirectory("sdedup-ckpt").toString
    def writeBatch(name: String, rows: Seq[(String, String)]): Unit =
      Files.writeString(java.nio.file.Paths.get(in, name),
        rows.map { case (k, ts) => s"""{"key":"$k","ts":"$ts"}""" }.mkString("\n"))
    writeBatch("b1.json", Seq(
      ("a", "2026-01-01T10:00:00"), ("a", "2026-01-01T10:00:05"), ("b", "2026-01-01T10:00:10")))
    val schema = org.apache.spark.sql.types.StructType.fromDDL("key STRING, ts TIMESTAMP")
    val stream = spark.readStream.schema(schema).json(in)
    val q = IncrementalIngest
      .dedupWithinWatermark(stream, "ts", "key", watermark = "10 minutes")
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("parquet").option("path", out)
      .start()
    try {
      q.processAllAvailable()
      // duplicate in a later micro-batch, still inside the watermark
      writeBatch("b2.json", Seq(("b", "2026-01-01T10:01:00"), ("c", "2026-01-01T10:01:05")))
      q.processAllAvailable()
      val keys = spark.read.parquet(out).select($"key").as[String].collect().sorted.toSeq
      assert(keys == Seq("a", "b", "c"), s"one row per key within the watermark, got $keys")
    } finally q.stop()
  }

  test("stream-stream gap join equals the batch join; outer rows wait for eviction") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import ScaleOpsSpec.{SsjL => L, SsjR => R}
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
    val lRows = Seq(L("a", ts(0), 1), L("b", ts(2), 2), L("orphan", ts(3), 3))
    val rRows = Seq(R("a", ts(1), 10), R("b", ts(20), 20)) // b outside the 5-min gap
    val ls = MemoryStream[L]; val rs = MemoryStream[R]
    val joined = IncrementalIngest.joinStreamsWithinGap(
      ls.toDF(), "lkey", "lts", rs.toDF(), "rkey", "rts",
      watermark = "1 minute", maxGap = "5 minutes", joinType = "leftOuter")
    val q = joined.writeStream.format("memory").queryName("ssj").outputMode("append").start()
    try {
      ls.addData(lRows: _*); rs.addData(rRows: _*)
      q.processAllAvailable()
      val inner = spark.table("ssj").filter($"rkey".isNotNull)
        .select($"lkey", $"rv").as[(String, Int)].collect().toSet
      assert(inner == Set(("a", 10)),
        s"only the in-gap pair joins (b's match is 18 min away), got $inner")
      // advance both watermarks far past the data, twice (the watermark
      // is computed from the PREVIOUS batch's max event time)
      ls.addData(L("z", ts(50), 0)); rs.addData(R("z", ts(50), 0))
      q.processAllAvailable()
      ls.addData(L("z2", ts(55), 0)); rs.addData(R("z2", ts(55), 0))
      q.processAllAvailable()
      val outer = spark.table("ssj").filter($"rkey".isNull)
        .select($"lkey").as[String].collect().toSet
      assert(Set("b", "orphan").subsetOf(outer),
        s"unmatched left rows must surface after eviction, got $outer")
    } finally q.stop()
    // the same condition on the same data as a BATCH join gives the same matches
    val batch = lRows.toDF().join(rRows.toDF(),
        $"lkey" === $"rkey" && $"rts" >= $"lts" - expr("INTERVAL 5 minutes") &&
          $"rts" <= $"lts" + expr("INTERVAL 5 minutes"), "left_outer")
      .filter($"rkey".isNotNull).select($"lkey", $"rv").as[(String, Int)].collect().toSet
    assert(batch == Set(("a", 10)), "stream result must equal the batch semantics")
  }

  test("funnel advances only on strictly-later events in step order") {
    import graft.ops.Funnel
    val ev = Seq(
      // u1 completes the whole funnel in order
      (1L, 10L, "A"), (1L, 20L, "B"), (1L, 30L, "C"),
      // u2: B happens BEFORE A -> stuck at step 1 (the later B at t=15? none)
      (2L, 12L, "B"), (2L, 14L, "A"),
      // u3: B ties A's timestamp exactly -> strict > refuses the advance
      (3L, 50L, "A"), (3L, 50L, "B"),
      // u4: greedy-min works: earliest A at 1, B at 2 even though a
      // second A at 5 comes after B
      (4L, 1L, "A"), (4L, 5L, "A"), (4L, 2L, "B"), (4L, 3L, "C"),
      // u5: only C -> reaches nothing (step order matters)
      (5L, 9L, "C"))
      .toDF("user_id", "ts", "event_type")
    val got = Funnel.funnel(ev, "user_id", "ts", "event_type", Seq("A", "B", "C"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    assert(got.toSeq == Seq((1, "A", 4L), (2, "B", 2L), (3, "C", 2L)),
      s"u1..u4 have A (4); u1,u4 advance to B; u1,u4 to C — got ${got.toSeq}")
  }

  test("cohortRetention buckets by first-event week and counts returns exactly") {
    import graft.ops.Funnel
    val ev = Seq(
      (1L, 0L, "x"), (1L, 15L, "x"), (1L, 25L, "x"),  // cohort 0, buckets 0,1,2
      (2L, 12L, "x"), (2L, 35L, "x"),                  // cohort 1, buckets 1,3
      (2L, 13L, "x"))                                  // same bucket, must dedup
      .toDF("user_id", "ts", "event_type")
    val got = Funnel.cohortRetention(ev, "user_id", "ts", bucketNs = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((0L, 0L, 1L), (0L, 1L, 1L), (0L, 2L, 1L),
      (1L, 0L, 1L), (1L, 2L, 1L)))
  }

  test("pageRank matches a hand-rolled power iteration and holds its invariants") {
    import graft.ops.GraphOps
    // cycle + dangling chain + duplicate edge (must collapse)
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "d"), ("a", "d"))
      .toDF("s", "t")
    val got = GraphOps.pageRank(edges, "s", "t", iters = 4)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // reference power iteration (same simplified-dangling semantics)
    val e = Set(("a", "b"), ("b", "c"), ("c", "a"), ("a", "d"))
    val nodes = Seq("a", "b", "c", "d")
    val outDeg = e.groupBy(_._1).map { case (k, v) => k -> v.size }
    var r = nodes.map(_ -> 1.0 / 4).toMap
    for (_ <- 1 to 4) {
      r = nodes.map { v =>
        val in = e.filter(_._2 == v).toSeq.map(x => r(x._1) / outDeg(x._1)).sum
        v -> (0.15 / 4 + 0.85 * in)
      }.toMap
    }
    nodes.foreach { v =>
      assert(math.abs(got(v) - r(v)) < 1e-12, s"node $v: ${got(v)} vs ${r(v)}")
    }
    // on a pure cycle the uniform distribution is a fixed point
    val cyc = GraphOps.pageRank(
        Seq(("x", "y"), ("y", "z"), ("z", "x")).toDF("s", "t"), "s", "t", 5)
      .collect().map(_.getDouble(1))
    assert(cyc.forall(v => math.abs(v - 1.0 / 3) < 1e-12))
  }

  test("windowed event aggregation matches batch groupBy on the events table") {
    val ev = Tables.events(spark, sf)
      .withColumn("ts2", Tables.eventTime($"ts"))
    val agg = IncrementalIngest.windowedEventCounts(ev, "ts2", "1 hour", "1 minute")
    val total = agg.agg(sum($"n")).head().getLong(0)
    assert(total == ev.count())
  }

  test("streaming windowed HLL registers equal batch registers once the window closes") {
    import graft.ops.Sketch
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(java.sql.Timestamp, String)]
    val agg = IncrementalIngest.windowedHllRegisters(
      stream.toDS().toDF("ts", "user"), "ts", "user", "5 minutes", "1 minute")
    val q = agg.writeStream.format("memory").queryName("hll_win")
      .outputMode("append").start()
    try {
      def t(min: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$min%02d:00")
      val w1users = Seq("u1", "u2", "u3", "u1", "u4")
      stream.addData(w1users.map(u => (t(0), u)): _*)
      q.processAllAvailable()
      // a much later event advances the watermark past window 1's end,
      // so the closed window's registers emit (and its state evicts)
      stream.addData((t(12), "u9"))
      q.processAllAvailable()
      val streamed = spark.table("hll_win")
        .select($"register", $"rho").as[(Int, Int)].collect().toSet
      val batch = Sketch.hllRegisters(w1users.toDF("u"), "u")
        .as[(Int, Int)].collect().toSet
      assert(streamed == batch,
        "a closed window's streamed registers must equal the batch sketch " +
          "over that window's rows — same md5 construction, same estimate")
    } finally q.stop()
  }

  test("streaming windowed vocab buckets equal batch; closed windows score drift vs a reference") {
    import graft.ops.TextAnalysis
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(java.sql.Timestamp, String)]
    val agg = IncrementalIngest.windowedVocabBuckets(
      stream.toDS().toDF("ts", "text"), "ts", "text", "5 minutes", "1 minute")
    val q = agg.writeStream.format("memory").queryName("vocab_win")
      .outputMode("append").start()
    try {
      def t(min: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$min%02d:00")
      val w1 = Seq("alpha beta gamma", "alpha beta beta")     // on-reference
      val w2 = Seq("zz qq ww zz", "qq ww zz pp")              // drifted
      stream.addData(w1.map(d => (t(0), d)): _*)
      stream.addData(w2.map(d => (t(6), d)): _*)
      q.processAllAvailable()
      stream.addData((t(20), "late watermark push"))
      q.processAllAvailable()
      val streamed = spark.table("vocab_win")
        .select($"window.start".cast("string").as("__s"), $"__b", $"__c")
      // closed-window rows equal the batch distribution over the same docs
      val batchW1 = TextAnalysis.vocabBuckets(
        w1.map(d => ("w1", d)).toDF("s", "text"), "s", "text")
        .select($"__b", $"__c").as[(Int, Long)].collect().toSet
      val streamedW1 = streamed.filter($"__s".startsWith("2026-01-01 10:00"))
        .select($"__b", $"__c").as[(Int, Long)].collect().toSet
      assert(streamedW1 == batchW1,
        "a closed window's streamed buckets must equal the batch distribution")
      // drift scoring: reference = w1's own distribution → w1 scores 0,
      // the drifted window scores well above it
      val ref = TextAnalysis.vocabBuckets(
          w1.map(d => ("r", d)).toDF("s", "text"), "s", "text")
        .select($"__b", $"__c")
      val jsd = TextAnalysis.jsdToReference(streamed, ref)
        .collect().map(r => r.getString(0).take(16) -> r.getDouble(1)).toMap
      assert(jsd("2026-01-01 10:00") == 0.0, s"on-reference window: $jsd")
      assert(jsd("2026-01-01 10:05") > jsd("2026-01-01 10:00"), s"drift: $jsd")
    } finally q.stop()
  }

  test("stateful session history tracks across micro-batches with pop and reset semantics") {
    import graft.streaming.SessionState
    import graft.streaming.SessionState.Msg
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Msg]
    val q = SessionState.track(stream.toDS())
      .writeStream.format("memory").queryName("sess_updates").outputMode("append").start()
    try {
      stream.addData(Msg("s1", 1, "human", "hi"), Msg("s1", 2, "ai", "hello"))
      q.processAllAvailable()
      // second batch: tool pops the previous surviving (ai) message
      stream.addData(Msg("s1", 3, "tool", "result"), Msg("s1", 4, "human", "next"))
      q.processAllAvailable()
      // third batch: reset clears the session (new-client-id behavior)
      stream.addData(Msg("s1", 5, "reset", ""))
      q.processAllAvailable()
      val updates = spark.table("sess_updates")
        .select($"historyLen").as[Int].collect().toSeq
      assert(updates == Seq(2, 2, 0),
        "batch1: [human,ai]=2; batch2: tool pops ai, +human => 2; batch3: reset => 0")
    } finally q.stop()
  }

  test("streaming expectations gate: clean batches flow, violating batches quarantine with their report") {
    import graft.ops.Validate
    import graft.streaming.IncrementalIngest
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val qdir = Files.createTempDirectory("quarantine").toString
    val rules = Seq(Validate.NotNull("text"), Validate.Unique(Seq("id")))
    val processed = scala.collection.mutable.ArrayBuffer.empty[Long]
    val stream = MemoryStream[(Long, String)]
    val q = stream.toDS().toDF("id", "text").writeStream
      .outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, bid: Long) =>
        IncrementalIngest.gatedBatch(b, rules, qdir, bid) { clean =>
          processed ++= clean.select($"id").as[Long].collect()
        }
        ()
      }
      .start()
    try {
      stream.addData((1L, "ok"), (2L, "fine"))
      q.processAllAvailable()
      assert(processed.toSet == Set(1L, 2L), "clean batch must reach process")
      // duplicate id violates Unique: batch quarantined, never processed
      stream.addData((3L, "x"), (3L, "y"))
      q.processAllAvailable()
      assert(processed.toSet == Set(1L, 2L), "violating batch must not flow")
      val qdirs = new java.io.File(qdir).listFiles().map(_.getName).toSeq
      assert(qdirs.size == 1 && qdirs.head.startsWith("batch="))
      val rows = spark.read.parquet(s"$qdir/${qdirs.head}/rows")
      assert(rows.count() == 2, "the failed drop is preserved byte-for-byte")
      val rep = spark.read.parquet(s"$qdir/${qdirs.head}/report")
      val bad = rep.filter(!$"passed").select($"rule").as[String].collect().toSeq
      assert(bad == Seq("unique"), "the report names the violated expectation")
    } finally q.stop()
  }

  test("multimodal: binaryFile read, segment sampling, and feature extraction into the vector ops") {
    val dir = Files.createTempDirectory("media").toString
    Files.write(java.nio.file.Paths.get(dir, "a.img"), Array.fill[Byte](100)(7))
    Files.write(java.nio.file.Paths.get(dir, "b.img"), Array.tabulate[Byte](300)(i => (i % 97).toByte))
    val media = Multimodal.readMediaDir(spark, dir, "image")
    assert(media.count() == 2)
    assert(media.schema.fieldNames.toSet == Set("media_id", "kind", "bytes", "meta"))

    val segs = Multimodal.sampleSegments(media, 128)
    assert(segs.filter($"media_id" === "b.img").count() == 3)

    val feats = Multimodal.extractFeatures(media, Multimodal.FakeDecoder(16))
    val rows = feats.collect()
    assert(rows.forall(_.getAs[Seq[Float]]("features").length == 16))
    assert(rows.forall(_.getAs[Map[String, String]]("probe").contains("size_bytes")))
    // features flow into the similarity operator unchanged
    val qv = rows.head.getAs[Seq[Float]]("features").toArray
    val knn = Similarity.knn(feats.select($"media_id", $"features"), "features", qv, 1)
    assert(knn.select($"media_id").as[String].head() == rows.head.getString(0))
  }

  test("IVF: full probe equals brute force; partial probe prunes partitions and stays a subset") {
    val emb = Tables.embeddings(spark, sf)
    val model = Ivf.fit(emb, "vec_id", "embedding", k = 8)
    assert(model.centroids.length == 8)

    val dir = Files.createTempDirectory("ivf").toString + "/store"
    Ivf.writePartitioned(emb, "embedding", model, dir)
    val store = spark.read.parquet(dir)
    assert(store.schema.fieldNames.contains("cluster_id"))

    val qv = emb.filter($"vec_id" === 0).select($"embedding").head.getSeq[Float](0).toArray
    val exact = Similarity.knn(emb.select($"vec_id", $"embedding"), "embedding", qv, 10)
      .select($"vec_id").as[Long].collect().toSeq
    val full = Ivf.search(store, "embedding", model, qv, 10, nProbe = 8)
      .select($"vec_id").as[Long].collect().toSeq
    assert(full == exact, "nProbe = k must equal brute force")

    val partial = Ivf.search(store, "embedding", model, qv, 10, nProbe = 2)
    val plan = partial.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cluster_id".r.findFirstIn(plan).isDefined,
      s"probe filter must be a partition filter in the scan node:\n$plan")
    val got = partial.select($"vec_id").as[Long].collect().toSeq
    assert(got.size == 10)
    val recall = got.count(exact.contains) / 10.0
    assert(recall > 0.0, "partial probe should find at least some true neighbors")
  }

  test("IVF partial probe: recall@10 = 1 on planted clusters, one probed partition") {
    // four orthogonal, widely-separated clusters with tiny jitter: a
    // 1-probe search must find the full exact top-10 (the probed
    // partition contains the whole true cluster), measured — not just
    // recall > 0. The model is constructed directly so k-means init
    // randomness cannot blur what partial-probe search guarantees.
    val rnd = new scala.util.Random(11)
    val dim = 16
    val centers = Array.tabulate(4)(c => Array.tabulate(dim)(i => if (i / 4 == c) 10f else 0f))
    val pts = (0 until 200).map { i =>
      val c = i % 4
      (i.toLong, centers(c).map(v => v + rnd.nextGaussian().toFloat * 0.05f).toSeq)
    }
    val df = pts.toDF("vec_id", "embedding")
    val model = Ivf.IvfModel(centers)
    val dir = Files.createTempDirectory("ivf-planted").toString + "/store"
    Ivf.writePartitioned(df, "embedding", model, dir)
    val store = spark.read.parquet(dir)
    for (c <- 0 until 4) {
      val exact = Similarity.knn(df, "embedding", centers(c), 10)
        .select($"vec_id").as[Long].collect().toSet
      val got = Ivf.search(store, "embedding", model, centers(c), 10, nProbe = 1)
        .select($"vec_id").as[Long].collect().toSet
      assert(got.count(exact.contains) == 10, s"cluster $c: recall@10 must be 1.0")
    }
  }

  test("IVF batch: full probe equals the exhaustive similarity join; partial probe prunes to the probed union") {
    val emb = Tables.embeddings(spark, sf)
    val model = Ivf.fit(emb, "vec_id", "embedding", k = 8)
    val q = emb.filter($"vec_id" < 10).select($"vec_id".as("query_id"), $"embedding")
    val c = emb.filter($"vec_id" >= 10).select($"vec_id", $"embedding")

    val exhaustive = Similarity
      .similarityJoin(q, c, "query_id", "embedding", "vec_id", "embedding", k = 4)
      .select($"query_id", $"rank", $"vec_id", round($"score", 9).as("s"))
      .as[(Long, Int, Long, Double)].collect().toSet
    val batchFull = Ivf
      .searchBatch(q, Ivf.assign(c, "embedding", model), "query_id", "embedding",
        "vec_id", "embedding", model, topK = 4, nProbe = 8)
      .select($"query_id", $"rank", $"vec_id", round($"score", 9).as("s"))
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(batchFull == exhaustive, "nProbe = k must equal similarityJoin bit-for-bit")

    // partial probe over a written partitioned store: the scan's
    // PartitionFilters must carry the cluster predicate (static pruning
    // of everything outside the probed union)
    val dir = Files.createTempDirectory("ivf-batch").toString + "/store"
    Ivf.writePartitioned(c, "embedding", model, dir)
    val store = spark.read.parquet(dir)
    // the model artifact travels with the store it partitioned (probing
    // with a different model silently loses rows) and round-trips exactly
    // (Float.toString is shortest-exact); the _-prefixed sidecar is
    // invisible to the parquet scan
    val loaded = Ivf.loadModel(spark, s"$dir/_ivf_model")
    assert(loaded.centroids.map(_.toSeq).toSeq == model.centroids.map(_.toSeq).toSeq)
    assert(store.count() == c.count(), "model sidecar must not pollute the scan")
    val partial = Ivf.searchBatch(q, store, "query_id", "embedding",
      "vec_id", "embedding", model, topK = 4, nProbe = 2)
    val plan = partial.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cluster_id".r.findFirstIn(plan).isDefined,
      s"probe union must be a partition filter in the scan node:\n$plan")
    // every query still gets k results, each from its own probed clusters
    val rows = partial.groupBy($"query_id").count().as[(Long, Long)].collect().toMap
    assert(rows.size == 10 && rows.values.forall(_ == 4))
  }

  test("IVF batch partial probe: recall@10 = 1 per query on planted clusters, scan limited to probed union") {
    // same planted geometry as the single-query spec: 4 orthogonal
    // clusters; a batch of 4 queries (one per center) at nProbe=1 must
    // each recover their full exact top-10, and the scan must read only
    // the 4 probed partitions (here: all distinct, union of size 4).
    val rnd = new scala.util.Random(13)
    val dim = 16
    val centers = Array.tabulate(4)(c => Array.tabulate(dim)(i => if (i / 4 == c) 10f else 0f))
    val pts = (0 until 200).map { i =>
      val c = i % 4
      (i.toLong, centers(c).map(v => v + rnd.nextGaussian().toFloat * 0.05f).toSeq)
    }
    val df = pts.toDF("vec_id", "embedding")
    val model = Ivf.IvfModel(centers)
    val dir = Files.createTempDirectory("ivf-batch-planted").toString + "/store"
    Ivf.writePartitioned(df, "embedding", model, dir)
    val store = spark.read.parquet(dir)
    val queries = centers.zipWithIndex
      .map { case (v, i) => (1000L + i, v.toSeq) }.toSeq.toDF("query_id", "embedding")
    val got = Ivf.searchBatch(queries, store, "query_id", "embedding",
        "vec_id", "embedding", model, topK = 10, nProbe = 1)
      .select($"query_id", $"vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (k, v) => (k, v.map(_._2).toSet) }
    for (c <- 0 until 4) {
      val exact = Similarity.knn(df, "embedding", centers(c), 10)
        .select($"vec_id").as[Long].collect().toSet
      assert(got(1000L + c).count(exact.contains) == 10, s"query $c: batch recall@10 must be 1.0")
    }
  }

  test("IVF recall on a clustered fixture: fitted index, monotone nprobe sweep, full probe exact, near-balanced layout") {
    // The planted-cluster specs above construct the model DIRECTLY to
    // isolate what probe search guarantees; this one runs the REAL fit
    // (indexStore) on a deterministic clustered fixture — the geometry
    // IVF's premise holds on — so the recall/cost story is empirical:
    // the near-uniform embeddings table gives nprobe=1 recall ≈ 1/k
    // (every cluster equally plausible, SCALE.md), here it must be
    // materially high, monotone in nprobe, and exact at full probe.
    import graft.ops.VersionedStore
    val (df0, centers) = EmbeddingFixtures.clusteredEmbeddings(
      spark, k = 8, perCluster = 250, dim = 32)
    val df = df0.persist()
    val table = Files.createTempDirectory("ivf-clustered").toString + "/store"
    VersionedStore.append(spark, table, df)
    val model = Ivf.indexStore(spark, table, "vec_id", "embedding", k = 8)
    val store = VersionedStore.read(spark, table).get.persist()
    // the fitted layout stays under the drift advisor's 4.0 threshold —
    // its empirical healthy baseline. (Exactly 2.0 here: the hash init
    // seeds two centroids in one planted cluster and Lloyd's local
    // minimum keeps a merged pair — realistic k-means behavior, and
    // precisely the case the probe sweep below must stay robust to.)
    val ratio = Ivf.imbalanceRatio(spark, table).get
    assert(ratio <= 2.5, f"fitted clustered layout should be well under the 4.0 " +
      f"drift threshold, got ${ratio}%.2fx")
    val exactByQ = centers.map { q =>
      Similarity.knn(df, "embedding", q, 10).select($"vec_id").as[Long].collect().toSet
    }
    val recalls = Seq(1, 2, 4, 8).map { p =>
      val perQ = centers.zip(exactByQ).map { case (q, exact) =>
        val got = Ivf.search(store, "embedding", model, q, 10, nProbe = p,
            storePath = Some(table))
          .select($"vec_id").as[Long].collect().toSet
        got.count(exact.contains) / 10.0
      }
      perQ.sum / perQ.length
    }
    df.unpersist(); store.unpersist(): Unit
    assert(recalls == recalls.sorted, s"recall must be monotone in nprobe: $recalls")
    assert(recalls.last == 1.0, s"full probe must recover the exact top-10: $recalls")
    assert(recalls.head >= 0.7,
      s"on clustered data nprobe=1 recall must be materially above the 1/k floor: $recalls")
  }

  test("IVF maintenance: indexStore partitions a versioned store, assigned appends keep pruning, mismatched models throw") {
    import graft.ops.VersionedStore
    val emb = Tables.embeddings(spark, sf).select($"vec_id", $"embedding")
    val n = emb.count()
    val table = Files.createTempDirectory("ivf-maint").toString + "/store"
    VersionedStore.append(spark, table, emb.filter($"vec_id" % 4 === 0))
    val model = Ivf.indexStore(spark, table, "vec_id", "embedding", k = 8)
    // grow by 3 appends through the maintenance path (what Ingest.ingest
    // uses once a store carries a model sidecar)
    for (r <- 1 to 3) {
      val part = emb.filter($"vec_id" % 4 === r)
      assert(Ivf.appendAssigned(spark, table, part, "embedding") == part.count())
    }
    val store = VersionedStore.read(spark, table).get
    assert(store.count() == n, "all appended rows must stay visible")
    assert(store.schema.fieldNames.contains("cluster_id"),
      "appends must not degrade the clustered layout")

    val q = emb.filter($"vec_id" < 10).select($"vec_id".as("query_id"), $"embedding")
    val exhaustive = Similarity
      .similarityJoin(q, emb, "query_id", "embedding", "vec_id", "embedding", k = 4)
      .select($"query_id", $"rank", $"vec_id", round($"score", 9).as("s"))
      .as[(Long, Int, Long, Double)].collect().toSet
    val full = Ivf.searchBatch(q, store, "query_id", "embedding", "vec_id", "embedding",
        model, topK = 4, nProbe = 8, storePath = Some(table))
      .select($"query_id", $"rank", $"vec_id", round($"score", 9).as("s"))
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(full == exhaustive,
      "full probe on the grown store must equal the exhaustive join bit-for-bit")

    val partial = Ivf.searchBatch(q, store, "query_id", "embedding", "vec_id", "embedding",
      model, topK = 4, nProbe = 2, storePath = Some(table))
    val plan = partial.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cluster_id".r.findFirstIn(plan).isDefined,
      s"probe union must stay a partition filter on the grown store:\n$plan")

    // a stale/foreign model must throw loudly instead of silently
    // pruning away matching rows (the scan predicate hides the loss)
    val other = Ivf.IvfModel(model.centroids.map(_.map(_ + 1f)))
    val err = intercept[IllegalArgumentException] {
      Ivf.searchBatch(q, store, "query_id", "embedding", "vec_id", "embedding",
        other, topK = 4, nProbe = 2, storePath = Some(table))
    }
    assert(err.getMessage.contains("fingerprint"))
    intercept[IllegalArgumentException] {
      Ivf.search(store, "embedding", other, model.centroids(0), 4, nProbe = 2,
        storePath = Some(table))
    }
    // without a sidecar there is nothing to verify against: also loud
    intercept[IllegalArgumentException] {
      Ivf.search(store, "embedding", model, model.centroids(0), 4, nProbe = 2,
        storePath = Some(table + "-nonexistent"))
    }
    // a FLAT append into the clustered store must be refused at write
    // time (it would break every subsequent read), and the refused
    // segment must not leak into the table
    val err2 = intercept[IllegalStateException] {
      VersionedStore.appendNonEmpty(spark, table, emb.limit(5))
    }
    assert(err2.getMessage.contains("layout mismatch"))
    assert(VersionedStore.read(spark, table).get.count() == n,
      "the refused append must leave the table untouched")
    // stale-assignment race: a segment whose rows were assigned under a
    // DIFFERENT model (bypassing appendAssigned) passes the sidecar
    // fingerprint check but must fail the per-segment stamp check
    VersionedStore.appendNonEmpty(spark, table,
      Ivf.assign(emb.limit(3), "embedding", other),
      partitionBy = Seq("cluster_id"), marker = Some(other.fingerprint))
    val err3 = intercept[IllegalArgumentException] {
      Ivf.searchBatch(q, VersionedStore.read(spark, table).get,
        "query_id", "embedding", "vec_id", "embedding",
        model, topK = 4, nProbe = 2, storePath = Some(table))
    }
    assert(err3.getMessage.contains("not assigned by"))
  }

  test("model guard memoizes per (table, manifest version): one full check per version, re-armed by a commit") {
    import graft.ops.VersionedStore
    val emb = Tables.embeddings(spark, sf).select($"vec_id", $"embedding")
    val table = Files.createTempDirectory("ivf-memo").toString + "/store"
    VersionedStore.append(spark, table, emb.filter($"vec_id" % 2 === 0))
    val model = Ivf.indexStore(spark, table, "vec_id", "embedding", k = 4)
    val q = model.centroids(0)
    val store = VersionedStore.read(spark, table).get
    val c0 = Ivf.guardFullChecks.get()
    Ivf.search(store, "embedding", model, q, 4, nProbe = 2, storePath = Some(table)).count()
    Ivf.search(store, "embedding", model, q, 4, nProbe = 2, storePath = Some(table)).count()
    assert(Ivf.guardFullChecks.get() == c0 + 1,
      "repeated probes at one version must pay ONE full per-segment check")
    // a commit (assigned append) publishes a new version — the guard
    // must re-verify rather than trust the memo
    Ivf.appendAssigned(spark, table, emb.filter($"vec_id" % 2 === 1), "embedding")
    val grown = VersionedStore.read(spark, table).get
    Ivf.search(grown, "embedding", model, q, 4, nProbe = 2, storePath = Some(table)).count()
    assert(Ivf.guardFullChecks.get() == c0 + 2, "a new commit re-arms the full check")
    // the re-armed check still rejects a foreign model (never memoized
    // for a fingerprint that did not pass)
    val other = Ivf.IvfModel(model.centroids.map(_.map(_ + 1f)))
    intercept[IllegalArgumentException] {
      Ivf.search(grown, "embedding", other, q, 4, nProbe = 2, storePath = Some(table))
    }
  }

  test("versioned store: a flat append racing a clustered swap is refused at COMMIT time; repairMixedLayout recovers a mixed table") {
    import graft.ops.VersionedStore
    val emb = Tables.embeddings(spark, sf).select($"vec_id", $"embedding")
    val evens = emb.filter($"vec_id" % 2 === 0)
    val table = Files.createTempDirectory("vs-race").toString + "/store"
    VersionedStore.append(spark, table, evens)
    // interleaving: the append's segment lands while the table is still
    // flat (a pre-commit layout check would pass here)...
    val flatSeg = VersionedStore.writeSegment(spark, table, emb.limit(5))
    // ...then the clustered swap wins the version race
    Ivf.indexStore(spark, table, "vec_id", "embedding", k = 4)
    // the commit must re-check layout against the FRESH segment list on
    // its CAS attempt — publishing flatSeg would make every read throw
    val err = intercept[IllegalStateException] {
      VersionedStore.commitAppend(spark, table, flatSeg)
    }
    assert(err.getMessage.contains("layout mismatch"))
    val n = evens.count()
    assert(VersionedStore.read(spark, table).get.count() == n,
      "the refused racing append must leave the table intact")

    // opposite interleaving: the flat append COMMITS first, mid-swap —
    // preserving it would publish a mixed table, so the layout-changing
    // compaction must abandon (loud retry, never corruption)
    val table2 = Files.createTempDirectory("vs-race2").toString + "/store"
    VersionedStore.append(spark, table2, evens)
    val model = Ivf.fit(evens, "vec_id", "embedding", k = 4)
    val (_, nFiles) = VersionedStore.compact(spark, table2,
      reshape = df => {
        VersionedStore.append(spark, table2, emb.limit(3)): Unit // the racing flat append
        Ivf.assign(df, "embedding", model)
      },
      partitionBy = Seq("cluster_id"))
    assert(nFiles == 0, "a layout-changing swap over a flat survivor must abandon")
    val after = VersionedStore.read(spark, table2).get
    assert(after.count() == n + 3, "both the original rows and the racing append survive")
    assert(!after.schema.fieldNames.contains("cluster_id"),
      "the abandoned swap must not have published its layout")

    // recovery: force a mixed state through a raw commit (an out-of-band
    // writer) — reads fail loudly with a pointer at the repair, and the
    // repair restores a readable flat table with every row intact
    val rogue = VersionedStore.writeSegment(spark, table, emb.limit(5))
    VersionedStore.commit(spark, table, cur => cur :+ rogue)
    val readErr = intercept[IllegalStateException] {
      VersionedStore.read(spark, table).get.count()
    }
    assert(readErr.getMessage.contains("repairMixedLayout"))
    assert(VersionedStore.repairMixedLayout(spark, table).isDefined)
    assert(VersionedStore.read(spark, table).get.count() == n + 5)
    assert(VersionedStore.repairMixedLayout(spark, table).isEmpty,
      "a consistent table is a no-op repair")
    // post-repair lifecycle: the stale model sidecar is retired, so (a)
    // layout-respecting appends degrade to FLAT (an assigned append into
    // the flat table would be refused and leave the store append-dead),
    // (b) probes fail loudly until re-index, (c) indexStore restores the
    // clustered layout and probes serve again
    assert(!graft.Fs.exists(spark, Ivf.modelPath(table)),
      "repair must retire the sidecar describing the lost layout")
    val n2 = graft.ops.Ingest.appendRespectingLayout(spark, table, emb.limit(7))
    assert(n2 == 7, "a repaired store must accept appends (flat) again")
    val probeErr = intercept[IllegalArgumentException] {
      Ivf.search(VersionedStore.read(spark, table).get, "embedding",
        Ivf.IvfModel(Array(Array(0f))), Array(0f), 4, nProbe = 1,
        storePath = Some(table))
    }
    assert(probeErr.getMessage.contains("no _ivf_model"))
    val m2 = Ivf.indexStore(spark, table, "vec_id", "embedding", k = 4)
    assert(Ivf.search(VersionedStore.read(spark, table).get, "embedding",
      m2, m2.centroids(0), 4, nProbe = 4, storePath = Some(table)).count() == 4)
  }

  test("SQ8 coarse + exact rescore equals exact knn on every metric; the coarse scan never reads the float column") {
    import graft.ops.Quantize
    val emb = Tables.embeddings(spark, sf).select($"vec_id", $"embedding")
    val dir = Files.createTempDirectory("qstore").toString + "/emb"
    Quantize.withQuantized(emb, "embedding").write.parquet(dir)
    val store = spark.read.parquet(dir)
    val qv = emb.filter($"vec_id" === 0).select($"embedding").head.getSeq[Float](0).toArray
    val corpus = store.filter($"vec_id" =!= 0)
    for (metric <- Seq("COSINE", "DOT_PRODUCT", "EUCLIDEAN_DISTANCE")) {
      val exact = Similarity.knn(corpus.select($"vec_id", $"embedding"),
          "embedding", qv, 10, metric)
        .select($"vec_id", round($"score", 9).as("s")).as[(Long, Double)].collect().toSeq
      val quant = Quantize.knnQuantizedRescore(corpus, "vec_id", "embedding", qv, 10, metric)
        .select($"vec_id", round($"score", 9).as("s")).as[(Long, Double)].collect().toSeq
      assert(quant == exact,
        s"$metric: the true top-10 must survive the 4x coarse cut and rescore exactly")
    }
    // the coarse pass is the scan-IO win: its read schema must carry the
    // int8 codes + params, never the float embedding column
    val coarsePlan = Quantize.coarseCandidates(store, "vec_id", "embedding", qv, 40, "COSINE")
      .queryExecution.executedPlan.toString
    val schemas = coarsePlan.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(schemas.nonEmpty && schemas.forall(!_.contains("embedding:array<float>")),
      s"coarse candidates must scan only quantized columns:\n$coarsePlan")
    // composed serving stack: IVF-partitioned + quantized store — one
    // coarse plan carries BOTH partition pruning (probed clusters) and
    // the float-free read schema; full probe + rescore equals exact knn
    val ivfqDir = Files.createTempDirectory("ivfq").toString + "/emb"
    val model = Ivf.fit(emb, "vec_id", "embedding", k = 4)
    Ivf.writePartitioned(graft.ops.Quantize.withQuantized(emb, "embedding"),
      "embedding", model, ivfqDir)
    val ivfq = spark.read.parquet(ivfqDir)
    val probes2 = model.probeOrder(qv).take(2).toSeq
    val partialPlan = Quantize.coarseCandidates(
        ivfq.filter($"cluster_id".isin(probes2: _*)), "vec_id", "embedding", qv, 40, "COSINE")
      .queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cluster_id".r.findFirstIn(partialPlan).isDefined,
      s"probe must prune partitions on the quantized store:\n$partialPlan")
    assert(partialPlan.linesIterator.filter(_.contains("ReadSchema"))
      .forall(!_.contains("embedding:array<float>")),
      s"the pruned coarse scan must stay float-free:\n$partialPlan")
    val fullProbe = Quantize.knnQuantizedRescore(
        ivfq.filter($"cluster_id".isin(model.probeOrder(qv).toSeq: _*) && $"vec_id" =!= 0),
        "vec_id", "embedding", qv, 10)
      .select($"vec_id", round($"score", 9).as("s")).as[(Long, Double)].collect().toSeq
    val exactAll = Similarity.knn(emb.filter($"vec_id" =!= 0), "embedding", qv, 10)
      .select($"vec_id", round($"score", 9).as("s")).as[(Long, Double)].collect().toSeq
    assert(fullProbe == exactAll,
      "full-probe quantized IVF must equal exact knn bit for bit")

    // degenerate vectors: a constant vector round-trips exactly (scale
    // 0, deq = qmin); a null embedding yields null codes and is dropped
    // from search like everywhere else in the engine
    val weird = Quantize.withQuantized(
      Seq((1L, Some(Seq(2f, 2f, 2f))), (2L, Option.empty[Seq[Float]]))
        .toDF("vec_id", "embedding"), "embedding")
    val got = Quantize.knnQuantizedRescore(weird, "vec_id", "embedding",
        Array(1f, 1f, 1f), k = 2, metric = "DOT_PRODUCT")
      .select($"vec_id", round($"score", 6).as("s")).as[(Long, Double)].collect().toSeq
    assert(got == Seq((1L, 6.0)), s"constant vector must dequantize exactly: $got")
  }

  test("rescore candidate prune: IN literal while small, broadcast semi-join past the cliff — results identical") {
    import graft.ops.Quantize
    // 1500-row corpus: k*overfetch beyond 1024 must NOT compile a
    // 1500-node IN predicate into the plan
    val corpus = Quantize.withQuantized(
      (1 to 1500).map(i => (i.toLong,
        Array.tabulate(8)(j => ((i * 31 + j * 7) % 97) / 97f))).toDF("vec_id", "embedding"),
      "embedding")
      .localCheckpoint()
    val qv = Array.tabulate(8)(j => (j % 3) / 3f)
    val small = Quantize.knnQuantizedRescore(corpus, "vec_id", "embedding", qv,
      k = 5, overfetch = 4)
    val smallPlan = small.queryExecution.executedPlan.toString
    assert(smallPlan.contains(" IN ") || smallPlan.contains("INSET"),
      s"small candidate sets keep the scan-prunable IN literal:\n$smallPlan")
    val big = Quantize.knnQuantizedRescore(corpus, "vec_id", "embedding", qv,
      k = 64, overfetch = 64) // 4096 candidates, capped at |corpus| = 1500
    val bigPlan = big.queryExecution.executedPlan.toString
    assert(!bigPlan.contains(" IN ") && !bigPlan.contains("INSET"),
      s"large candidate sets must not compile an IN literal:\n$bigPlan")
    assert(bigPlan.contains("LeftSemi"),
      s"large candidate sets prune through a broadcast semi-join:\n$bigPlan")
    // both paths stay the exact-rescore result: corpus-covering
    // overfetch equals exact knn regardless of prune strategy
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select($"vec_id", round($"score", 9).as("s")).as[(Long, Double)].collect().toSeq
    assert(pairs(Quantize.knnQuantizedRescore(corpus, "vec_id", "embedding", qv,
        k = 10, overfetch = 500)) == // 5000 > cliff AND corpus-covering
      pairs(Similarity.knn(corpus.select($"vec_id", $"embedding"), "embedding", qv, 10)))
  }

  test("quantized store maintenance: the seam derives SQ8 columns on append; composes with IVF; search stays exact") {
    import graft.ops.{Quantize, VersionedStore}
    val emb = Tables.embeddings(spark, sf).select($"vec_id", $"embedding")
    val table = Files.createTempDirectory("sq8-maint").toString + "/store"
    VersionedStore.append(spark, table, emb.filter($"vec_id" % 2 === 0))
    Quantize.quantizeStore(spark, table, "embedding")
    assert(graft.Fs.readString(spark, Quantize.markerPath(table)).trim == "embedding")
    // an append of BARE rows through the seam must arrive quantized —
    // without the derivation the strict union would kill every read
    val odd = emb.filter($"vec_id" % 2 === 1)
    assert(graft.ops.Ingest.appendRespectingLayout(spark, table, odd) == odd.count())
    val grown = VersionedStore.read(spark, table).get
    assert(grown.schema.fieldNames.contains("embedding_q"),
      "appends must keep the quantized layout")
    // a BARE append around the seam (e.g. racing the marker write) must
    // be refused at COMMIT time on the schema-set check — publishing it
    // would kill every read on the strict union
    val bareErr = intercept[IllegalStateException] {
      VersionedStore.appendNonEmpty(spark, table, emb.limit(3))
    }
    assert(bareErr.getMessage.contains("schema mismatch"))
    assert(VersionedStore.read(spark, table).get.count() == grown.count(),
      "the refused bare append must leave the table untouched")
    val qv = emb.filter($"vec_id" === 0).select($"embedding").head.getSeq[Float](0).toArray
    def asPairs(df: org.apache.spark.sql.DataFrame) =
      df.select($"vec_id", round($"score", 9).as("s")).as[(Long, Double)].collect().toSeq
    assert(
      asPairs(Quantize.knnQuantizedRescore(grown.filter($"vec_id" =!= 0),
        "vec_id", "embedding", qv, 10)) ==
      asPairs(Similarity.knn(emb.filter($"vec_id" =!= 0), "embedding", qv, 10)),
      "quantized search on the grown store must equal exact knn")
    // compose with IVF maintenance: index the quantized store in place,
    // then append again — rows arrive quantized AND cluster-assigned
    Ivf.indexStore(spark, table, "vec_id", "embedding", k = 2)
    val extra = emb.limit(5).select(($"vec_id" + 1000000L).as("vec_id"), $"embedding")
    assert(graft.ops.Ingest.appendRespectingLayout(spark, table, extra) == 5)
    val both = VersionedStore.read(spark, table).get
    assert(both.schema.fieldNames.contains("embedding_q") &&
      both.schema.fieldNames.contains("cluster_id"),
      "the seam must maintain BOTH layouts at once")
    assert(both.count() == emb.count() + 5)

    // reverse order — index FIRST, then quantize: the rewrite must keep
    // the clustered layout and re-stamp the segment, so the probe guard
    // still passes and probed search serves the quantized store
    val table2 = Files.createTempDirectory("sq8-maint2").toString + "/store"
    VersionedStore.append(spark, table2, emb)
    val m2 = Ivf.indexStore(spark, table2, "vec_id", "embedding", k = 2)
    Quantize.quantizeStore(spark, table2, "embedding")
    val st2 = VersionedStore.read(spark, table2).get
    assert(st2.schema.fieldNames.contains("cluster_id") &&
      st2.schema.fieldNames.contains("embedding_q"))
    val probed = Ivf.search(st2, "embedding", m2, qv, 4, nProbe = 2,
      storePath = Some(table2)) // stamp check must accept the rewritten segment
    assert(probed.count() == 4)
  }

  test("IVF assign: a NULL embedding lands in the null partition, never cluster 0") {
    val model = Ivf.IvfModel(Array(Array(0f, 0f), Array(10f, 10f)))
    val rows = Seq(
      (1L, Some(Seq(0.1f, 0.2f))), (2L, Option.empty[Seq[Float]])
    ).toDF("id", "embedding")
    val got = Ivf.assign(rows, "embedding", model)
      .select($"id", $"cluster_id").as[(Long, Option[Int])].collect().toMap
    assert(got(1L).contains(0))
    assert(got(2L).isEmpty,
      "null embedding must yield a null cluster id (Hive default partition)")
  }

  test("range join: bin equi-join matches naive BETWEEN; an over-cap interval fails loudly instead of OOMing") {
    import graft.ops.RangeJoin
    val pts = (1 to 200).map(i => (i.toLong, i.toDouble)).toDF("pid", "v")
    val iv = Seq((1L, 10.0, 30.0), (2L, 95.5, 120.5), (3L, 180.0, 180.0))
      .toDF("iid", "lo", "hi")
    val got = RangeJoin.binned(pts, "v", iv, "lo", "hi", binWidth = 7.0)
      .select($"iid", $"pid").as[(Long, Long)].collect().toSet
    val want = (for {
      (iid, lo, hi) <- Seq((1L, 10.0, 30.0), (2L, 95.5, 120.5), (3L, 180.0, 180.0))
      p <- 1 to 200 if p >= lo && p <= hi
    } yield (iid, p.toLong)).toSet
    assert(got == want)
    // one pathological interval must fail the query loudly — the explode
    // would otherwise materialize the full bin array and OOM the task
    val bad = Seq((9L, 0.0, 1.0e12)).toDF("iid", "lo", "hi")
    val err = intercept[Exception] {
      RangeJoin.binned(pts, "v", bad, "lo", "hi", binWidth = 1.0,
        maxBinsPerInterval = 1000).count()
    }
    assert(err.toString.contains("bins") || err.getCause != null)
  }

  test("as-of join: tolerance nulls far matches; null keys/times never match; exclusive skips same-instant rows") {
    import graft.ops.AsOf
    val left = Seq(
      (Option(1L), Option(10L), "a"), (Option(1L), Option(100L), "b"),
      (Option.empty[Long], Option(50L), "x"), (Option(2L), Option.empty[Long], "y"),
      (Option(3L), Option(7L), "z")
    ).toDF("k", "t", "tag")
    val right = Seq(
      (Option(1L), Option(8L), "p8"), (Option(1L), Option(15L), "p15"),
      (Option.empty[Long], Option(1L), "pn"), (Option(3L), Option.empty[Long], "pz"),
      (Option(2L), Option(3L), "p2")
    ).toDF("k", "t", "pay")
    def run(tol: Option[org.apache.spark.sql.Column]) =
      AsOf.asOfJoin(left, right, "k", "t", tolerance = tol)
        .select($"tag", $"asof_pay").as[(String, Option[String])]
        .collect().toMap
    val plain = run(None)
    assert(plain("a").contains("p8") && plain("b").contains("p15"))
    assert(plain("x").isEmpty, "null-keyed left row must not match null-keyed right rows")
    assert(plain("y").isEmpty, "null-timed left row has no defined position, so no match")
    assert(plain("z").isEmpty, "null-timed right rows are dropped")
    val tol = run(Some(lit(5L)))
    assert(tol("a").contains("p8"), "gap 2 <= 5 keeps the match")
    assert(tol("b").isEmpty, "gap 85 > 5 nulls the payload as if absent")
    // exclusive: a same-instant right row is invisible
    val at15 = Seq((Option(1L), Option(15L), "e")).toDF("k", "t", "tag")
    val excl = AsOf.asOfJoin(at15, right, "k", "t", inclusive = false)
      .select($"asof_pay").as[String].head()
    assert(excl == "p8")
    val incl = AsOf.asOfJoin(at15, right, "k", "t")
      .select($"asof_pay").as[String].head()
    assert(incl == "p15")
    // a right payload column named like the internal matched-time field
    // would duplicate struct fields — refused up front, not a silent
    // ambiguous resolution
    val clash = Seq((Option(1L), Option(8L), "v")).toDF("k", "t", "__rt")
    val collErr = intercept[IllegalArgumentException] {
      AsOf.asOfJoin(at15, clash, "k", "t")
    }
    assert(collErr.getMessage.contains("__rt"))
  }

  test("bm25: indexed path equals the scan path bit-for-bit; postings prune by term bucket; result re-derives no corpus scan") {
    import graft.ops.Keyword
    val docs = Tables.documents(spark, sf)
    val terms = Seq("spark", "vector", "merge", "window")
    val direct = Keyword.bm25(docs, "doc_id", "text", terms, topK = 15)
    // the returned frame is materialized: a consumer that references the
    // ranking twice (both hybrid-fusion legs, a join plus a filter...)
    // must never re-derive the corpus tokenize subtree
    assert(!direct.queryExecution.executedPlan.toString.contains("FileScan"),
      "bm25 result must be a materialized local scan, not a live corpus plan")
    val idx = Files.createTempDirectory("lexidx").toString
    Keyword.buildLexicalIndex(docs, "doc_id", "text", idx)
    val indexed = Keyword.bm25Indexed(spark, idx, terms, topK = 15, idName = "doc_id")
    val plan = indexed.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*bucket".r.findFirstIn(plan).isDefined,
      s"query terms must prune postings buckets at the file index:\n$plan")
    // dl rides on the posting: the query must touch NOTHING that grows
    // with the corpus — no doclen table, no second scan of any kind
    assert(!plan.contains("doclen"),
      s"length normalization must come from the posting rows, not an O(N) doclen join:\n$plan")
    assert(plan.linesIterator.filter(_.contains("FileScan")).forall(_.contains("postings")),
      s"the indexed query must scan only the pruned postings:\n$plan")
    val a = direct.orderBy($"bm25".desc, $"doc_id").as[(Long, Double)].collect().toSeq
    val b = indexed.orderBy($"bm25".desc, $"doc_id").as[(Long, Double)].collect().toSeq
    assert(a == b, "the index is a layout change, never a semantics change")
    assert(a.nonEmpty, "fixture terms must actually hit the corpus")
    // edge contract: no-hit terms and an empty corpus return empty
    // frames, never errors (the eager stats pass must tolerate both)
    assert(Keyword.bm25(docs, "doc_id", "text",
      Seq("zzz_not_a_token_qqq"), topK = 5).count() == 0)
    assert(Keyword.bm25(docs.filter($"doc_id" < 0), "doc_id", "text",
      terms, topK = 5).count() == 0)
  }

  test("lexical index staleness guard: an append after build fails the query loudly; a rebuild serves again") {
    import graft.ops.{Keyword, VersionedStore}
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
    val store = Files.createTempDirectory("lex-stale").toString + "/docs"
    VersionedStore.append(spark, store, docs.filter($"doc_id" % 2 === 0))
    val idx = Files.createTempDirectory("lex-stale-idx").toString
    val terms = Seq("spark", "vector", "merge", "window")
    Keyword.buildLexicalIndexForStore(spark, store, "doc_id", "text", idx)
    val fresh = Keyword.bm25Indexed(spark, idx, terms, topK = 10,
      idName = "doc_id", store = Some(store))
    assert(fresh.count() > 0, "a fresh stamped index serves")
    // the second ingest: the index now describes a superseded corpus —
    // serving it would hide the new docs and skew df/N/avgdl
    VersionedStore.append(spark, store, docs.filter($"doc_id" % 2 === 1))
    val err = intercept[IllegalArgumentException] {
      Keyword.bm25Indexed(spark, idx, terms, topK = 10,
        idName = "doc_id", store = Some(store))
    }
    assert(err.getMessage.contains("stale"))
    // rebuild-after-merge (the reference's contract): green again
    Keyword.buildLexicalIndexForStore(spark, store, "doc_id", "text", idx)
    val rebuilt = Keyword.bm25Indexed(spark, idx, terms, topK = 10,
      idName = "doc_id", store = Some(store))
    assert(rebuilt.count() > 0)
    // parity against the direct scan over the same corpus: the rebuilt
    // index is a layout change, never a semantics change
    val direct = Keyword.bm25(VersionedStore.read(spark, store).get,
      "doc_id", "text", terms, topK = 10)
    assert(rebuilt.orderBy($"bm25".desc, $"doc_id").as[(Long, Double)].collect().toSeq ==
      direct.orderBy($"bm25".desc, $"doc_id").as[(Long, Double)].collect().toSeq)
    // an UNSTAMPED index cannot back a versioned-store query
    val plainIdx = Files.createTempDirectory("lex-plain-idx").toString
    Keyword.buildLexicalIndex(docs, "doc_id", "text", plainIdx)
    val err2 = intercept[IllegalArgumentException] {
      Keyword.bm25Indexed(spark, plainIdx, terms, topK = 10,
        idName = "doc_id", store = Some(store))
    }
    assert(err2.getMessage.contains("no store stamp"))
    // a build that died between the postings overwrite and the stats
    // write (e.g. the moved-during-build recheck) must leave an index
    // that REFUSES to serve — the build retires _stats first, so the
    // half-built state is loud (no stats), never fresh postings scored
    // under superseded corpus totals
    graft.Fs.delete(spark, s"$plainIdx/_stats")
    intercept[java.io.FileNotFoundException] {
      Keyword.bm25Indexed(spark, plainIdx, terms, topK = 10, idName = "doc_id")
    }
  }

  test("incremental lexical maintenance: append-only fold equals rebuild; rewritten history refuses") {
    import graft.ops.{Keyword, VersionedStore}
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
    val store = Files.createTempDirectory("lex-incr").toString + "/docs"
    val idx = Files.createTempDirectory("lex-incr-idx").toString
    val terms = Seq("spark", "vector", "merge", "window")
    VersionedStore.append(spark, store, docs.filter($"doc_id" % 3 === 0))
    Keyword.buildLexicalIndexForStore(spark, store, "doc_id", "text", idx)
    // two appends, one maintenance call: the diff must cover BOTH new
    // segments (v_stamp .. v_current, not just the latest commit)
    VersionedStore.append(spark, store, docs.filter($"doc_id" % 3 === 1))
    VersionedStore.append(spark, store, docs.filter($"doc_id" % 3 === 2))
    Keyword.appendToLexicalIndexForStore(spark, store, "doc_id", "text", idx)
    val served = Keyword.bm25Indexed(spark, idx, terms, topK = 20,
        idName = "doc_id", store = Some(store))
      .orderBy($"bm25".desc, $"doc_id").as[(Long, Double)].collect().toSeq
    val rebuiltIdx = Files.createTempDirectory("lex-incr-rebuilt").toString
    Keyword.buildLexicalIndexForStore(spark, store, "doc_id", "text", rebuiltIdx)
    val rebuilt = Keyword.bm25Indexed(spark, rebuiltIdx, terms, topK = 20,
        idName = "doc_id", store = Some(store))
      .orderBy($"bm25".desc, $"doc_id").as[(Long, Double)].collect().toSeq
    assert(served == rebuilt,
      "incrementally maintained index must serve the full rebuild's ranking bit-for-bit")
    assert(served.nonEmpty)
    // stats sidecar totals advanced exactly (N, Σdl of the whole corpus)
    val stats = graft.Fs.readString(spark, s"$idx/_stats").trim.split(" ")
    val full = graft.Fs.readString(spark, s"$rebuiltIdx/_stats").trim.split(" ")
    assert(stats.toSeq == full.toSeq, "maintained stats must equal rebuilt stats")
    // a no-op maintenance (already fresh) is a cheap return, still serves
    Keyword.appendToLexicalIndexForStore(spark, store, "doc_id", "text", idx)
    assert(Keyword.bm25Indexed(spark, idx, terms, topK = 5,
      idName = "doc_id", store = Some(store)).count() == 5)
    // compaction rewrites covered rows into new segments — incremental
    // postings would double-count them; the fold must refuse loudly
    VersionedStore.append(spark, store, docs.filter($"doc_id" % 3 === 0).limit(5))
    VersionedStore.compact(spark, store)
    val err = intercept[IllegalArgumentException] {
      Keyword.appendToLexicalIndexForStore(spark, store, "doc_id", "text", idx)
    }
    assert(err.getMessage.contains("pure-append"))
    // rebuild recovers, as the error instructs
    Keyword.buildLexicalIndexForStore(spark, store, "doc_id", "text", idx)
    assert(Keyword.bm25Indexed(spark, idx, terms, topK = 5,
      idName = "doc_id", store = Some(store)).count() == 5)
  }

  test("registered lexical index: the append seam maintains it; compaction restamps O(1) or rebuilds") {
    import graft.ops.{Ingest, Keyword, VersionedStore}
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
    val storeDir = Files.createTempDirectory("lex-reg").toString
    val cfg = Ingest.StoreConfig("lexreg", "m", 100, 0)
    val store = s"$storeDir/${cfg.tableName}"
    val idx = Files.createTempDirectory("lex-reg-idx").toString
    val terms = Seq("spark", "vector", "merge", "window")
    VersionedStore.append(spark, store, docs.filter($"doc_id" % 3 === 0))
    Keyword.registerLexicalIndex(spark, store, "doc_id", "text", idx)
    // appends through the seam keep the index fresh — no staleness error,
    // and the served ranking equals a fresh rebuild's
    Ingest.appendRespectingLayout(spark, store, docs.filter($"doc_id" % 3 === 1))
    Ingest.appendRespectingLayout(spark, store, docs.filter($"doc_id" % 3 === 2))
    def serve() = Keyword.bm25Indexed(spark, idx, terms, topK = 20,
        idName = "doc_id", store = Some(store))
      .orderBy($"bm25".desc, $"doc_id").as[(Long, Double)].collect().toSeq
    val maintained = serve()
    val freshIdx = Files.createTempDirectory("lex-reg-fresh").toString
    Keyword.buildLexicalIndexForStore(spark, store, "doc_id", "text", freshIdx)
    assert(maintained == Keyword.bm25Indexed(spark, freshIdx, terms, topK = 20,
        idName = "doc_id", store = Some(store))
      .orderBy($"bm25".desc, $"doc_id").as[(Long, Double)].collect().toSeq)
    assert(maintained.nonEmpty)
    // clean compaction: sole commit, no survivors — the index must be
    // restamped in O(1), not rebuilt: totals identical, stamp advanced
    val statsBefore = graft.Fs.readString(spark, s"$idx/_stats").trim.split(" ")
    Ingest.compactStore(spark, storeDir, cfg)
    val statsAfter = graft.Fs.readString(spark, s"$idx/_stats").trim.split(" ")
    assert(statsAfter.take(3).toSeq == statsBefore.take(3).toSeq,
      "restamp must not touch the totals")
    assert(statsAfter(3) != statsBefore(3), "restamp must advance the stamp")
    assert(serve() == maintained, "a compaction never changes the ranking")
    // an out-of-band append (bypassing the seam) leaves the stamp behind;
    // the next compaction cannot prove row preservation and must REBUILD
    // (self-heal) — after which serving reflects the full corpus again
    VersionedStore.append(spark, store, docs.filter($"doc_id" % 3 === 0).limit(7))
    intercept[IllegalArgumentException] { serve() } // stale, loud
    Ingest.compactStore(spark, storeDir, cfg)
    assert(serve().nonEmpty, "post-rebuild the index serves the compacted corpus")
  }

  test("abandoned compaction (files=0) with a fresh index is a maintenance no-op; old index format fails loudly") {
    import graft.ops.{Keyword, VersionedStore}
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text").limit(50)
    val store = Files.createTempDirectory("lex-noop").toString + "/t"
    val idx = Files.createTempDirectory("lex-noop-idx").toString
    VersionedStore.append(spark, store, docs)
    Keyword.registerLexicalIndex(spark, store, "doc_id", "text", idx)
    val statsBefore = graft.Fs.readString(spark, s"$idx/_stats")
    val post = VersionedStore.currentState(spark, store).get
    // a compaction that lost its race commits nothing (files=0, version
    // unchanged): the fresh index needs neither restamp nor rebuild
    graft.ops.SidecarRegistry.afterRewrite(spark, store,
      preVersion = post.version, post = post, files = 0)
    assert(graft.Fs.readString(spark, s"$idx/_stats") == statsBefore,
      "no-op compaction must leave the index untouched")
    // a pre-dl-on-posting index (3-field _stats) must be named as such,
    // not die on a missing-column AnalysisException deep in Catalyst
    val stats = statsBefore.trim.split(" ")
    graft.Fs.writeString(spark, s"$idx/_stats",
      s"${stats(0)} ${stats(1)} ${stats(2)}")
    val e = intercept[IllegalArgumentException] {
      Keyword.bm25Indexed(spark, idx, Seq("spark"), topK = 5, idName = "doc_id")
    }
    assert(e.getMessage.contains("old lexical index format"))
  }

  test("indexStore/quantizeStore on a lexically-registered table keep BM25 serving (restamp, not rebuild)") {
    import graft.ops.{Ingest, Ivf, Keyword, Quantize, VersionedStore}
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
    val embs = Tables.embeddings(spark, sf).select($"vec_id".as("doc_id"), $"embedding")
    val rows = docs.join(embs, "doc_id")
    val store = Files.createTempDirectory("lex-ivfq").toString + "/t"
    val idx = Files.createTempDirectory("lex-ivfq-idx").toString
    val terms = Seq("spark", "vector", "merge", "window")
    VersionedStore.append(spark, store, rows)
    Keyword.registerLexicalIndex(spark, store, "doc_id", "text", idx)
    def serve() = Keyword.bm25Indexed(spark, idx, terms, topK = 10,
        idName = "doc_id", store = Some(store))
      .orderBy($"bm25".desc, $"doc_id").as[(Long, Double)].collect().toSeq
    val before = serve()
    assert(before.nonEmpty)
    // re-clustering rewrites every row; the index must be restamped in
    // O(1) (totals untouched) and keep serving the same ranking
    val stats0 = graft.Fs.readString(spark, s"$idx/_stats").trim.split(" ")
    Ivf.indexStore(spark, store, "doc_id", "embedding", k = 4)
    val stats1 = graft.Fs.readString(spark, s"$idx/_stats").trim.split(" ")
    assert(stats1.take(3).toSeq == stats0.take(3).toSeq, "restamp must not touch totals")
    assert(stats1(3) != stats0(3), "stamp must advance across indexStore")
    assert(serve() == before, "re-clustering must not change the BM25 ranking")
    // SQ8 rewrite adds code columns, preserves rows — same contract
    Quantize.quantizeStore(spark, store, "embedding")
    val stats2 = graft.Fs.readString(spark, s"$idx/_stats").trim.split(" ")
    assert(stats2.take(3).toSeq == stats0.take(3).toSeq && stats2(3) != stats1(3))
    assert(serve() == before, "quantization must not change the BM25 ranking")
    // and the vector side still probes after both rewrites
    val model = Ivf.loadModel(spark, Ivf.modelPath(store))
    val qv = embs.filter($"doc_id" === 0).select($"embedding").head.getSeq[Float](0).toArray
    assert(Ivf.search(VersionedStore.read(spark, store).get, "embedding", model, qv,
      topK = 5, nProbe = 4, storePath = Some(store)).count() == 5)
  }

  test("cluster drift advisor: skewed appends trip needsReindex; re-index clears it") {
    import graft.ops.{Ivf, VersionedStore}
    val embs = Tables.embeddings(spark, sf).select($"vec_id", $"embedding")
    val store = Files.createTempDirectory("drift").toString + "/t"
    VersionedStore.append(spark, store, embs)
    Ivf.indexStore(spark, store, "vec_id", "embedding", k = 8)
    assert(!Ivf.needsReindex(spark, store, maxImbalance = 4.0),
      "a freshly fitted index is balanced")
    // drift: pile 3x the corpus into ONE cluster by appending copies of
    // a single vector — the frozen model files them all together
    val one = embs.limit(1).select($"embedding").head.getSeq[Float](0)
    val drifted = (0 until (embs.count().toInt * 3)).map(i =>
      (1000000L + i, one)).toDF("vec_id", "embedding")
    Ivf.appendAssigned(spark, store, drifted, "embedding")
    assert(Ivf.needsReindex(spark, store, maxImbalance = 4.0),
      "3x corpus in one cluster must trip the 4x-imbalance advisory")
    // the advised action restores balance under a fresh fit
    Ivf.indexStore(spark, store, "vec_id", "embedding", k = 8)
    assert(!Ivf.needsReindex(spark, store, maxImbalance = 8.0),
      "re-index must spread the duplicated mass (duplicates cap one cluster's share)")
    // stats surface: per-cluster counts sum to the corpus
    val total = Ivf.clusterStats(spark, store).agg(sum($"n")).head().getLong(0)
    assert(total == embs.count() + drifted.count())
  }

  test("append seam surfaces the drift advisory: planted drift advises, healthy append is silent") {
    import graft.ops.{Ingest, Ivf, VersionedStore}
    val embs = Tables.embeddings(spark, sf).select($"vec_id", $"embedding")
    val store = Files.createTempDirectory("drift-seam").toString + "/t"
    VersionedStore.append(spark, store, embs.filter($"vec_id" % 2 === 0))
    Ivf.indexStore(spark, store, "vec_id", "embedding", k = 8)
    // healthy append: same distribution — advisory recorded, not advising
    Ingest.appendRespectingLayout(spark, store, embs.filter($"vec_id" % 2 =!= 0)): Unit
    val healthy = Ingest.driftAdvisory(store)
    assert(healthy.exists(!_.reindexAdvised),
      s"healthy append must not advise a re-index: $healthy")
    // planted drift: 5x the corpus piled into one frozen cluster
    val one = embs.limit(1).select($"embedding").head.getSeq[Float](0)
    val drifted = (0 until (embs.count().toInt * 5)).map(i =>
      (2000000L + i, one)).toDF("vec_id", "embedding")
    Ingest.appendRespectingLayout(spark, store, drifted): Unit
    val adv = Ingest.driftAdvisory(store)
    assert(adv.exists(_.reindexAdvised), s"planted drift must advise: $adv")
    assert(adv.exists(_.imbalance > 4.0))
    // an unindexed store records no advisory
    val flat = Files.createTempDirectory("drift-flat").toString + "/t"
    Ingest.appendRespectingLayout(spark, flat, embs.limit(10)): Unit
    assert(Ingest.driftAdvisory(flat).isEmpty)
  }

  test("repetition stats flag the degenerate doc and spare natural text") {
    val docs = Seq(
      (1L, "buy now buy now buy now buy now"),     // "buy now" covers 4 of 7 2-gram slots
      (2L, "the quick brown fox jumps over dogs"), // all 2-grams unique
      (3L, "one")                                  // too short for any 2-gram
    ).toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis.repetitionStats(docs, "doc_id", "text")
      .orderBy($"doc_id").as[(Long, Long, Long, Double, Boolean)].collect()
    assert(got(0) == ((1L, 7L, 4L, 4.0 / 7, true)))
    assert(got(1)._2 == 6L && got(1)._3 == 1L && !got(1)._5)
    assert(got(2) == ((3L, 0L, 0L, 0.0, false)))
  }

  test("stratified quota sampling: exact quotas, partitioning-invariant, pre-prune cannot change the result") {
    import graft.ops.Sampling
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, sf).select($"doc_id", $"lang")
    val quotas = Map("en" -> 7, "de" -> 3)
    def run(parts: Int): Set[(Long, String)] = Sampling.stratifiedQuota(
        docs.repartition(parts), "lang", "doc_id", quotas, defaultQuota = 2)
      .select($"doc_id", $"lang").as[(Long, String)].collect().toSet
    val got = run(13)
    assert(got == run(1), "sample must not depend on partitioning")
    val byLang = got.groupBy(_._2).map { case (l, v) => (l, v.size) }
    assert(byLang("en") == 7 && byLang("de") == 3)
    assert(byLang.view.filterKeys(!quotas.contains(_)).values.forall(_ == 2),
      "unmapped strata get the default quota")
    // the bounded heap keeps exactly what the full-window formulation ranks
    val w = Window.partitionBy($"lang")
      .orderBy(md5($"doc_id".cast("string").cast("binary")), $"doc_id")
    val naive = docs.withColumn("rk", row_number().over(w))
      .filter($"rk" <= when($"lang" === "en", 7).when($"lang" === "de", 3).otherwise(2))
      .select($"doc_id", $"lang").as[(Long, String)].collect().toSet
    assert(got == naive, "pre-pruned sample must equal the window-only formulation")
    // zero default: only mapped strata survive; the pre-prune map step is
    // in the physical plan (what bounds the window Exchange)
    val onlyMapped = Sampling.stratifiedQuota(docs, "lang", "doc_id", quotas, defaultQuota = 0)
    assert(onlyMapped.select($"lang").distinct().as[String].collect().toSet == Set("en", "de"))
    val plan = onlyMapped.queryExecution.executedPlan.toString
    assert(plan.contains("MapPartitions"), s"expected MapPartitions pre-prune in:\n$plan")
    // a non-string strata column is rejected at the API boundary, not as
    // a ClassCastException inside a task
    val ex = intercept[IllegalArgumentException] {
      Sampling.stratifiedQuota(docs, "doc_id", "lang", Map("1" -> 1))
    }
    assert(ex.getMessage.contains("must be STRING"))
  }

  test("prfExpandTerms: hand-computed Rocchio selection, tie order, degenerate queries") {
    import graft.ops.Keyword
    val docs = Seq(
      (1L, "cat dog fish"), (2L, "cat dog bird"),
      (3L, "mouse mouse horse"), (4L, "dog elephant")
    ).toDF("doc_id", "text")
    // feedback = the two cat docs; candidates: dog ftf=2 idf=ln(5/4)+1,
    // fish/bird ftf=1 idf=ln(5/2)+1 → dog (2.446) > bird = fish (1.916),
    // tie broken term-ascending
    val got = Keyword.prfExpandTerms(docs, "doc_id", "text", Seq("cat"),
      fbDocs = 2, expandTerms = 2)
    assert(got == Seq("cat", "dog", "bird"))
    // expandTerms = 0 and a no-hit query both return the original terms
    assert(Keyword.prfExpandTerms(docs, "doc_id", "text", Seq("cat"),
      fbDocs = 2, expandTerms = 0) == Seq("cat"))
    assert(Keyword.prfExpandTerms(docs, "doc_id", "text", Seq("zzz"),
      fbDocs = 2, expandTerms = 2) == Seq("zzz"))
  }

  test("prfExpandTermsIndexed: identical expansion to the scan path from a built index") {
    import graft.ops.Keyword
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
    val idx = java.nio.file.Files.createTempDirectory("prf-idx").toString
    Keyword.buildLexicalIndex(docs, "doc_id", "text", idx)
    val terms = Seq("spark", "vector", "merge", "window")
    val scan = Keyword.prfExpandTerms(docs, "doc_id", "text", terms,
      fbDocs = 5, expandTerms = 3)
    val indexed = Keyword.prfExpandTermsIndexed(spark, idx, terms,
      fbDocs = 5, expandTerms = 3)
    assert(indexed == scan, "the index is a layout change, never a semantics change")
    assert(indexed.size == terms.size + 3 && indexed.startsWith(terms))
  }

  test("tfidfTopTerms: hand-computed scores, rank semantics, empty-token hygiene") {
    import graft.ops.Keyword
    // N = 3; "cat" df=2, "dog" df=1, "the" df=3
    val docs = Seq(
      (1L, "the cat cat dog"),
      (2L, "the cat"),
      (3L, "the   "),            // whitespace run: only 'the' survives
      (4L, "")                   // empty text: zero terms, zero rows
    ).toDF("doc_id", "text")
    val out = Keyword.tfidfTopTerms(docs, "doc_id", "text", k = 2)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> ((r.getString(2), r.getLong(3), r.getLong(4), r.getDouble(5))))
      .toMap
    def idf(n: Long, df: Long): Double = math.log((1.0 + n) / (1.0 + df)) + 1.0
    val n = 4L // doc 4 counts toward N even with no terms (it is a document)
    // doc 1: cat tf=2 df=2 → 2·idf(4,2); dog tf=1 df=1 → idf(4,1); the tf=1 df=3
    assert(out((1L, 1)) == (("cat", 2L, 2L, 2 * idf(n, 2))))
    assert(out((1L, 2)) == (("dog", 1L, 1L, idf(n, 1))))
    // doc 2: idf(the) = ln(5/4)+1 ≈ 1.22 < idf(cat) = ln(5/3)+1 ≈ 1.51
    assert(out((2L, 1))._1 == "cat" && out((2L, 2))._1 == "the")
    // doc 3 has exactly one term; doc 4 none
    assert(out((3L, 1))._1 == "the" && !out.contains((3L, 2)))
    assert(!out.exists { case ((d, _), _) => d == 4L })
    assert(!out.values.exists(_._1.isEmpty), "empty tokens must never rank")
  }

  test("temperature quotas: hand-computed allocation, exact-sum, cap at population") {
    import graft.ops.Sampling
    // 8 'a' rows, 2 'b' rows
    val df = ((1 to 8).map(i => (i.toLong, "a")) ++ Seq((9L, "b"), (10L, "b")))
      .toDF("id", "s")
    // alpha = 1: proportional — ideal 4.0 / 1.0, no remainder
    val prop = Sampling.temperatureQuotas(df, "s", alpha = 1.0, total = 5L)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(prop == Map("a" -> 4L, "b" -> 1L))
    // alpha = 0.5: w = 2.828/1.414 → ideal 3.333/1.667 → base 3/1,
    // leftover 1 goes to the larger fraction (b, 0.667 > 0.333)
    val t = Sampling.temperatureQuotas(df, "s", alpha = 0.5, total = 5L)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(t == Map("a" -> 3L, "b" -> 2L))
    assert(t.values.sum == 5L, "quotas must sum exactly to total")
    // strong flattening can allocate b more than its 2 rows; the MIX
    // caps at the population (without-replacement)
    val q01 = Sampling.temperatureQuotas(df, "s", alpha = 0.01, total = 8L)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(q01("b") > 2L, s"expected b upweighted past its population, got $q01")
    val mixed = Sampling.temperatureMix(df, "s", "id", alpha = 0.01, total = 8L)
      .groupBy($"s").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // capped, not redistributed: a keeps its own allocation
    assert(mixed == Map("a" -> q01("a"), "b" -> 2L), s"got $mixed")
    // invalid alpha rejected
    intercept[IllegalArgumentException] {
      Sampling.temperatureQuotas(df, "s", alpha = 0.0, total = 5L)
    }
  }

  test("shuffle/split/upsample: deterministic, partitioning-invariant, complete") {
    import graft.ops.Sampling
    val docs = Tables.documents(spark, sf).select($"doc_id", $"lang")
    val n = docs.count()

    // deterministic shuffle: a contiguous 1..N permutation, identical
    // across partition layouts; a different seed gives a different order
    def shuffled(parts: Int, seed: String): Seq[(Long, Long)] =
      Sampling.deterministicShuffle(docs.repartition(parts).select($"doc_id"),
          "doc_id", seed)
        .select($"doc_id", $"position").as[(Long, Long)].collect().sortBy(_._2).toSeq
    val s1 = shuffled(13, "e0")
    assert(s1 == shuffled(1, "e0"), "shuffle order must not depend on partitioning")
    assert(s1.map(_._2) == (1L to n).toSeq, "positions must be a contiguous 1..N")
    assert(s1.map(_._1).toSet == docs.select($"doc_id").as[Long].collect().toSet)
    assert(s1.map(_._1) != shuffled(13, "e1").map(_._1),
      "a different seed must permute differently")

    // hash split: every row assigned exactly once, assignment stable
    // under re-run, fractions near the weights (32-bit quantization)
    val split = Sampling.hashSplit(docs.select($"doc_id"), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), seed = "s1")
      .as[(Long, String)].collect().toMap
    assert(split.size == n, "every key assigned exactly once")
    val frac = split.values.groupBy(identity).map { case (k, v) => (k, v.size.toDouble / n) }
    assert(math.abs(frac("train") - 0.8) < 0.06 &&
      math.abs(frac.getOrElse("val", 0.0) - 0.1) < 0.05 &&
      math.abs(frac.getOrElse("test", 0.0) - 0.1) < 0.05,
      s"split fractions far from weights: $frac")
    val again = Sampling.hashSplit(docs.repartition(7).select($"doc_id"), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), seed = "s1")
      .as[(Long, String)].collect().toMap
    assert(split == again, "assignment must be per-key deterministic")
    intercept[IllegalArgumentException] {
      Sampling.hashSplit(docs, "doc_id", Seq("a" -> 0.5, "b" -> 0.4), "s")
    }

    // a null key must fail loudly, not sort first / land in the last split
    val withNull = docs.select(when($"doc_id" === 3L, lit(null)).otherwise($"doc_id").as("doc_id"))
    intercept[Exception] {
      Sampling.hashSplit(withNull, "doc_id",
        Seq("train" -> 0.9, "test" -> 0.1), "s").collect()
    }
    intercept[Exception] {
      Sampling.deterministicShuffle(withNull, "doc_id", "e0").collect()
    }

    // leakage-safe split: near-dup pairs can never straddle a boundary
    // (each doc follows its cluster representative), singletons equal
    // the plain hashSplit on their own id
    val pairs = Seq((1L, 2L), (2L, 9L), (5L, 6L)).toDF("id_a", "id_b")
    val safe = Sampling.leakageSafeSplit(docs.select($"doc_id"), "doc_id",
        pairs, Seq("train" -> 0.5, "test" -> 0.5), seed = "ls")
      .as[(Long, String)].collect().toMap
    assert(safe.size == n)
    assert(safe(1L) == safe(2L) && safe(2L) == safe(9L),
      "a connected near-dup cluster must land on one side")
    assert(safe(5L) == safe(6L))
    val plain = Sampling.hashSplit(docs.select($"doc_id"), "doc_id",
        Seq("train" -> 0.5, "test" -> 0.5), seed = "ls")
      .as[(Long, String)].collect().toMap
    docs.select($"doc_id").as[Long].collect()
      .filterNot(Set(1L, 2L, 9L, 5L, 6L)).foreach { id =>
        assert(safe(id) == plain(id), s"singleton $id must split by its own id")
      }

    // upsample: factor-k strata emit k tagged copies, factor-0 drop
    val up = Sampling.upsampleByStratum(docs, "lang",
        Map("en" -> 3, "fr" -> 0), defaultFactor = 1)
      .groupBy($"lang").agg(count(lit(1)).as("c"),
        countDistinct($"doc_id").as("d"), max($"epoch").as("me"))
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(up("en")._2 == up("en")._3 * 3 && up("en")._4 == 3L)
    assert(!up.contains("fr"), "factor 0 drops the stratum")
    assert(up.view.filterKeys(k => k != "en" && k != "fr").values
      .forall(r => r._2 == r._3 && r._4 == 1L), "default factor is 1 copy")

    // the map-side claims, asserted on the plan: split assignment and
    // upsampling ship no Exchange (they compose under any upstream
    // partitioning without forcing a shuffle)
    val splitPlan = Sampling.hashSplit(docs.select($"doc_id"), "doc_id",
      Seq("train" -> 0.8, "val" -> 0.2), "s1").queryExecution.executedPlan.toString
    assert(!splitPlan.contains("Exchange"), s"hashSplit must be map-side:\n$splitPlan")
    val upPlan = Sampling.upsampleByStratum(docs, "lang", Map("en" -> 2))
      .queryExecution.executedPlan.toString
    assert(!upPlan.contains("Exchange"), s"upsample must be map-side:\n$upPlan")
  }

  test("sequence packing: contiguous offsets, straddling windows, partitioning-invariant") {
    import graft.ops.Sampling
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", size(split($"text", "\\s+")).cast("long").as("tokens"))
    def run(parts: Int) = Sampling.packWindows(docs.repartition(parts), "doc_id",
        "tokens", budget = 100, seed = "e0")
      .select($"doc_id", $"position", $"tokens", $"offset", $"first_window", $"last_window")
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._2).toSeq
    val got = run(13)
    assert(got == run(1), "packing must not depend on partitioning")
    // the concatenated stream: each doc starts where the previous ended
    got.sliding(2).foreach { case Seq(a, b) =>
      assert(b._4 == a._4 + a._3, s"offset gap between position ${a._2} and ${b._2}")
    }
    assert(got.head._4 == 0L, "stream starts at offset 0")
    // window arithmetic: first = offset div B, last covers the doc's end
    got.foreach { case (_, _, t, off, fw, lw) =>
      assert(fw == off / 100 && lw == (off + math.max(t - 1, 0)) / 100)
    }
    // with 100-token budget and multi-hundred-token docs, straddles exist
    assert(got.exists(r => r._6 > r._5), "fixture must exercise window straddling")
  }

  test("loss-mask spans: completion-only coverage, straddles, prompt-only windows, zero completion") {
    import graft.ops.Sampling
    // hand-checkable fixture under budget 10. Shuffle order is seeded,
    // so derive expectations FROM the packed offsets rather than
    // assuming an order.
    val ex = Seq(
      (1L, 3L, 4L),   // 7 tokens: prompt 3, completion 4
      (2L, 8L, 9L),   // 17 tokens: straddles windows however placed
      (3L, 12L, 0L),  // zero completion: must emit NOTHING
      (4L, 0L, 5L)    // zero prompt: whole example is loss
    ).toDF("id", "p", "c")
    val spans = Sampling.packLossMaskSpans(ex, "id", "p", "c",
        budget = 10, seed = "t0")
      .as[(Long, Long, Long, Long, Long)].collect()
      .sortBy(r => (r._2, r._3)).toSeq
    val packed = Sampling.packWindows(
        ex.withColumn("t", $"p" + $"c"), "id", "t", 10, "t0")
      .select($"id", $"p", $"t", $"offset").as[(Long, Long, Long, Long)]
      .collect().map(r => r._1 -> r).toMap
    // per example: the union of its spans (globalized) must be exactly
    // [offset + prompt, offset + total) and nothing else
    for ((id, (_, p, t, off)) <- packed) {
      val mine = spans.filter(_._1 == id)
        .flatMap(s => (s._4 + s._3 * 10) until (s._5 + s._3 * 10))
      val want = (off + p) until (off + t)
      assert(mine.toSet == want.toSet && mine.sorted == mine,
        s"example $id: spans must tile the completion exactly")
      // every span stays inside its window
      spans.filter(_._1 == id).foreach { s =>
        assert(s._4 >= 0 && s._5 <= 10 && s._4 < s._5)
      }
    }
    assert(spans.forall(_._1 != 3L), "zero-completion example emits no span")
    // a 17-token example always spans >= 2 windows; with an 8-token
    // prompt at least one window boundary case exists in the fixture
    assert(spans.filter(_._1 == 2L).map(_._3).distinct.size >= 1)
    // negative token counts refuse loudly
    val err = intercept[Exception] {
      Sampling.packLossMaskSpans(
        Seq((9L, -1L, 4L)).toDF("id", "p", "c"), "id", "p", "c", 10, "t0")
        .collect()
    }
    assert(Iterator.iterate(err: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(t => t.getMessage != null && t.getMessage.contains("negative token count")))
    // null token counts refuse loudly with their OWN message (a null
    // IF condition must not fall into the negative-count arm)
    val nullErr = intercept[Exception] {
      Sampling.packLossMaskSpans(
        Seq((9L, Some(3L), Option.empty[Long])).toDF("id", "p", "c"),
        "id", "p", "c", 10, "t0")
        .collect()
    }
    assert(Iterator.iterate(nullErr: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(t => t.getMessage != null && t.getMessage.contains("null token count")))
  }

  test("weightedSample: deterministic, weight-dominant, unit-invariant, refuses bad weights") {
    import graft.ops.Sampling
    val df = (1L to 200L).map(i => (i, if (i == 7L) 1e9 else 1.0))
      .toDF("id", "w")
    def ids(d: org.apache.spark.sql.DataFrame) =
      d.select($"id").as[Long].collect().toSeq
    val a = Sampling.weightedSample(df, "id", "w", k = 20, seed = "s1")
    assert(a.count() == 20)
    assert(ids(a) == ids(Sampling.weightedSample(df, "id", "w", 20, "s1")),
      "same (keys, weights, seed) must reproduce the same sample in order")
    // the overwhelming weight is deterministically in the sample
    assert(ids(a).contains(7L))
    // a different seed redraws (some membership changes on 200 keys)
    assert(ids(a).toSet != ids(Sampling.weightedSample(df, "id", "w", 20, "s2")).toSet)
    // ranking is weight-UNIT-invariant: scaling every weight by a
    // constant preserves the sampled key sequence exactly
    val scaled = df.select($"id", ($"w" * 1000000).as("w"))
    assert(ids(Sampling.weightedSample(scaled, "id", "w", 20, "s1")) == ids(a))
    // the sidecar's exact-selection twin (raw-score order) picks the
    // same sample away from 6dp rounding ties
    assert(ids(Sampling.weightedSampleExact(df, "id", "w", 20, "s1")) == ids(a))
    // constructing the sample is LAZY: a poisoned input (zero weight)
    // must not throw until an action runs — the op scans its source
    // once per invocation, like every other op in the module
    val poisoned =
      Sampling.weightedSample(Seq((1L, 0.0)).toDF("id", "w"), "id", "w", 1, "s")
    // zero / null weights refuse loudly at action time
    val zeroErr = intercept[Exception] { poisoned.collect() }
    assert(Iterator.iterate(zeroErr: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(t => t.getMessage != null && t.getMessage.contains("weight must be > 0")))
    // plan shape: top-k, never a full global sort
    val plan = Sampling.weightedSample(df, "id", "w", 20, "s1")
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"weighted sample must plan as top-k, got:\n$plan")
    // per-stratum: every stratum yields min(k, |stratum|) rows, and
    // per-stratum max-normalization lets mixed weight UNITS coexist
    // (stratum b's weights are micros-scale; a's are unit-scale)
    val strat = ((1L to 50L).map(i => (i, "a", 1.0 + (i % 3))) ++
      (100L to 102L).map(i => (i, "b", 250000.0 * (1 + i % 2))))
      .toDF("id", "g", "w")
    val got = Sampling.weightedSamplePerStratum(strat, "g", "id", "w", 5, "s1")
      .groupBy($"g").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a" -> 5L, "b" -> 3L))
    // a NULL stratum is a legitimate group — the r18 broadcast-join
    // rewrite must keep it (a plain using-column join would drop it)
    val withNull = strat.unionAll(
      Seq((900L, null.asInstanceOf[String], 2.0),
          (901L, null.asInstanceOf[String], 3.0)).toDF("id", "g", "w"))
    val gotNull = Sampling.weightedSamplePerStratum(withNull, "g", "id", "w", 5, "s1")
      .groupBy($"g").count().collect()
      .map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(gotNull == Map(Some("a") -> 5L, Some("b") -> 3L, None -> 2L))
    // skew-safe exchange topology: the rank pre-filter is keyed on
    // (stratum, input partition) — a 90%-one-stratum corpus spreads
    // across reducers instead of landing on one (SCALE.md r18 probe)
    val stratPlan = Sampling.weightedSamplePerStratum(strat, "g", "id", "w", 5, "s1")
      .queryExecution.executedPlan.toString
    assert(stratPlan.contains("__part"),
      s"per-stratum sample must pre-filter on (stratum, partition):\n$stratPlan")
  }

  test("length-bucket batching: capacity bound, full-batch fill, determinism, out-of-range refusal") {
    import graft.ops.Sampling
    val ex = Seq(10L, 64L, 65L, 100L, 128L, 200L, 250L, 256L, 300L, 400L,
        500L, 512L, 1000L, 2000L, 4096L, 0L)
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "tok")
    val fits = ex.filter($"tok" <= 512)
    val got = Sampling.lengthBucketBatches(fits, "id", "tok",
        quantum = 64, budget = 512, seed = "s")
      .select($"id", $"tok", $"bucket_len", $"batch_id", $"batch_capacity",
        $"waste")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    got.foreach { case (_, tok, bl, _, cap, waste) =>
      assert(bl % 64 == 0 && bl >= math.max(tok, 1) && bl - tok < 64 + (if (tok == 0) 64 else 0),
        s"bucket covers with < one quantum of slack (tok=$tok bl=$bl)")
      assert(cap == 512 / bl, "capacity = budget div bucket")
      assert(waste == bl - tok)
      assert(bl * cap <= 512, "a full batch never exceeds the budget")
    }
    // every batch except possibly the bucket's last is filled to capacity
    got.groupBy(r => (r._3, r._4)).foreach { case ((bl, bid), rows) =>
      val cap = rows.head._5
      val lastBatch = got.filter(_._3 == bl).map(_._4).max
      if (bid < lastBatch) assert(rows.size == cap,
        s"non-final batch (bucket $bl, batch $bid) must be full")
      else assert(rows.size <= cap)
    }
    // deterministic: same seed reproduces identical batch membership
    val again = Sampling.lengthBucketBatches(fits.repartition(7), "id", "tok",
        quantum = 64, budget = 512, seed = "s")
      .select($"id", $"tok", $"bucket_len", $"batch_id", $"batch_capacity",
        $"waste")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got.sortBy(_._1) == again.sortBy(_._1))
    // an example longer than the budget fits no batch: loud refusal
    val err = intercept[Exception] {
      Sampling.lengthBucketBatches(ex, "id", "tok", 64, 512, "s").collect()
    }
    assert(Iterator.iterate(err: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(t => t.getMessage != null &&
        t.getMessage.contains("token count out of [0, budget]")))
    // a budget that isn't a quantum multiple would create a zero-capacity
    // top bucket: refused at the call
    val err2 = intercept[IllegalArgumentException] {
      Sampling.lengthBucketBatches(ex, "id", "tok", 64, 500, "s")
    }
    assert(err2.getMessage.contains("multiple of quantum"))
  }

  test("training shards: uniform sizes, loader order inside each file, one file per shard") {
    import graft.ops.Sampling
    val docs = Tables.documents(spark, sf).select($"doc_id")
    val n = docs.count()
    val out = java.nio.file.Files.createTempDirectory("shards").toString + "/c"
    val rows = 64L
    val nShards = Sampling.writeShards(docs, "doc_id", "e0", rows, out)
    assert(nShards == (n + rows - 1) / rows, "shard count = ceil(N / rowsPerShard)")
    val back = spark.read.parquet(out)
    // full shards hold exactly rowsPerShard rows; only the last is short
    val sizes = back.groupBy($"shard").agg(count(lit(1)).as("c"))
      .as[(Long, Long)].collect().toMap
    assert(sizes.count(_._2 != rows) <= 1 && sizes.values.sum == n)
    // membership matches the seeded shuffle: shard = (position-1) / rows
    val pos = Sampling.deterministicShuffle(docs, "doc_id", "e0")
      .as[(Long, Long)].collect().toMap
    assert(back.select($"doc_id", $"shard").as[(Long, Long)].collect()
      .forall { case (id, sh) => (pos(id) - 1) / rows == sh })
    // one parquet file per shard directory, rows inside it position-sorted
    val shardDirs = new java.io.File(out).listFiles.filter(_.getName.startsWith("shard="))
    assert(shardDirs.length == nShards)
    shardDirs.foreach { d =>
      val files = d.listFiles.filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1, s"expected one file in ${d.getName}, got ${files.length}")
      val inFile = spark.read.parquet(files.head.toString)
        .select($"position").as[Long].collect().toSeq
      assert(inFile == inFile.sorted, s"${d.getName} not position-sorted")
    }
  }

  test("bucketed tables join without an Exchange; salted ops preserve exact results") {
    import graft.ops.Layout
    val o = Tables.orders(spark, sf).select($"o_orderkey", $"o_custkey")
    val l = Tables.lineitem(spark, sf).select($"l_orderkey".as("o_orderkey"), $"l_quantity")
    for (t <- Seq("b_orders", "b_lines")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      graft.Fs.delete(spark, spark.conf.get("spark.sql.warehouse.dir") + s"/$t")
    }
    Layout.writeBucketed(o, "b_orders", "o_orderkey", 8)
    Layout.writeBucketed(l, "b_lines", "o_orderkey", 8)
    // at test scale the planner would broadcast the small side (also
    // shuffle-free but trivially so) — disable it to observe the
    // bucketed sort-merge path a 100 TB join would take
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = Layout.bucketedJoin(spark, "b_orders", "b_lines", "o_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"), s"scan must use buckets:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n$plan")
      assert(joined.count() == l.count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    // salted aggregation == plain aggregation
    val plain = l.groupBy($"o_orderkey")
      .agg(count(lit(1)).as("n"), sum($"l_quantity".cast("long")).as("total"))
      .orderBy($"o_orderkey").collect()
    val salted = Layout.saltedSumCount(l, "o_orderkey", $"l_quantity".cast("long"), 4)
      .orderBy($"o_orderkey").collect()
    assert(plain.toSeq == salted.toSeq)

    // salted join == plain join (row multiset)
    val plainJoin = l.join(o, "o_orderkey").count()
    val saltJoin = Layout.saltedJoin(l, o, "o_orderkey", 4).count()
    assert(plainJoin == saltJoin)
  }

  test("z-ordered layout prunes scans on EVERY clustered column; linear sort only on its leader") {
    import graft.ops.Layout
    // two independent dimensions, uniform in [0,1000)
    val base = spark.range(0, 100000).select(
      (col("id") % 1000).cast("double").as("a"),
      ((col("id") * 7919) % 1000).cast("double").as("b"))
    val dir = java.nio.file.Files.createTempDirectory("zorder").toString
    val lin = s"$dir/linear"
    val zed = s"$dir/zorder"
    base.repartitionByRange(32, col("a")).sortWithinPartitions(col("a"))
      .write.mode("overwrite").parquet(lin)
    Layout.writeZOrdered(base, Seq("a", "b"), zed, bits = 5, nFiles = 32)

    // rows EMITTED BY THE SCAN (after parquet row-group stat pruning,
    // before the residual filter) — the IO a layout actually costs
    def scanRows(path: String, pred: org.apache.spark.sql.Column): (Long, Long) = {
      val q = spark.read.parquet(path).filter(pred).select("a", "b")
      val result = q.collect().length.toLong
      val scan = q.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.head
      (scan.metrics("numOutputRows").value, result)
    }
    val pb = col("b") >= 100.0 && col("b") < 120.0
    val (linScan, linRes) = scanRows(lin, pb)
    val (zScan, zRes) = scanRows(zed, pb)
    assert(linRes == zRes, "layouts must agree on the query result")
    // the linear layout spreads b uniformly over every row group: the
    // 2% filter on b reads ~everything; z-order localizes b, so the
    // scan emits a small multiple of the selectivity
    assert(linScan > 90000, s"control: linear layout should read ~all rows, got $linScan")
    assert(zScan < linScan / 3,
      s"z-order must prune the b-filter scan: z=$zScan vs linear=$linScan")
    // and the leading column still prunes fine on BOTH layouts
    val pa = col("a") >= 100.0 && col("a") < 120.0
    val (linA, _) = scanRows(lin, pa)
    val (zA, _) = scanRows(zed, pa)
    assert(linA < 20000 && zA < 40000,
      s"a-filter must stay pruned on both layouts: lin=$linA z=$zA")

    // morton interleave unit contract: bits of col j land at i*n + j
    val mk = Seq(lit(3), lit(0)) // a=0b11, b=0b00
    val got = spark.range(1).select(Layout.mortonKey(mk, 2).as("z"))
      .head.getLong(0)
    assert(got == 5L, s"interleave(0b11, 0b00) must be 0b0101, got $got")
  }

  test("hierarchy rollup builds root-to-node paths via iterative broadcast self-join (A13)") {
    val nodes = Seq(
      (1L, None, "root"),
      (2L, Some(1L), "teamA"),
      (3L, Some(1L), "teamB"),
      (4L, Some(2L), "proj1"),
      (5L, Some(4L), "svc")
    ).toDF("id", "parent", "name")
    val got = graft.ops.Hierarchy.buildPaths(nodes, "id", "parent", "name")
      .select($"id", $"path").as[(Long, String)].collect().toMap
    assert(got(1L) == "root")
    assert(got(4L) == "root/teamA/proj1")
    assert(got(5L) == "root/teamA/proj1/svc")
    // cycle guard: a->b->a terminates at maxDepth instead of hanging
    val cyc = Seq((1L, Some(2L), "a"), (2L, Some(1L), "b")).toDF("id", "parent", "name")
    val paths = graft.ops.Hierarchy.buildPaths(cyc, "id", "parent", "name", maxDepth = 4)
      .select($"path").as[String].collect()
    assert(paths.forall(_.split("/").length <= 6))
  }

  test("relevance normalization maps every metric into [0,1], monotone toward relevant") {
    import graft.ops.Similarity
    val df = Seq((-1.0, 0.0), (0.0, 1.0), (1.0, 5.0)).toDF("cos", "dist")
    val rows = df.select(
      Similarity.relevance("COSINE", $"cos").as("rc"),
      Similarity.relevance("EUCLIDEAN_DISTANCE", $"dist").as("re"),
      Similarity.relevance("DOT_PRODUCT", $"cos").as("rd")).collect()
    val rc = rows.map(_.getDouble(0)); val re = rows.map(_.getDouble(1)); val rd = rows.map(_.getDouble(2))
    assert(rc.toSeq == Seq(0.0, 0.5, 1.0))
    assert(re(0) == 1.0 && re(1) == 0.5 && re(2) < 0.2)
    assert(rd.forall(x => x >= 0 && x <= 1) && rd(0) < rd(1) && rd(1) < rd(2))
  }

  test("sentence splitter prefers sentence boundaries") {
    val t = "First sentence here. Second one is a bit longer. Third closes it."
    val chunks = graft.ops.Split.sentences(t, size = 30, overlap = 0)
    assert(chunks.head.text == "First sentence here. ")
    assert(chunks.forall(_.text.length <= 30))
  }

  test("document sources: text, csv, html, pdf, chunk json all land on the splitter schema") {
    val dir = Files.createTempDirectory("docs").toString
    Files.writeString(java.nio.file.Paths.get(dir, "note.txt"), "plain text file body")
    Files.writeString(java.nio.file.Paths.get(dir, "page.html"),
      "<html><head><style>x{}</style></head><body><h1>Title</h1><p>Hello <b>world</b></p></body></html>")
    Files.writeString(java.nio.file.Paths.get(dir, "table.csv"), "name,role\nada,engineer\ngrace,admiral")
    Files.write(java.nio.file.Paths.get(dir, "doc.pdf"), PdfFixtures.manualPdf)
    Files.writeString(java.nio.file.Paths.get(dir, "chunks.json"),
      """{"id": "c1", "page_content": "chunk text", "metadata": {"source": "s"}}""")

    val txt = DocumentSources.readText(spark, s"$dir/note.txt").collect()
    assert(txt.head.getString(0) == "note" && txt.head.getString(1) == "plain text file body")

    val html = DocumentSources.readHtml(spark, s"$dir/page.html").collect()
    assert(html.head.getString(1) == "Title Hello world")

    // second file: row numbering is per-file and position-derived; third:
    // blank lines (leading — which the header detection must skip past —
    // and interior) never consume a rownum
    Files.writeString(java.nio.file.Paths.get(dir, "other.csv"), "name,role\nlin,captain")
    Files.writeString(java.nio.file.Paths.get(dir, "blanky.csv"),
      "\nname,role\nada2,x\n\ngrace2,y\n")
    val csv = DocumentSources.readCsv(spark, s"$dir/*.csv")
      .orderBy("doc_id").collect()
    assert(csv.map(_.getString(0)).toSeq ==
      Seq("blanky_0", "blanky_1", "other_0", "table_0", "table_1"),
      "doc ids must be {filestem}_{data-row-number}, not partition-layout ids")
    assert(csv(0).getString(1) == "name: ada2\nrole: x")
    assert(csv(1).getString(1) == "name: grace2\nrole: y")
    assert(csv.map(_.getString(0)).toSeq ==
      DocumentSources.readCsv(spark, s"$dir/*.csv").orderBy("doc_id")
        .collect().map(_.getString(0)).toSeq, "ids stable across reads")
    assert(csv(3).getString(1) == "name: ada\nrole: engineer")
    assert(csv(4).getString(1) == "name: grace\nrole: admiral")

    // multi-line records: a quoted field with embedded newlines (and an
    // escaped "" quote) is ONE record — the reference CSVLoader's python
    // csv semantics — and rownums keep counting records, not lines
    Files.writeString(java.nio.file.Paths.get(dir, "multi.csv"),
      "name,role\n\"li\nsa \"\"l\"\"\",\"first\nresponder\"\nsolo,pilot\n")
    val multi = DocumentSources.readCsv(spark, s"$dir/multi.csv").orderBy("doc_id").collect()
    assert(multi.map(_.getString(0)).toSeq == Seq("multi_0", "multi_1"))
    assert(multi(0).getString(1) == "name: li\nsa \"l\"\nrole: first\nresponder",
      "quoted embedded newlines and doubled quotes must survive into the row text")
    assert(multi(1).getString(1) == "name: solo\nrole: pilot")

    // property loop (hand-rolled, seeded): randomized cells over a
    // quote/comma/newline-heavy alphabet, encoded per RFC 4180, must
    // round-trip through the state-machine record split + from_csv into
    // exactly the source cells
    {
      val rnd = new scala.util.Random(7)
      val alphabet = Seq("a", "b", ",", "\"", "\n", " ", "x")
      def cell(): String =
        (0 to rnd.nextInt(5)).map(_ => alphabet(rnd.nextInt(alphabet.size))).mkString
      def enc(v: String): String =
        if (Seq(",", "\"", "\n").exists(v.contains)) "\"" + v.replace("\"", "\"\"") + "\""
        else v
      val pdir = Files.createTempDirectory("csv-prop").toString
      for (trial <- 0 until 15) {
        val rows = (0 until (1 + rnd.nextInt(4))).map(_ => (cell(), cell()))
        Files.writeString(java.nio.file.Paths.get(pdir, s"t$trial.csv"),
          "c1,c2\n" + rows.map(r => enc(r._1) + "," + enc(r._2)).mkString("\n") + "\n")
        val got = DocumentSources.readCsv(spark, s"$pdir/t$trial.csv")
          .orderBy(length($"doc_id"), $"doc_id")
          .select($"text").as[String].collect().toSeq
        val want = rows.map(r => s"c1: ${r._1}\nc2: ${r._2}")
        assert(got == want, s"trial $trial: $rows")
      }
    }

    val pdf = DocumentSources.readPdf(spark, s"$dir/doc.pdf").collect()
    assert(pdf.map(_.getString(0)).toSeq == Seq("doc_p0", "doc_p1"))
    assert(pdf.map(_.getString(1)).toSeq ==
      PdfFixtures.expected.filter(_._1.startsWith("manual")).map(_._2))

    val chunks = DocumentSources.readChunksJson(spark, s"$dir/chunks.json").collect()
    assert(chunks.head.getString(1) == "chunk text")
  }

  test("readHtmlSections: committed fixtures pin sectioning, preamble, idx gaps, script strip") {
    val rows = DocumentSources
      .readHtmlSections(spark, Checkout.fixture("html/*.html"))
      .orderBy("doc_id", "section_idx")
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getString(3)))
    assert(rows.toSeq == Seq(
      ("guide", 0, "", "Guide Preamble text before any header."),
      ("guide", 1, "Getting Started",
        "Getting Started Install the package &amp; run it."),
      ("guide", 2, "Configuration", "Configuration Set opt.level to 3."),
      ("guide", 3, "Deep Dive", "Deep Dive Details span multiple lines."),
      ("mixed", 0, "Alpha", "Alpha First section body."),
      // idx 1 is the dropped EMPTY <h4></h4> section — the gap is the
      // provenance contract (indices number sections before the drop)
      ("mixed", 2, "Beta &lt;tag&gt;", "Beta &lt;tag&gt; Beta body here."),
      ("mixed", 3, "Gamma", "Gamma")))
    // the fixture script contains "<h1>not a header</h1>" INSIDE a JS
    // string — it must not have opened a section (guide has exactly 4)
    assert(rows.count(_._1 == "guide") == 4)
  }

  test("splitMarkdownSections: fence-aware headings, preamble, edge shapes") {
    import DocumentSources.splitMarkdownSections
    // a '#' line inside a ``` fence never opens a section; the fence
    // closes and a real heading after it does
    val fenced = "intro\n```\n# not a heading\n```\n# Real\nbody"
    assert(splitMarkdownSections(fenced).map(s => (s._1, s._2)) ==
      Seq((0, ""), (1, "Real")))
    // blank-only preamble is not emitted as a section
    assert(splitMarkdownSections("\n\n# A\nx").map(_._2) == Seq("A"))
    // heading with no body keeps an empty body; 7 hashes is NOT ATX
    assert(splitMarkdownSections("# A\n## B") ==
      Seq((1, "A", ""), (2, "B", "")))
    assert(splitMarkdownSections("####### seven\nx") ==
      Seq((0, "", "####### seven\nx")))
    // '#heading' without the space is prose, not a heading
    assert(splitMarkdownSections("#nope\n# yes\nb").map(_._2) == Seq("", "yes"))
    assert(splitMarkdownSections("") == Seq.empty)
    // CommonMark fence pairing: a 4-backtick fence wrapping a
    // ```python example stays OPEN through the inner marker — the '#'
    // inside must not open a section; the 4-backtick close ends it
    val nested = "````\n```python\n# still fenced\n```\n````\n# After\nz"
    assert(splitMarkdownSections(nested).map(s => (s._1, s._2)) ==
      Seq((0, ""), (1, "After")),
      s"inner fence markers must not desync: ${splitMarkdownSections(nested)}")
  }

  // The driver once recorded a hash mismatch for this entry that no
  // single-process reproduction could explain; this spec makes the
  // artifact defend itself — if the driver reds again while this is
  // green, the divergence is provably outside the engine's plan.
  test("pack_sequence_windows entry: byte-identical under concurrent load and partition configs") {
    val entry = SparkEntry.queries("pack_sequence_windows")
    // all five projected columns are longs and the entry orders by
    // position, so the exact row text IS the byte content
    def render(): Seq[String] = entry(spark, sf).collect().map(_.mkString(",")).toSeq
    val baseline = render()
    assert(baseline.nonEmpty)
    import java.util.concurrent.{Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(4)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    (1 to 4).foreach { _ =>
      pool.submit(new Runnable {
        def run(): Unit =
          while (!stop.get())
            Tables.documents(spark, sf).groupBy($"lang").count().collect(): Unit
      })
    }
    try (1 to 2).foreach { i =>
      assert(render() == baseline, s"run $i diverged under concurrent load")
    } finally {
      stop.set(true); pool.shutdown()
      pool.awaitTermination(60, TimeUnit.SECONDS): Unit
    }
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "13")
      assert(render() == baseline, "entry must not depend on shuffle partition count")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }
}
