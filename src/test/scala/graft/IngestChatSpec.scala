package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.CachedEntries
import org.scalatest.funsuite.AnyFunSuite

import graft.embed.{Embedder, HashEmbedder}
import graft.ops.{Chat, Ingest, Testbed}

/** Fails in the embed, after the ingest has pinned and counted its chunks. */
private final case class BoomEmbedder(inner: Embedder) extends Embedder {
  def dim: Int = inner.dim
  def embed(text: String): Array[Float] =
    if (text == "boom embed") throw new IllegalStateException("boom") else inner.embed(text)
}

class IngestChatSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val embedder = HashEmbedder(dim = 32)

  test("ingest releases persisted data when a job fails") {
    val sc = spark.sparkContext
    val boom = udf((s: String) => if (s == "boom") throw new IllegalStateException("boom") else s)
    // over a range, not a local relation, so the job that materializes
    // the pin is the one that fails
    def docs(texts: String*) = spark.range(texts.size).select(col("id").as("doc_id"),
      boom(element_at(array(texts.map(lit): _*), (col("id") + 1).cast("int"))).as("text"))
    val cfg = Ingest.StoreConfig("leak", "hash-32", 120, 20)
    val calls = Seq[(String, () => Any)](
      "split" -> (() => Ingest.ingest(spark, docs("a b c", "boom", "d e f"), "doc_id", "text",
        Files.createTempDirectory("graft-leak").toString, cfg, embedder)),
      "embed" -> (() => Ingest.ingest(spark, docs("a b c", "boom embed", "d e f"), "doc_id",
        "text", Files.createTempDirectory("graft-leak").toString, cfg, BoomEmbedder(embedder))))
    val leaks = calls.map { case (name, call) =>
      val (rdds, entries) = (sc.getPersistentRDDs.keySet, CachedEntries(spark))
      val e = intercept[Exception](call())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => Option(t.getMessage).exists(_.contains("boom"))), s"$name: $e")
      (name, (sc.getPersistentRDDs.keySet -- rdds).size, CachedEntries(spark) - entries)
    }
    assert(leaks.forall(l => l._2 == 0 && l._3 == 0),
      s"(stage, persisted RDDs, cached Datasets) left behind: $leaks")
  }

  test("ingest is idempotent: re-ingesting the same corpus appends zero rows (S15)") {
    val dir = Files.createTempDirectory("graft-store").toString
    val cfg = Ingest.StoreConfig("test", "hash-32", 120, 20)
    val docs = Tables.documents(spark, sf).limit(50)
    val r1 = Ingest.ingest(spark, docs, "doc_id", "text", dir, cfg, embedder)
    assert(r1.chunksIn > 50, "splitting should produce more chunks than docs")
    assert(r1.appended == r1.deduped)
    assert(r1.storeRows == r1.appended)
    val r2 = Ingest.ingest(spark, docs, "doc_id", "text", dir, cfg, embedder)
    assert(r2.appended == 0, "second ingest must be a no-op")
    assert(r2.storeRows == r1.storeRows)
    // incremental: 10 new docs append only their chunks
    val more = Tables.documents(spark, sf).limit(60)
    val r3 = Ingest.ingest(spark, more, "doc_id", "text", dir, cfg, embedder)
    assert(r3.appended > 0 && r3.appended < r3.deduped)
    assert(r3.storeRows == r1.storeRows + r3.appended)
  }

  test("S14 batch/throttle contract: ceil(n/500) embedBatch calls, one throttle token each, batches never exceed 500") {
    import graft.embed.RateLimitedEmbedder
    CountingEmbedder.reset()
    val docs = spark.range(0, 1230).select($"id".as("doc_id"),
        concat(lit("document text number "), $"id".cast("string")).as("text"))
      .repartition(1)
    val counted = CountingEmbedder(8)
    // rpm 6000 = 10 ms/token: 3 batches pay >= 2 full intervals beyond
    // the first — wall time is a LOWER bound, so this cannot flake fast
    val t0 = System.nanoTime()
    val out = Ingest.embedBatched(docs, "text",
      RateLimitedEmbedder(counted, rpm = 6000), batchSize = 500,
      withBatchMeta = true).collect()
    val elapsedMs = (System.nanoTime() - t0) / 1000000L
    assert(out.length == 1230)
    // the reference contract: batches of 500 → ceil(1230/500) = 3 calls
    assert(CountingEmbedder.batchCalls.get() == 3,
      s"expected 3 embedBatch calls, got ${CountingEmbedder.batchCalls.get()}")
    assert(CountingEmbedder.maxBatch.get() == 500)
    // batch metadata: idx 0,1 full at 500; idx 2 carries the 230 tail
    val sizes = out.map(r => r.getLong(r.fieldIndex("batch_idx")) ->
      r.getInt(r.fieldIndex("batch_size"))).distinct.sortBy(_._1).toSeq
    assert(sizes == Seq(0L -> 500, 1L -> 500, 2L -> 230))
    // one throttle token per batch: >= 2 x 10 ms intervals after the first
    assert(elapsedMs >= 20, s"throttle must space the 3 batches, ran in ${elapsedMs}ms")
    // and the values are identical to the per-row expression path
    val perRow = docs.withColumn("embedding",
      graft.embed.EmbedText.embedText($"text", HashEmbedder(8)))
      .select($"doc_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    out.foreach { r =>
      assert(r.getSeq[Float](r.fieldIndex("embedding")) == perRow(r.getLong(0)))
    }
    // a PARTIAL batch from a flaky model API must fail loudly — zipping
    // short would silently drop input rows from the ingest
    val partial = new graft.embed.Embedder {
      def dim = 4
      def embed(t: String): Array[Float] = Array.fill(4)(0.1f)
      override def embedBatch(ts: Seq[String]): Seq[Array[Float]] =
        ts.drop(1).map(embed) // loses one vector per batch
    }
    val e = intercept[Exception] {
      Ingest.embedBatched(docs.limit(10), "text", partial, batchSize = 5).collect()
    }
    assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(t => t.getMessage != null && t.getMessage.contains("partial batch")),
      s"partial-batch loss must surface loudly, got: $e")
    // null text → null embedding propagates (the per-row EmbedText
    // expression's null semantics), never an encoder NPE
    val nullTolerant = new graft.embed.Embedder {
      def dim = 4
      def embed(t: String): Array[Float] =
        if (t == null) null else Array.fill(4)(0.2f)
    }
    val withNulls = spark.range(0, 6).select($"id".as("doc_id"),
      when($"id" % 3 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("t"), $"id".cast("string"))).as("text"))
    val got = Ingest.embedBatched(withNulls, "text", nullTolerant,
        batchSize = 4).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(r.fieldIndex("embedding"))) null
         else r.getSeq[Float](r.fieldIndex("embedding")))).toMap
    assert(got(0L) == null && got(3L) == null,
      "null text rows must carry a null embedding")
    assert(got(1L) != null && got(5L) != null,
      "non-null rows still embed")
  }

  test("ingest keeps an IVF-indexed store cluster-partitioned across appends and compaction") {
    import graft.ops.{Ivf, Similarity, VersionedStore}
    val dir = Files.createTempDirectory("graft-ivf-ingest").toString
    val cfg = Ingest.StoreConfig("ivfing", "hash-32", 120, 20)
    Ingest.ingest(spark, Tables.documents(spark, sf).limit(40), "doc_id", "text",
      dir, cfg, embedder)
    val table = s"$dir/${cfg.tableName}"
    val model = Ivf.indexStore(spark, table, "id", "embedding", k = 4)
    var total = VersionedStore.read(spark, table).get.count()
    // three growing ingests: the anti-join appends only the new chunks,
    // and because the store carries _ivf_model each append lands
    // cluster-assigned (the reference re-indexes after every merge)
    for (r <- 1 to 3) {
      val res = Ingest.ingest(spark, Tables.documents(spark, sf).limit(40 + 10 * r),
        "doc_id", "text", dir, cfg, embedder)
      assert(res.appended > 0, s"ingest $r should add new chunks")
      total += res.appended
    }
    val store = VersionedStore.read(spark, table).get
    assert(store.schema.fieldNames.contains("cluster_id"),
      "appends must keep the clustered layout")
    assert(store.count() == total)
    val persisted = Ivf.loadModel(spark, Ivf.modelPath(table))
    assert(persisted.fingerprint == model.fingerprint,
      "the sidecar still holds the indexing model")
    // probed search on the grown store: pruning still real, full probe
    // still exact vs brute force over the same rows
    val qv = embedder.embed("the quick brown fox")
    val partial = Ivf.search(store, "embedding", persisted, qv, 5, nProbe = 2,
      storePath = Some(table))
    val plan = partial.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cluster_id".r.findFirstIn(plan).isDefined,
      s"probe filter must stay a partition filter after appends:\n$plan")
    assert(partial.count() == 5)
    val exact = Similarity.knn(store.select($"id", $"embedding"), "embedding", qv, 5)
      .select($"id").as[String].collect().toSeq
    val full = Ivf.search(store, "embedding", persisted, qv, 5, nProbe = persisted.k,
        storePath = Some(table))
      .select($"id").as[String].collect().toSeq
    assert(full == exact, "full probe must equal brute force on the grown store")
    // compaction must preserve the layout too — one compact would
    // otherwise undo what every probe depends on
    assert(Ingest.compactStore(spark, dir, cfg) > 0)
    val compacted = VersionedStore.read(spark, table).get
    assert(compacted.schema.fieldNames.contains("cluster_id"))
    assert(compacted.count() == total)
  }

  test("compactStore collapses accumulated small files, preserving content exactly") {
    val dir = Files.createTempDirectory("graft-compact").toString
    val cfg = Ingest.StoreConfig("cmp", "hash-32", 120, 20)
    // five tiny ingests accumulate five single-file segments
    for (i <- 0 until 5) {
      val docs = Tables.documents(spark, sf).filter($"doc_id" >= i * 10 && $"doc_id" < (i + 1) * 10)
      Ingest.ingest(spark, docs, "doc_id", "text", dir, cfg, embedder)
    }
    val path = s"$dir/${cfg.tableName}"
    def liveFiles(): Seq[String] = {
      val st = graft.ops.VersionedStore.currentState(spark, path).get
      st.segments.flatMap(s => graft.Fs.list(spark, s"$path/$s")).filter(_.endsWith(".parquet"))
    }
    def readIds(): Seq[String] =
      Ingest.readStore(spark, dir, cfg).get.select($"id").as[String].collect().sorted.toSeq
    val before = readIds()
    assert(liveFiles().size > 2, "fixture must actually have accumulated files")
    // snapshot reader resolved BEFORE compaction: must stay scannable
    // (retired segments survive until vacuum)
    val snapshot = Ingest.readStore(spark, dir, cfg).get
    val n = Ingest.compactStore(spark, dir, cfg, rowsPerFile = 1000)
    assert(n == 1 && liveFiles().size == 1, "all rows fit one target file")
    assert(readIds() == before, "compaction must preserve rows exactly")
    assert(snapshot.count() == before.size, "pre-compaction snapshot reader still sees its state")
    // vacuum reclaims the five retired segments; the live state is intact
    // (graceMs = 0: the test knows all writers are done — the default
    // hour-long grace would rightly refuse to touch such fresh segments)
    assert(Ingest.vacuumStore(spark, dir, cfg).isEmpty, "default grace must spare fresh segments")
    val dead = Ingest.vacuumStore(spark, dir, cfg, graceMs = 0L)
    assert(dead.nonEmpty)
    assert(readIds() == before)
    assert(graft.Fs.list(spark, path).count(p =>
      p.substring(p.lastIndexOf('/') + 1).startsWith("seg-")) == 1)
  }

  test("versioned store: crash mid-compaction leaves the table readable; mid-compaction append survives the manifest swap") {
    import graft.ops.VersionedStore
    val table = Files.createTempDirectory("graft-vstore").toString + "/T"
    VersionedStore.appendNonEmpty(spark, table, Seq((1L, "a"), (2L, "b")).toDF("id", "v")): Unit
    val v1 = VersionedStore.currentState(spark, table).get

    // crash mid-compaction = a segment written but never committed: the
    // current state is untouched and the orphan is vacuumable — but only
    // past the grace window (a FRESH unreferenced segment may belong to
    // an in-flight writer whose commit hasn't landed yet)
    VersionedStore.writeSegment(spark, table, Seq((9L, "orphan")).toDF("id", "v"))
    assert(VersionedStore.currentState(spark, table).get == v1)
    assert(VersionedStore.read(spark, table).get.count() == 2, "crash leaves old state readable")
    assert(VersionedStore.vacuum(spark, table).isEmpty,
      "default grace must not delete a possibly-in-flight segment")
    assert(VersionedStore.vacuum(spark, table, graceMs = 0L).nonEmpty)
    assert(VersionedStore.read(spark, table).get.count() == 2)

    // compaction interleaved with an append: the append takes the next
    // version first, so the compactor's commit must retry — subtracting
    // only the segments it rewrote and keeping the concurrent append
    val preState = VersionedStore.currentState(spark, table).get
    val compactedSeg = VersionedStore.writeSegment(spark, table,
      spark.read.parquet(preState.segments.map(s => s"$table/$s"): _*).coalesce(1))
    VersionedStore.appendNonEmpty(spark, table, Seq((3L, "c")).toDF("id", "v")): Unit
    VersionedStore.commit(spark, table,
      cur => cur.filterNot(preState.segments.toSet) :+ compactedSeg): Unit
    val ids = VersionedStore.read(spark, table).get.select($"id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L), "concurrent append must survive the compaction swap")
    // no-op append publishes no version
    val vBefore = VersionedStore.currentState(spark, table).get.version
    assert(VersionedStore.appendNonEmpty(spark, table,
      Seq.empty[(Long, String)].toDF("id", "v")) == 0L)
    assert(VersionedStore.currentState(spark, table).get.version == vBefore)

    // two racing compactors must never duplicate rows: the loser detects
    // its rewritten segments are gone and abandons its own rewrite
    val n0 = VersionedStore.read(spark, table).get.count()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val racers = Future.sequence(Seq(
      Future(VersionedStore.compact(spark, table, rowsPerFile = 1000)),
      Future(VersionedStore.compact(spark, table, rowsPerFile = 1000))))
    Await.result(racers, 5.minutes)
    assert(VersionedStore.read(spark, table).get.count() == n0,
      "concurrent compaction must not duplicate rows")
    assert(VersionedStore.read(spark, table).get.select($"id").distinct().count() == n0)

    // time travel: manifests are never deleted, so every committed
    // version stays readable until its segments are vacuumed
    assert(VersionedStore.readAt(spark, table, 1L).get.count() == 2,
      "version 1 (the first two rows) must still be readable")
    val cur = VersionedStore.currentState(spark, table).get.version
    assert(VersionedStore.history(spark, table).map(_.version) == (1L to cur),
      "history lists every committed version in order")

    // after vacuum reclaims the retired segments, time travel to the old
    // version degrades to None — never an eager missing-path failure
    VersionedStore.vacuum(spark, table, graceMs = 0L)
    assert(VersionedStore.readAt(spark, table, 1L).isEmpty,
      "a vacuumed version reads as None, not a path error")
    assert(VersionedStore.read(spark, table).get.count() == n0, "current state unaffected")
  }

  test("vacuum retention horizon: the last N versions stay time-travel readable, older manifests are reclaimed") {
    import graft.ops.VersionedStore
    val table = Files.createTempDirectory("graft-retain").toString + "/T"
    for (i <- 1 to 5)
      VersionedStore.appendNonEmpty(spark, table, Seq((i.toLong, s"v$i")).toDF("id", "v")): Unit
    // compact so versions 1-5's original segments are retired from current
    VersionedStore.compact(spark, table, rowsPerFile = 1000): Unit
    val cur = VersionedStore.currentState(spark, table).get.version // = 6
    // retain the last 3 versions (4, 5, 6): their reads must survive the
    // vacuum; versions below the horizon lose BOTH segments and manifests
    VersionedStore.vacuum(spark, table, graceMs = 0L, retainVersions = 3)
    assert(VersionedStore.readAt(spark, table, cur).get.count() == 5)
    assert(VersionedStore.readAt(spark, table, cur - 1).get.count() == 5,
      "version inside the horizon must stay readable")
    assert(VersionedStore.readAt(spark, table, cur - 2).get.count() == 4,
      "version inside the horizon must stay readable")
    assert(VersionedStore.readAt(spark, table, cur - 3).isEmpty,
      "version below the horizon reads as None")
    assert(VersionedStore.history(spark, table).map(_.version) == (cur - 2 to cur),
      "manifests below the horizon are gone from history")
    assert(VersionedStore.read(spark, table).get.count() == 5, "current state unaffected")
    // legacy default (retainVersions = 0) still keeps manifests: build a
    // second table, vacuum without retention, history stays complete
    val t2 = Files.createTempDirectory("graft-retain0").toString + "/T"
    for (i <- 1 to 3)
      VersionedStore.appendNonEmpty(spark, t2, Seq((i.toLong, s"v$i")).toDF("id", "v")): Unit
    VersionedStore.compact(spark, t2, rowsPerFile = 1000): Unit
    VersionedStore.vacuum(spark, t2, graceMs = 0L)
    assert(VersionedStore.history(spark, t2).map(_.version) == (1L to 4L),
      "legacy vacuum keeps every manifest")
  }

  test("versioned store: 8 concurrent appends all land exactly once (manifest CAS)") {
    import graft.ops.VersionedStore
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val table = Files.createTempDirectory("graft-cas").toString + "/T"
    val n = 8
    // all writers race the same initial versions; the hardlink-exclusive
    // publish must serialize them — any lost-but-undetected race shows as
    // a missing id (its segment absent from the winning manifest chain)
    val racers = (0 until n).map(i => Future {
      VersionedStore.appendNonEmpty(spark, table, Seq((i.toLong, s"v$i")).toDF("id", "v"))
    })
    Await.result(Future.sequence(racers), 5.minutes)
    val got = VersionedStore.read(spark, table).get.select($"id").as[Long].collect().sorted.toSeq
    assert(got == (0L until n.toLong), s"every concurrent append must be visible exactly once: $got")
    assert(VersionedStore.currentState(spark, table).get.version == n,
      "8 appends = exactly 8 committed versions")
  }

  test("registered lexical index survives concurrent seam appends (maintenance lock)") {
    import graft.ops.{Ingest, Keyword, VersionedStore}
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val table = Files.createTempDirectory("lex-race").toString + "/T"
    val idx = Files.createTempDirectory("lex-race-idx").toString
    VersionedStore.append(spark, table,
      Seq((0L, "alpha beta gamma delta")).toDF("doc_id", "text"))
    Keyword.registerLexicalIndex(spark, table, "doc_id", "text", idx)
    // 4 writers race through the seam; the per-table maintenance lock
    // serializes the index folds, and the last fold (or a racer's
    // incremental catch-up — each fold covers ALL segments since the
    // stamp) must leave the index fresh and complete
    val racers = (1 to 4).map(i => Future {
      Ingest.appendRespectingLayout(spark, table,
        Seq((i.toLong, s"omega$i sigma$i tau$i upsilon$i")).toDF("doc_id", "text"))
    })
    Await.result(Future.sequence(racers), 5.minutes)
    // a stale index would throw here (staleness guard); a torn one would
    // miss a doc. Final state must serve every appended doc.
    (1 to 4).foreach { i =>
      val hits = Keyword.bm25Indexed(spark, idx, Seq(s"omega$i"), topK = 5,
        idName = "doc_id", store = Some(table))
      assert(hits.count() == 1, s"doc $i must be indexed and ranked")
    }
  }

  test("versioned store adopts a legacy flat-layout table on first write") {
    import graft.ops.VersionedStore
    val table = Files.createTempDirectory("graft-legacy").toString + "/T"
    // a pre-manifest store: loose part files written directly
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
      .write.parquet(table)
    // pure readers see the flat layout as-is
    assert(VersionedStore.read(spark, table).get.count() == 3)
    assert(VersionedStore.currentState(spark, table).isEmpty)
    // the first write adopts the loose files into a committed segment —
    // old rows stay visible alongside the new ones (no silent data loss,
    // and an anti-join against read() still sees the legacy rows)
    VersionedStore.appendNonEmpty(spark, table, Seq((4L, "d")).toDF("id", "v")): Unit
    val ids = VersionedStore.read(spark, table).get.select($"id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L, 4L))
    val st = VersionedStore.currentState(spark, table).get
    assert(st.segments.exists(_.startsWith("seg-legacy")) && st.segments.size == 2)
    // adoption COPIES (crash-safe for readers); the redundant loose
    // originals are reclaimed by vacuum and the table stays complete
    assert(VersionedStore.vacuum(spark, table, graceMs = 0L).nonEmpty)
    assert(VersionedStore.read(spark, table).get.select($"id").as[Long].collect().sorted.toSeq
      == Seq(1L, 2L, 3L, 4L))
    // a loose file landing AFTER the table went versioned (external /
    // old-binary writer) is the only copy of its rows — vacuum must
    // leave it shadowed on disk, not destroy it
    Seq((9L, "ext")).toDF("id", "v").write.mode("append").parquet(table)
    VersionedStore.vacuum(spark, table, graceMs = 0L)
    assert(graft.Fs.list(spark, table).exists(p =>
      p.substring(p.lastIndexOf('/') + 1).endsWith(".parquet")),
      "post-adoption loose files must survive vacuum")
    assert(VersionedStore.read(spark, table).get.count() == 4, "manifest state unchanged")

    // the plain append writer adopts too — a first append on a legacy
    // table must not publish a manifest that hides the loose rows
    val t2 = Files.createTempDirectory("graft-legacy2").toString + "/T"
    Seq((7L, "x")).toDF("id", "v").write.parquet(t2)
    VersionedStore.append(spark, t2, Seq((8L, "y")).toDF("id", "v")): Unit
    assert(VersionedStore.read(spark, t2).get.select($"id").as[Long].collect().sorted.toSeq
      == Seq(7L, 8L))
  }

  test("store config derives the reference's table name and round-trips the catalog") {
    val cfg = Ingest.StoreConfig("TEST", "mock-embed.model", 100, 20, "COSINE", "HNSW")
    assert(cfg.tableName == "TEST_MOCK_EMBED_MODEL_100_20_COSINE_HNSW")
    val dir = Files.createTempDirectory("graft-cat").toString
    Ingest.ingest(spark, Seq((1L, "hello world of spark")).toDF("doc_id", "text"),
      "doc_id", "text", dir, cfg, embedder)
    val stores = Ingest.listStores(spark, dir).collect()
    assert(stores.length == 1)
    assert(stores.head.getAs[String]("alias") == "TEST")
    assert(stores.head.getAs[Int]("chunk_size") == 100)
  }

  test("cleanHistory drops system and tool messages plus the message before each tool (P8)") {
    val msgs = Seq(
      ("s1", 0L, "system", "old sys"),
      ("s1", 1L, "human", "hi"),
      ("s1", 2L, "ai", "hello"),
      ("s1", 3L, "ai", "calling tool"),   // must go: precedes a tool message
      ("s1", 4L, "tool", "tool result"),  // must go
      ("s1", 5L, "human", "question"),
      ("s2", 0L, "human", "solo")
    ).toDF("session", "seq", "role", "content")
    val got = Chat.cleanHistory(msgs, useHistory = true, sysPrompt = "sys")
      .select($"session", $"seq", $"role", $"content")
      .as[(String, Long, String, String)].collect().toSeq
    assert(got == Seq(
      ("s1", -1L, "system", "sys"),
      ("s1", 1L, "human", "hi"),
      ("s1", 2L, "ai", "hello"),
      ("s1", 5L, "human", "question"),
      ("s2", -1L, "system", "sys"),
      ("s2", 0L, "human", "solo")))
    // useHistory=false keeps only the last surviving message per session
    val last = Chat.cleanHistory(msgs, useHistory = false, sysPrompt = "sys")
      .filter($"session" === "s1" && $"role" =!= "system")
      .select($"seq").as[Long].collect().toSeq
    assert(last == Seq(5L))
    // consecutive tool messages pop repeatedly (parallel tool calls):
    // reference semantics leave nothing but the fresh system prompt
    val par = Seq(
      ("p", 0L, "human", "q"), ("p", 1L, "ai", "call"),
      ("p", 2L, "tool", "r1"), ("p", 3L, "tool", "r2")
    ).toDF("session", "seq", "role", "content")
    val survivors = Chat.cleanHistory(par, useHistory = true, sysPrompt = "sys")
      .filter($"role" =!= "system").count()
    assert(survivors == 0, "tool(2) pops ai(1), tool(3) pops human(0)")
  }

  test("rag answer pipeline: retrieval grounds the template answer with provenance") {
    val dir = Files.createTempDirectory("graft-rag").toString
    val cfg = Ingest.StoreConfig("rag", "hash-32", 200, 0)
    val docs = Seq(
      (1L, "spark catalyst optimizer plans queries"),
      (2L, "parquet files store columnar data"),
      (3L, "cooking pasta requires boiling water")
    ).toDF("doc_id", "text")
    Ingest.ingest(spark, docs, "doc_id", "text", dir, cfg, embedder)
    // the store's natural key is the md5 STRING content id — answer must
    // accept it directly (no synthetic numeric id)
    val store = Ingest.readStore(spark, dir, cfg).get
    val ans = Chat.answer(spark, "how does spark plan queries", store,
      "id", "text", "embedding", embedder, topK = 2)
    assert(ans.relevant, "overlap grader should find 'spark' in context")
    assert(ans.retrievedIds.size == 2)
    assert(ans.retrievedIds.forall(_.length == 32), "ids are md5 strings")
    assert(ans.question == "how does spark plan queries")
    assert(ans.answer.contains("grounded on 2 chunks"))
    assert(ans.context.contains("spark"))
    // use_rag=false routes to plain generation (V8)
    val plain = Chat.answer(spark, "how does spark plan queries", store,
      "id", "text", "embedding", embedder, useRag = false)
    assert(plain.retrievedIds.isEmpty && plain.context.isEmpty)
    // single-question IVF retrieval at full probe equals the exhaustive
    // path (same scores, same id tiebreak)
    val ivfModel = graft.ops.Ivf.fit(store, "id", "embedding", k = 2)
    val viaIndex = Chat.answer(spark, "how does spark plan queries", store,
      "id", "text", "embedding", embedder, topK = 2, index = Some((ivfModel, 2)))
    assert(viaIndex == ans, "full-probe indexed answer must equal the exhaustive answer")
  }

  test("V5 contextualization gate: rewrite only when history-on AND ctx-prompt-set AND prior turns exist") {
    val dir = Files.createTempDirectory("graft-v5").toString
    val cfg = Ingest.StoreConfig("v5", "hash-32", 200, 0)
    val docs = Seq(
      (1L, "spark catalyst optimizer plans queries"),
      (2L, "parquet files store columnar data")
    ).toDF("doc_id", "text")
    Ingest.ingest(spark, docs, "doc_id", "text", dir, cfg, embedder)
    val store = Ingest.readStore(spark, dir, cfg).get
    // non-identity deterministic rewriter: folds the last history turn in
    object CtxModel extends Chat.ChatModel {
      def rewrite(q: String, h: Seq[String]): String = s"$q ${h.last}"
      def generate(sys: String, c: String, q: String): String =
        Chat.TemplateModel.generate(sys, c, q)
    }
    val q = "how does spark plan queries"
    val hist = Seq("we were discussing catalyst")
    // all three gate conditions met -> the model rewrites
    val on = Chat.answer(spark, q, store, "id", "text", "embedding", embedder,
      model = CtxModel, topK = 1, history = hist,
      useHistory = true, ctxPrompt = Some("rephrase for retrieval"))
    assert(on.rewrittenQuery == s"$q we were discussing catalyst")
    assert(on.question == q, "original question is preserved as provenance")
    // history off -> no rewrite even with prompt + turns
    val histOff = Chat.answer(spark, q, store, "id", "text", "embedding",
      embedder, model = CtxModel, topK = 1, history = hist,
      useHistory = false, ctxPrompt = Some("rephrase"))
    assert(histOff.rewrittenQuery == q)
    // no ctx prompt (the default) -> no rewrite; model never consulted
    object ExplodingModel extends Chat.ChatModel {
      def rewrite(qq: String, h: Seq[String]): String =
        throw new IllegalStateException("rewrite must not run outside the gate")
      def generate(sys: String, c: String, qq: String): String =
        Chat.TemplateModel.generate(sys, c, qq)
    }
    val noPrompt = Chat.answer(spark, q, store, "id", "text", "embedding",
      embedder, model = ExplodingModel, topK = 1, history = hist)
    assert(noPrompt.rewrittenQuery == q)
    // no prior turns -> no rewrite (the reference's len(history) > 1 after
    // the pop, i.e. system + at least one turn)
    val noTurns = Chat.answer(spark, q, store, "id", "text", "embedding",
      embedder, model = ExplodingModel, topK = 1, history = Seq.empty,
      useHistory = true, ctxPrompt = Some("rephrase"))
    assert(noTurns.rewrittenQuery == q)
    // replace-only-if-changed: a model echoing the question leaves it
    object EchoModel extends Chat.ChatModel {
      def rewrite(qq: String, h: Seq[String]): String = qq
      def generate(sys: String, c: String, qq: String): String =
        Chat.TemplateModel.generate(sys, c, qq)
    }
    val echo = Chat.answer(spark, q, store, "id", "text", "embedding",
      embedder, model = EchoModel, topK = 1, history = hist,
      useHistory = true, ctxPrompt = Some("rephrase"))
    assert(echo.rewrittenQuery == q)

    // batch path: the same gate per row — question 0 has history, 1 none
    val qdf = Seq((0L, q, Seq("we were discussing catalyst")),
                  (1L, "what stores columnar data", Seq.empty[String]))
      .toDF("qid", "question", "hist")
    val batch = Chat.answerBatch(qdf, "qid", "question", store,
        "id", "text", "embedding", embedder, model = CtxModel, topK = 1,
        historyCol = Some("hist"),
        useHistory = true, ctxPrompt = Some("rephrase for retrieval"))
      .collect().map(r => r.getAs[Long]("qid") -> r.getAs[String]("rewritten_query")).toMap
    assert(batch(0L) == s"$q we were discussing catalyst")
    assert(batch(1L) == "what stores columnar data")
    // batch ≡ single on the gated rewrite (retrieval included)
    val single0 = Chat.answer(spark, q, store, "id", "text", "embedding",
      embedder, model = CtxModel, topK = 1, history = hist,
      useHistory = true, ctxPrompt = Some("rephrase for retrieval"))
    assert(batch(0L) == single0.rewrittenQuery)
  }

  test("answerBatch equals per-question answer on the same store") {
    val dir = Files.createTempDirectory("graft-batch").toString
    val cfg = Ingest.StoreConfig("batch", "hash-32", 200, 0)
    val docs = Seq(
      (1L, "spark catalyst optimizer plans queries"),
      (2L, "parquet files store columnar data"),
      (3L, "cooking pasta requires boiling water"),
      (4L, "streaming watermarks bound state growth")
    ).toDF("doc_id", "text")
    Ingest.ingest(spark, docs, "doc_id", "text", dir, cfg, embedder)
    val store = Ingest.readStore(spark, dir, cfg).get
    val questions = Seq("how does spark plan queries", "what stores columnar data",
      "how to cook pasta")
    val batch = Chat.answerBatch(
        questions.zipWithIndex.map { case (q, i) => (i.toLong, q) }.toDF("qid", "question"),
        "qid", "question", store, "id", "text", "embedding", embedder, topK = 2)
      .collect().map(r => r.getAs[String]("question") -> r).toMap
    questions.foreach { qtext =>
      val single = Chat.answer(spark, qtext, store, "id", "text", "embedding", embedder, topK = 2)
      val b = batch(qtext)
      assert(b.getAs[String]("rewritten_query") == single.rewrittenQuery, qtext)
      assert(b.getAs[String]("answer") == single.answer, qtext)
      assert(b.getAs[String]("context") == single.context, qtext)
      assert(b.getAs[scala.collection.Seq[String]]("retrieved_ids").toSeq == single.retrievedIds, qtext)
      assert(b.getAs[Boolean]("relevant") == single.relevant, qtext)
    }
    // evaluateRag produces the evaluate-shaped report from the batch path
    val qa = questions.map(q => Testbed.QaRecord(q, q.split(" ").last, "ctx", "t")).toDF()
    val report = Testbed.evaluateRag(qa, store, "id", "text", "embedding", embedder, topK = 2)
    assert(report.columns.toSeq == Seq("question", "topic", "answer", "correct"))
    assert(report.count() == 3)

    // IVF-indexed retrieval (the reference's serving shape): at full
    // probe the whole pipeline — retrieval, grading, generation,
    // provenance — must equal the exhaustive path row-for-row
    val ivfModel = graft.ops.Ivf.fit(store, "id", "embedding", k = 2)
    val qdf = questions.zipWithIndex.map { case (q, i) => (i.toLong, q) }.toDF("qid", "question")
    val exhaustive = Chat.answerBatch(qdf, "qid", "question", store,
        "id", "text", "embedding", embedder, topK = 2)
      .orderBy($"qid").collect().toSeq
    val indexed = Chat.answerBatch(qdf, "qid", "question", store,
        "id", "text", "embedding", embedder, topK = 2, index = Some((ivfModel, 2)))
      .orderBy($"qid").collect().toSeq
    assert(indexed == exhaustive, "full-probe IVF answerBatch must equal the exhaustive join")
    // partial probe still answers every question (subset retrieval)
    val partial = Chat.answerBatch(qdf, "qid", "question", store,
      "id", "text", "embedding", embedder, topK = 2, index = Some((ivfModel, 1)))
    assert(partial.count() == 3)
    val ivfReport = Testbed.evaluateRag(qa, store, "id", "text", "embedding", embedder,
      topK = 2, index = Some((ivfModel, 2)))
    assert(ivfReport.count() == 3)
  }

  test("search-type dispatch: threshold and MMR legs route through the pipeline, batch equals per-question") {
    import graft.ops.Chat.SearchType
    val dir = Files.createTempDirectory("graft-dispatch").toString
    val cfg = Ingest.StoreConfig("disp", "hash-32", 200, 0)
    val docs = Seq(
      (1L, "spark catalyst optimizer plans queries"),
      (2L, "spark catalyst rules rewrite plans"),
      (3L, "parquet files store columnar data"),
      (4L, "cooking pasta requires boiling water"),
      (5L, "streaming watermarks bound state growth")
    ).toDF("doc_id", "text")
    Ingest.ingest(spark, docs, "doc_id", "text", dir, cfg, embedder)
    val store = Ingest.readStore(spark, dir, cfg).get
    val questions = Seq("how does spark plan queries", "what stores columnar data")
    val qdf = questions.zipWithIndex.map { case (q, i) => (i.toLong, q) }.toDF("qid", "question")

    for (st <- Seq(SearchType.ScoreThreshold(0.55), SearchType.Mmr(fetchK = 4, lambdaMult = 0.3),
                   SearchType.Hybrid(fetchKPerLeg = 4), SearchType.Hybrid(c = 1, fetchKPerLeg = 5))) {
      val batch = Chat.answerBatch(qdf, "qid", "question", store,
          "id", "text", "embedding", embedder, topK = 2, searchType = st)
        .collect().map(r => r.getAs[String]("question") -> r).toMap
      questions.foreach { qtext =>
        val single = Chat.answer(spark, qtext, store, "id", "text", "embedding",
          embedder, topK = 2, searchType = st)
        val b = batch(qtext)
        assert(b.getAs[String]("answer") == single.answer, s"$st / $qtext")
        assert(b.getAs[String]("context") == single.context, s"$st / $qtext")
        assert(b.getAs[scala.collection.Seq[String]]("retrieved_ids").toSeq
          == single.retrievedIds, s"$st / $qtext")
        assert(b.getAs[Boolean]("relevant") == single.relevant, s"$st / $qtext")
      }
    }
    // the threshold leg must also commute under EUCLIDEAN ordering
    // (relevance decreasing in distance — the kept rows are still a
    // rank prefix, just of the ascending sort)
    val stE = SearchType.ScoreThreshold(0.5)
    val batchE = Chat.answerBatch(qdf, "qid", "question", store,
        "id", "text", "embedding", embedder, topK = 2,
        metric = "EUCLIDEAN_DISTANCE", searchType = stE)
      .collect().map(r => r.getAs[String]("question") -> r).toMap
    questions.foreach { qtext =>
      val single = Chat.answer(spark, qtext, store, "id", "text", "embedding",
        embedder, topK = 2, metric = "EUCLIDEAN_DISTANCE", searchType = stE)
      assert(batchE(qtext).getAs[scala.collection.Seq[String]]("retrieved_ids").toSeq
        == single.retrievedIds, s"euclidean threshold / $qtext")
    }
    // threshold semantics: an unreachable relevance bound empties the
    // retrieval but keeps the question row (no-context turn), and the
    // default Similarity leg is unchanged by the dispatch
    val strict = Chat.answer(spark, questions.head, store, "id", "text", "embedding",
      embedder, topK = 2, searchType = SearchType.ScoreThreshold(0.9999))
    assert(strict.retrievedIds.isEmpty && strict.context.isEmpty && !strict.relevant)
    val viaDefault = Chat.answer(spark, questions.head, store, "id", "text", "embedding",
      embedder, topK = 2)
    val viaSimilarity = Chat.answer(spark, questions.head, store, "id", "text", "embedding",
      embedder, topK = 2, searchType = SearchType.Similarity)
    assert(viaDefault == viaSimilarity)
    // the MMR leg composes with the IVF index: full probe ≡ exhaustive
    val ivfModel = graft.ops.Ivf.fit(store, "id", "embedding", k = 2)
    val mmrExh = Chat.answerBatch(qdf, "qid", "question", store,
        "id", "text", "embedding", embedder, topK = 2,
        searchType = SearchType.Mmr(fetchK = 4, lambdaMult = 0.3))
      .orderBy($"qid").collect().toSeq
    val mmrIvf = Chat.answerBatch(qdf, "qid", "question", store,
        "id", "text", "embedding", embedder, topK = 2, index = Some((ivfModel, 2)),
        searchType = SearchType.Mmr(fetchK = 4, lambdaMult = 0.3))
      .orderBy($"qid").collect().toSeq
    assert(mmrIvf == mmrExh, "full-probe IVF MMR must equal exhaustive MMR")
    // λ=1 degenerates to plain similarity: same picks as the top-k leg
    val lam1 = Chat.answer(spark, questions.head, store, "id", "text", "embedding",
      embedder, topK = 2, searchType = SearchType.Mmr(fetchK = 4, lambdaMult = 1.0))
    assert(lam1.retrievedIds == viaDefault.retrievedIds)
    // the hybrid leg composes with the IVF index too: the vector leg at
    // full probe is the exhaustive ranking, so the fused answers match
    val hybExh = Chat.answerBatch(qdf, "qid", "question", store,
        "id", "text", "embedding", embedder, topK = 2,
        searchType = SearchType.Hybrid(fetchKPerLeg = 4))
      .orderBy($"qid").collect().toSeq
    val hybIvf = Chat.answerBatch(qdf, "qid", "question", store,
        "id", "text", "embedding", embedder, topK = 2, index = Some((ivfModel, 2)),
        searchType = SearchType.Hybrid(fetchKPerLeg = 4))
      .orderBy($"qid").collect().toSeq
    assert(hybIvf == hybExh, "full-probe IVF hybrid must equal exhaustive hybrid")
    // hybrid under EUCLIDEAN: the vector leg must rank ascending (it is
    // a distance — rank 1 = nearest), and batch must equal per-question
    val stHe = SearchType.Hybrid(fetchKPerLeg = 4)
    val bHe = Chat.answerBatch(qdf, "qid", "question", store,
        "id", "text", "embedding", embedder, topK = 2,
        metric = "EUCLIDEAN_DISTANCE", searchType = stHe)
      .collect().map(r => r.getAs[String]("question") -> r).toMap
    questions.foreach { qtext =>
      val single = Chat.answer(spark, qtext, store, "id", "text", "embedding",
        embedder, topK = 2, metric = "EUCLIDEAN_DISTANCE", searchType = stHe)
      assert(bHe(qtext).getAs[scala.collection.Seq[String]]("retrieved_ids").toSeq
        == single.retrievedIds, s"euclidean hybrid / $qtext")
      assert(single.retrievedIds.nonEmpty, s"euclidean hybrid retrieves / $qtext")
    }
    // default terms are case-PRESERVED: the BM25 legs tokenize documents
    // case-sensitively, so lowercasing here would unmatch 'Spark' docs
    assert(SearchType.Hybrid.whitespaceTerms("How Spark Uses Catalyst")
      == Seq("How", "Spark", "Uses", "Catalyst"))
    // hybrid degradation law: a question yielding NO lexical terms fuses
    // the vector leg alone, and 1/(c+rank) is monotone in the vector
    // rank — the picks must equal plain similarity's
    val noTerms = Chat.answer(spark, questions.head, store, "id", "text", "embedding",
      embedder, topK = 2,
      searchType = SearchType.Hybrid(terms = _ => Seq.empty, fetchKPerLeg = 4))
    assert(noTerms.retrievedIds == viaDefault.retrievedIds,
      "terms-less hybrid must degrade to the vector ranking")
    // and the lexical leg genuinely moves the fusion: an exact-phrase
    // question must surface its verbatim document in the hybrid picks
    val hyb = Chat.answer(spark, "boiling pasta water", store, "id", "text", "embedding",
      embedder, topK = 2, searchType = SearchType.Hybrid(fetchKPerLeg = 5))
    assert(hyb.context.contains("pasta"),
      s"the BM25 leg must pull the verbatim-match doc into the fused picks: ${hyb.context}")

    // index-backed lexical leg: same fusion as the scan leg (the index
    // is a layout change), single and batch, with the staleness guard
    // routed through the dispatch
    val tablePath = s"$dir/${cfg.tableName}"
    val lexIdx = Files.createTempDirectory("disp-lexidx").toString
    // the stamp-safe builder: version captured before the rows resolve
    graft.ops.Keyword.buildLexicalIndexForStore(spark, tablePath, "id", "text", lexIdx)
    val stIdx = SearchType.Hybrid(fetchKPerLeg = 4, lexicalIndexPath = Some(lexIdx))
    val stScan = SearchType.Hybrid(fetchKPerLeg = 4)
    val sIdx = Chat.answer(spark, questions.head, store, "id", "text", "embedding",
      embedder, topK = 2, searchType = stIdx, indexStorePath = Some(tablePath))
    val sScan = Chat.answer(spark, questions.head, store, "id", "text", "embedding",
      embedder, topK = 2, searchType = stScan)
    assert(sIdx == sScan, "index-backed hybrid must equal scan-backed hybrid")
    val bIdx = Chat.answerBatch(qdf, "qid", "question", store,
        "id", "text", "embedding", embedder, topK = 2, searchType = stIdx,
        indexStorePath = Some(tablePath))
      .orderBy($"qid").collect().toSeq
    val bScan = Chat.answerBatch(qdf, "qid", "question", store,
        "id", "text", "embedding", embedder, topK = 2, searchType = stScan)
      .orderBy($"qid").collect().toSeq
    assert(bIdx == bScan, "batch index-backed hybrid must equal scan-backed")
    // a second ingest moves the store: the routed request must fail
    // loudly (stale rankings would silently miss the appended docs)
    Ingest.ingest(spark, Seq((9L, "freshly appended doc about pasta")).toDF("doc_id", "text"),
      "doc_id", "text", dir, cfg, embedder)
    val staleErr = intercept[IllegalArgumentException] {
      Chat.answer(spark, questions.head, Ingest.readStore(spark, dir, cfg).get,
        "id", "text", "embedding", embedder, topK = 2, searchType = stIdx,
        indexStorePath = Some(tablePath))
    }
    assert(staleErr.getMessage.contains("stale"))

    // a BIGINT-keyed store under a fixed query vector, so both legs'
    // ranks are known: for "zebra" the vector leg ranks 9, 10 and the
    // BM25 leg 10, 9 — the two tie on RRF micros and must fall in
    // numeric order (string order would put "10" first); for "quokka"
    // the BM25 leg's best document is far from the query vector, so a
    // fused pick comes from the lexical leg alone and takes the store
    // lookup. Scan and index legs, COSINE and EUCLIDEAN, single ≡ batch.
    object AxisEmbedder extends graft.embed.Embedder {
      val dim = 2
      def embed(text: String): Array[Float] = Array(1f, 0f)
    }
    val longStore = Seq(
      (9L, "zebra alpha beta gamma delta", Seq(1f, 0f)),
      (10L, "zebra zebra", Seq(0.8f, 0.6f)),
      (11L, "quokka", Seq(0.6f, 0.8f)),
      (12L, "quokka quokka kiwi", Seq(-1f, 0f)),
      (1L, "filler words here", Seq(0f, 1f))
    ).toDF("id", "text", "embedding")
    val longIdx = Files.createTempDirectory("disp-longidx").toString
    graft.ops.Keyword.buildLexicalIndex(longStore, "id", "text", longIdx)
    val longQs = Seq("zebra", "quokka")
    val longQdf = longQs.zipWithIndex.map { case (q, i) => (i.toLong, q) }.toDF("qid", "question")
    for (m <- Seq("COSINE", "EUCLIDEAN_DISTANCE");
         st <- Seq(SearchType.Hybrid(fetchKPerLeg = 2),
                   SearchType.Hybrid(fetchKPerLeg = 2, lexicalIndexPath = Some(longIdx)))) {
      val batch = Chat.answerBatch(longQdf, "qid", "question", longStore,
          "id", "text", "embedding", AxisEmbedder, topK = 2, metric = m, searchType = st)
        .collect().map(r => r.getAs[String]("question") -> r).toMap
      val single = longQs.map(q => q -> Chat.answer(spark, q, longStore, "id", "text",
        "embedding", AxisEmbedder, topK = 2, metric = m, searchType = st)).toMap
      assert(single("zebra").retrievedIds == Seq("9", "10"), s"$m / $st tie order")
      assert(single("quokka").retrievedIds == Seq("9", "11"), s"$m / $st lexical-only pick")
      assert(single("quokka").context == "zebra alpha beta gamma delta\n\nquokka")
      longQs.foreach { q =>
        val b = batch(q)
        assert(b.getAs[String]("answer") == single(q).answer, s"$m / $st / $q")
        assert(b.getAs[String]("context") == single(q).context, s"$m / $st / $q")
        assert(b.getAs[scala.collection.Seq[String]]("retrieved_ids").toSeq
          == single(q).retrievedIds, s"$m / $st / $q")
        assert(b.getAs[Boolean]("relevant") == single(q).relevant, s"$m / $st / $q")
      }
    }
  }

  test("testset upsert is idempotent per tid and chunk JSON round-trips (S18, S13/S9)") {
    val base = Files.createTempDirectory("graft-ts").toString
    val path = s"$base/testsets"
    val qa1 = Seq(Testbed.QaRecord("q1", "a1", "c1", "t")).toDF()
    val qa2 = Seq(Testbed.QaRecord("q2", "a2", "c2", "t"),
      Testbed.QaRecord("q3", "a3", "c3", "t")).toDF()
    Testbed.upsertTestset(spark, path, "tid-1", "set one", qa1)
    Testbed.upsertTestset(spark, path, "tid-2", "set two", qa2)
    assert(spark.read.parquet(path).count() == 3)
    // dynamic partition overwrite: a tid-1 upsert must not touch tid-2's
    // files and must not stage a full-table copy
    def tidFiles(tid: String): Set[(String, Long)] = {
      val fs = new java.io.File(s"$path/tid=$tid")
        .listFiles().filter(_.getName.endsWith(".parquet"))
      fs.map(f => (f.getName, f.lastModified)).toSet
    }
    val tid2Before = tidFiles("tid-2")
    // re-upsert tid-1 with different content: replaces, not appends
    Testbed.upsertTestset(spark, path, "tid-1", "set one v2", qa2)
    val rows = spark.read.parquet(path)
    assert(rows.count() == 4)
    assert(rows.filter($"tid" === "tid-1").count() == 2)
    assert(tidFiles("tid-2") == tid2Before, "other tids' files must be untouched")
    assert(!new java.io.File(path + ".staging").exists(), "no staging copy")

    // S13 -> S9 round trip
    val chunksJson = s"$base/chunks"
    val chunks = Seq(("c1", "chunk text", Map("source" -> "s")))
      .toDF("id", "text", "metadata")
    graft.ops.Ingest.writeChunksJson(chunks, chunksJson)
    val back = graft.sources.DocumentSources.readChunksJson(spark, chunksJson).collect()
    assert(back.head.getString(1) == "chunk text")
  }

  test("testset generation: deterministic sampling, alternating kinds, JSONL round-trip (§3.3)") {
    val kb = Tables.documents(spark, sf).select($"text".as("chunk"), $"lang")
    val qa = Testbed.generateTestset(kb, "chunk", n = 10, topicCol = Some("lang"))
    val rows = qa.collect()
    assert(rows.length == 10)
    // sampling is content-hash-ranked: invariant to input partitioning
    val again = Testbed
      .generateTestset(kb.repartition(7), "chunk", n = 10, topicCol = Some("lang")).collect()
    assert(rows.map(_.toSeq).toSet == again.map(_.toSeq).toSet)
    val qs = rows.map(_.getString(0))
    assert(qs.exists(_.startsWith("What is mentioned about ")), "simple kind present")
    assert(qs.exists(_.startsWith("Explain the context of: ")), "complex kind present")
    rows.foreach(r => assert(r.getString(1) == r.getString(2), "answer = context = KB chunk"))
    // JSONL round-trip through the reference upload shape, then upsert
    val base = Files.createTempDirectory("graft-gen").toString
    Testbed.writeTestset(qa, s"$base/ts.jsonl")
    val back = Testbed.readTestset(spark, s"$base/ts.jsonl")
    assert(back.columns.sorted.toSeq == Seq("question", "reference_answer", "reference_context", "topic"))
    assert(back.select($"question").as[String].collect().toSet == qs.toSet)
    Testbed.upsertTestset(spark, s"$base/testsets", "tid-gen", "generated", back)
    assert(spark.read.parquet(s"$base/testsets").filter($"tid" === "tid-gen").count() == 10)
  }

  test("evaluation sink: partitioned append, newest-first listing, per-tid delete cascade (S19, P13)") {
    val base = Files.createTempDirectory("graft-eval").toString
    val ts = s"$base/testsets"; val ev = s"$base/evals"; val rp = s"$base/reports"
    val qa = Seq(Testbed.QaRecord("q1", "a1", "c1", "t")).toDF()
    Testbed.upsertTestset(spark, ts, "tid-a", "a", qa)
    Testbed.upsertTestset(spark, ts, "tid-b", "b", qa)
    val report = Testbed.evaluate(qa, _ => "a1 indeed", Testbed.keywordJudge)
    Testbed.appendEvaluation(spark, ev, rp, "tid-a", report, eid = "e-1")
    Testbed.appendEvaluation(spark, ev, rp, "tid-a", report, eid = "e-2")
    Testbed.appendEvaluation(spark, ev, rp, "tid-b", report, eid = "e-3")
    val listed = Testbed.listEvaluations(spark, ev, "tid-a").collect()
    assert(listed.map(_.getString(0)).toSet == Set("e-1", "e-2"))
    assert(!listed.head.getTimestamp(1).before(listed.last.getTimestamp(1)), "newest first")
    // cascade delete tid-a: QA partition, evaluations, reports all go;
    // tid-b survives untouched
    Testbed.deleteTestset(spark, ts, "tid-a", Some(ev), Some(rp))
    assert(spark.read.parquet(ts).select($"tid").distinct().as[String].collect().toSeq == Seq("tid-b"))
    assert(Testbed.listEvaluations(spark, ev, "tid-a").isEmpty)
    assert(spark.read.parquet(rp).filter($"tid" === "tid-a").count() == 0)
    assert(spark.read.parquet(rp).filter($"tid" === "tid-b").count() == 1)
    // tids with Hive-escaped characters must still upsert/delete their
    // (escaped) partition directory, and an empty upsert clears the tid
    val ts2 = s"$base/testsets2"
    Testbed.upsertTestset(spark, ts2, "keeper", "k", qa)
    Testbed.upsertTestset(spark, ts2, "set:v1", "colon", qa)
    assert(spark.read.parquet(ts2).filter($"tid" === "set:v1").count() == 1)
    Testbed.deleteTestset(spark, ts2, "set:v1")
    assert(spark.read.parquet(ts2).filter($"tid" === "set:v1").count() == 0)
    Testbed.upsertTestset(spark, ts2, "emptyme", "e", qa)
    Testbed.upsertTestset(spark, ts2, "emptyme", "e", qa.limit(0))
    assert(spark.read.parquet(ts2).filter($"tid" === "emptyme").count() == 0,
      "empty upsert must clear the tid's rows (replace contract)")
    assert(spark.read.parquet(ts2).filter($"tid" === "keeper").count() == 1)
  }

  test("appendEvaluation executes the report plan exactly once (correctness via Observation)") {
    val base = Files.createTempDirectory("graft-eval-once").toString
    // the judge runs once per report row per plan execution — an
    // accumulator counts total invocations, so a double-executed report
    // (the round-2 defect: overall() action + write action) shows as 2n
    val acc = spark.sparkContext.longAccumulator("judgeCalls")
    val qa = Seq(
      Testbed.QaRecord("q1", "a1", "c1", "t"),
      Testbed.QaRecord("q2", "a2", "c2", "t"),
      Testbed.QaRecord("q3", "a3", "c3", "t")).toDF()
    val report = Testbed.evaluate(qa, q => q.replace("q", "a"), (ans, ref) => {
      acc.add(1); Testbed.keywordJudge(ans, ref)
    })
    Testbed.appendEvaluation(spark, s"$base/ev", s"$base/rp", "tid-x", report, eid = "e-once")
    assert(acc.value == 3,
      s"judge ran ${acc.value} times for 3 questions — the report plan must execute exactly once")
    val ev = spark.read.parquet(s"$base/ev").filter($"eid" === "e-once").collect()
    assert(ev.length == 1 && ev.head.getAs[Double]("correctness") == 1.0)
    assert(spark.read.parquet(s"$base/rp").filter($"tid" === "tid-x").count() == 3)
  }

  test("V9 response assembly normalizes finish reasons and counts usage") {
    val ans = Chat.RagAnswer("what is x", "what is x", "x is y", "ctx one\n\nctx two",
      Seq("1", "2"), relevant = true)
    val r = Chat.toResponse(ans, "template-model", createdEpoch = 1700000000L)
    assert(r.choices.head.finish_reason == "stop")
    assert(Chat.toResponse(ans, "m", 0L, "MAX_TOKENS").choices.head.finish_reason == "length")
    assert(r.usage.prompt_tokens == 3 + 4)
    assert(r.usage.completion_tokens == 3)
    assert(r.usage.total_tokens == r.usage.prompt_tokens + r.usage.completion_tokens)
    assert(r.id == Chat.toResponse(ans, "m", 5L).id, "id is content-derived, deterministic")
  }

  test("V9 relational responseJson agrees with toResponse field for field") {
    for (raw <- Seq("COMPLETE", "MAX_TOKENS", "SAFETY")) {
      val ans = Chat.RagAnswer("what is spark anyway", "what is spark anyway",
        "spark is a distributed engine", "ctx alpha beta", Seq("1"),
        relevant = true)
      val r = Chat.toResponse(ans, "m-rel", 424242L, raw)
      val json = Seq((ans.question, ans.context, ans.answer, raw))
        .toDF("q", "c", "a", "raw")
        .select(Chat.responseJson(col("q"), col("c"), col("a"), "m-rel",
          424242L, col("raw")))
        .as[String].head()
      // the UUIDv3 id derivation must match java.util.UUID exactly
      assert(json.contains("\"id\":\"" + r.id + "\""), s"$raw: $json vs ${r.id}")
      assert(json.contains(s""""prompt_tokens":${r.usage.prompt_tokens}"""))
      assert(json.contains(s""""completion_tokens":${r.usage.completion_tokens}"""))
      assert(json.contains(s""""total_tokens":${r.usage.total_tokens}"""))
      assert(json.contains(
        s""""finish_reason":"${r.choices.head.finish_reason}""""))
      assert(json.contains(s""""content":"${r.choices.head.content}""""))
      assert(json.contains(""""created":424242,"model":"m-rel""""))
    }
  }

  test("testbed evaluate: report aggregates match hand-computed means (A2-A4)") {
    val qa = Seq(
      Testbed.QaRecord("what is spark", "spark is an engine", "ctx", "tech"),
      Testbed.QaRecord("what is parquet", "parquet is a format", "ctx", "tech"),
      Testbed.QaRecord("what is pasta", "pasta is food", "ctx", "food")
    ).toDF()
    // deterministic answerer: echoes the question's last word
    val report = Testbed.evaluate(qa,
      q => s"the answer involves ${q.split(" ").last}",
      Testbed.keywordJudge)
    // judge: reference first token ("spark"/"parquet"/"pasta") in answer
    val overall = Testbed.overall(report).as[(Long, Double)].head()
    assert(overall == ((3L, 1.0)))
    val byTopic = Testbed.byTopic(report).as[(String, Long, Double)].collect().toSeq
    assert(byTopic == Seq(("food", 1L, 1.0), ("tech", 2L, 1.0)))
    // break one: answerer that never mentions the key
    val report2 = Testbed.evaluate(qa, _ => "no idea", Testbed.keywordJudge)
    assert(Testbed.overall(report2).as[(Long, Double)].head() == ((3L, 0.0)))
    assert(Testbed.failures(report2).count() == 3)
  }

  test("shadowedLooseFiles surfaces post-adoption external writes; empty pre-adoption") {
    import graft.ops.VersionedStore
    val table = Files.createTempDirectory("graft-shadow").toString + "/T"
    Seq((1L, "a")).toDF("id", "v").write.parquet(table)
    // unversioned: the loose files ARE the table, nothing is shadowed
    assert(VersionedStore.shadowedLooseFiles(spark, table).isEmpty)
    VersionedStore.append(spark, table, Seq((2L, "b")).toDF("id", "v")): Unit
    // adoption-era loose files are carried by the committed segment —
    // still not shadowed (their rows remain visible through read())
    assert(VersionedStore.shadowedLooseFiles(spark, table).isEmpty)
    // an external flat-layout write AFTER versioning is invisible to
    // read() — the check must name it
    Thread.sleep(1100) // parquet mtime granularity can be a full second
    Seq((9L, "ext")).toDF("id", "v").write.mode("append").parquet(table)
    val shadowed = VersionedStore.shadowedLooseFiles(spark, table)
    assert(shadowed.nonEmpty && shadowed.forall(_.endsWith(".parquet")))
    assert(VersionedStore.read(spark, table).get.count() == 2,
      "shadowed rows stay invisible — the check is the discovery surface")
  }

  test("publishExclusive refuses schemes without an atomic no-overwrite publish") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.mockobj.impl", classOf[MockObjectStoreFs].getName)
    val dir = Files.createTempDirectory("graft-scheme").toString
    graft.Fs.writeString(spark, s"$dir/src.json", "{}")
    val ex = intercept[UnsupportedOperationException] {
      graft.Fs.publishExclusive(spark, s"mockobj://bucket$dir/src.json",
        s"mockobj://bucket$dir/dst.json")
    }
    assert(ex.getMessage.contains("mockobj"))
    // and therefore a VersionedStore commit on such a scheme fails fast
    // instead of silently risking a lost manifest version
    intercept[UnsupportedOperationException] {
      graft.ops.VersionedStore.append(spark, s"mockobj://bucket$dir/T",
        Seq((1L, "a")).toDF("id", "v"))
    }: Unit
  }
}

/** A 'file'-backed FileSystem masquerading as an object store scheme —
  * lets the spec exercise the publishExclusive scheme guard without a
  * real s3a/gs connector in the container.
  */
class MockObjectStoreFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "mockobj"
  override def getUri: java.net.URI = java.net.URI.create("mockobj://bucket/")
}

/** Instrumented embedder for the S14 batch/throttle contract spec:
  * counts embedBatch invocations and the largest batch seen. Static
  * counters are safe in local mode (executors share the JVM); value
  * equality (case class) keeps RateLimitedEmbedder's per-identity
  * clock shared across deserialized task copies.
  */
object CountingEmbedder {
  val batchCalls = new java.util.concurrent.atomic.AtomicInteger(0)
  val maxBatch = new java.util.concurrent.atomic.AtomicInteger(0)
  def reset(): Unit = { batchCalls.set(0); maxBatch.set(0) }
}
case class CountingEmbedder(dim: Int) extends graft.embed.Embedder {
  private val inner = graft.embed.HashEmbedder(dim)
  def embed(text: String): Array[Float] = inner.embed(text)
  override def embedBatch(texts: Seq[String]): Seq[Array[Float]] = {
    CountingEmbedder.batchCalls.incrementAndGet()
    CountingEmbedder.maxBatch.getAndAccumulate(texts.size, Math.max(_, _))
    inner.embedBatch(texts)
  }
}
