package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Ingest, Ivf, Keyword, VersionedStore}

/** Copy-on-write mutations (merge/deleteWhere) on the versioned store:
  * upsert semantics, minimal segment rewrite, time travel across the
  * mutation, and the layout-respecting seam on an indexed store.
  */
class MergeSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def freshTable(name: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"merge-$name").toString
    s"$dir/t"
  }

  private def rows(table: String): Set[(Long, String)] =
    VersionedStore.read(spark, table).get
      .select($"id", $"v").as[(Long, String)].collect().toSet

  test("merge replaces matched keys, inserts unmatched, leaves the rest alone") {
    val t = freshTable("basic")
    VersionedStore.append(spark, t, Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    val (st, rewritten) = VersionedStore.merge(spark, t,
      Seq((2L, "B2"), (9L, "new")).toDF("id", "v"), "id")
    assert(rewritten == 1)
    assert(rows(t) == Set((1L, "a"), (2L, "B2"), (3L, "c"), (9L, "new")))
    // time travel still serves the pre-merge rows
    val before = VersionedStore.readAt(spark, t, st.version - 1).get
      .select($"id", $"v").as[(Long, String)].collect().toSet
    assert(before == Set((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("merge rewrites ONLY the segments containing matched keys") {
    val t = freshTable("minimal")
    VersionedStore.append(spark, t, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    VersionedStore.append(spark, t, Seq((10L, "x"), (11L, "y")).toDF("id", "v"))
    VersionedStore.append(spark, t, Seq((20L, "p"), (21L, "q")).toDF("id", "v"))
    val preSegs = VersionedStore.currentState(spark, t).get.segments
    assert(preSegs.size == 3)
    // keys only in the SECOND segment
    val (st, rewritten) = VersionedStore.merge(spark, t,
      Seq((10L, "X")).toDF("id", "v"), "id")
    assert(rewritten == 1)
    // segments 1 and 3 survive by reference; segment 2 was swapped
    assert(st.segments.contains(preSegs(0)) && st.segments.contains(preSegs(2)))
    assert(!st.segments.contains(preSegs(1)))
    assert(st.segments.size == 3)
    assert(rows(t) == Set((1L, "a"), (2L, "b"), (10L, "X"), (11L, "y"),
      (20L, "p"), (21L, "q")))
  }

  test("merge with unmatched keys degrades to a plain append; empty updates are a no-op") {
    val t = freshTable("insertonly")
    VersionedStore.append(spark, t, Seq((1L, "a")).toDF("id", "v"))
    val pre = VersionedStore.currentState(spark, t).get
    val (st, rewritten) = VersionedStore.merge(spark, t,
      Seq((2L, "b")).toDF("id", "v"), "id")
    assert(rewritten == 0 && st.version == pre.version + 1)
    assert(pre.segments.forall(st.segments.contains), "append keeps old segments")
    val (st2, r2) = VersionedStore.merge(spark, t,
      Seq.empty[(Long, String)].toDF("id", "v"), "id")
    assert(r2 == 0 && st2.version == st.version, "empty merge publishes nothing")
    // merge into a table that does not exist yet = first append
    val t2 = freshTable("firstwrite")
    val (st3, r3) = VersionedStore.merge(spark, t2,
      Seq((5L, "e")).toDF("id", "v"), "id")
    assert(r3 == 0 && st3.version == 1 && rows(t2) == Set((5L, "e")))
  }

  test("merge rejects null keys in updates; table rows with null keys are kept") {
    val t = freshTable("nullkeys")
    VersionedStore.append(spark, t,
      Seq((Some(1L), "a"), (None, "nullrow")).toDF("id", "v"))
    val e = intercept[Exception] {
      VersionedStore.merge(spark, t,
        Seq((Option.empty[Long], "boom")).toDF("id", "v"), "id")
    }
    assert(e.getMessage.contains("null id") ||
      Option(e.getCause).exists(_.getMessage.contains("null id")))
    val (_, _) = VersionedStore.merge(spark, t, Seq((Some(1L), "A")).toDF("id", "v"), "id")
    val got = VersionedStore.read(spark, t).get
      .select($"id", $"v").as[(Option[Long], String)].collect().toSet
    assert(got == Set((Some(1L), "A"), (None, "nullrow")))
  }

  test("multi-row updates per key are delete-then-insert") {
    val t = freshTable("multirow")
    VersionedStore.append(spark, t, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    VersionedStore.merge(spark, t,
      Seq((1L, "a1"), (1L, "a2")).toDF("id", "v"), "id")
    assert(rows(t) == Set((1L, "a1"), (1L, "a2"), (2L, "b")))
  }

  test("deleteWhere removes matching rows with minimal rewrite; null predicate rows are kept") {
    val t = freshTable("delete")
    VersionedStore.append(spark, t, Seq((1L, Some(5)), (2L, Some(50))).toDF("id", "n"))
    VersionedStore.append(spark, t, Seq((3L, Some(7)), (4L, None)).toDF("id", "n"))
    VersionedStore.append(spark, t, Seq((5L, Some(70))).toDF("id", "n"))
    val preSegs = VersionedStore.currentState(spark, t).get.segments
    // n > 10 matches segment 1 (50) and segment 3 (70); the null-n row
    // evaluates null and must survive
    val (st, rewritten) = VersionedStore.deleteWhere(spark, t, col("n") > 10)
    assert(rewritten == 2)
    assert(st.segments.contains(preSegs(1)), "untouched segment rides forward")
    val got = VersionedStore.read(spark, t).get
      .select($"id").as[Long].collect().toSet
    assert(got == Set(1L, 3L, 4L))
    // delete everything left in one segment: no replacement segment published
    val (st2, r2) = VersionedStore.deleteWhere(spark, t, col("id") === 1L)
    assert(r2 == 1 && st2.segments.size == st.segments.size - 1)
    // no matches: the exact same state comes back, no version bump
    val (st3, r3) = VersionedStore.deleteWhere(spark, t, col("id") === 999L)
    assert(r3 == 0 && st3.version == st2.version)
  }

  test("mergeRespectingLayout keeps an IVF+SQ8 store serving correctly") {
    val t = freshTable("ivfmerge")
    val rnd = new scala.util.Random(3)
    val base = (0 until 60).map(i =>
      (i.toLong, Array.fill(8)(rnd.nextFloat() * (if (i % 2 == 0) 1f else 10f))))
    VersionedStore.append(spark, t, base.toDF("vec_id", "embedding"))
    Ivf.indexStore(spark, t, "vec_id", "embedding", k = 4)
    graft.ops.Quantize.quantizeStore(spark, t, "embedding")
    // replace one vector and insert a brand-new one through the seam
    val target = Array.fill(8)(42.0f)
    Ingest.mergeRespectingLayout(spark, t,
      Seq((7L, target), (100L, target.map(_ + 0.01f))).toDF("vec_id", "embedding"),
      "vec_id", embCol = "embedding")
    // full-probe IVF search must see the NEW vectors as nearest to the target
    val model = Ivf.loadModel(spark, Ivf.modelPath(t))
    val got = Ivf.search(VersionedStore.read(spark, t).get, "embedding", model,
        target, topK = 2, nProbe = model.k, storePath = Some(t))
      .select($"vec_id").as[Long].collect().toSet
    assert(got == Set(7L, 100L), s"post-merge probe must serve merged rows, got $got")
    // the store still reads with a consistent schema (SQ8 columns derived)
    val cols = VersionedStore.read(spark, t).get.columns.toSet
    assert(cols.contains("embedding_q"),
      s"quantized columns survived the merge: $cols")
  }

  test("deleteRespectingLayout drops rows from an indexed store and probes stay guarded") {
    val t = freshTable("ivfdelete")
    val rnd = new scala.util.Random(4)
    val base = (0 until 40).map(i => (i.toLong, Array.fill(8)(rnd.nextFloat())))
    VersionedStore.append(spark, t, base.toDF("vec_id", "embedding"))
    Ivf.indexStore(spark, t, "vec_id", "embedding", k = 3)
    val rewritten = Ingest.deleteRespectingLayout(spark, t, col("vec_id") < 5L)
    assert(rewritten >= 1)
    val model = Ivf.loadModel(spark, Ivf.modelPath(t))
    val got = Ivf.search(VersionedStore.read(spark, t).get, "embedding", model,
        base(6)._2, topK = 40, nProbe = model.k, storePath = Some(t))
      .select($"vec_id").as[Long].collect().toSet
    assert(got == (5L until 40L).toSet)
  }

  test("merge detection reads ONLY the key column of a wide table") {
    val t = freshTable("pruning")
    // wide rows: a fat payload column that pruned detection must not read
    VersionedStore.append(spark, t,
      (1 to 50).map(i => (i.toLong, "x" * 1000, i * 2.0)).toDF("id", "payload", "score"))
    val st = VersionedStore.currentState(spark, t).get
    val plan = VersionedStore.segmentsContaining(spark, t, st,
        Seq(3L).toDF("id"), "id")
      .queryExecution.executedPlan.toString
    val readSchemas = "ReadSchema: [^\\n]+".r.findAllIn(plan).toList
      .filterNot(_.contains("struct<id:bigint>"))
    assert(readSchemas.count(s => s.contains("payload") || s.contains("score")) == 0,
      s"detection scan must prune to the key column:\n$plan")
  }

  test("footer stats dismiss disjoint segments before any data scan") {
    val t = freshTable("footers")
    VersionedStore.append(spark, t,
      (1 to 50).map(i => (i.toLong, s"v$i")).toDF("id", "v"))
    VersionedStore.append(spark, t,
      (1000 to 1050).map(i => (i.toLong, s"v$i")).toDF("id", "v"))
    VersionedStore.append(spark, t,
      (5000 to 5050).map(i => (i.toLong, s"v$i")).toDF("id", "v"))
    val st = VersionedStore.currentState(spark, t).get
    // keys inside the SECOND segment's range only
    val plan = VersionedStore.segmentsContaining(spark, t, st,
        Seq(1010L, 1020L).toDF("id"), "id")
      .queryExecution.executedPlan.toString
    val scans = "Location: [^\\n]*seg-".r.findAllIn(plan).size
    assert(scans == 1,
      s"footer pruning must leave exactly the overlapping segment's scan:\n$plan")
    // keys overlapping nothing: no scans at all, and merge is a pure append
    val (st2, rewritten) = VersionedStore.merge(spark, t,
      Seq((9999L, "new")).toDF("id", "v"), "id")
    assert(rewritten == 0 && st2.segments.size == 4)
    // correctness unchanged when keys span all segments
    val (st3, r3) = VersionedStore.merge(spark, t,
      Seq((1L, "A"), (1000L, "B"), (5050L, "C")).toDF("id", "v"), "id")
    assert(r3 == 3)
    val got = VersionedStore.read(spark, t).get
      .filter(col("id").isin(1L, 1000L, 5050L, 9999L))
      .select($"id", $"v").as[(Long, String)].collect().toSet
    assert(got == Set((1L, "A"), (1000L, "B"), (5050L, "C"), (9999L, "new")))
  }

  test("deleteByKeys drops exactly the keyed rows without collecting tombstones") {
    val t = freshTable("delkeys")
    VersionedStore.append(spark, t, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    VersionedStore.append(spark, t, Seq((3L, "c"), (4L, "d")).toDF("id", "v"))
    val preSegs = VersionedStore.currentState(spark, t).get.segments
    // tombstones: one real key, one absent key, one null (matches nothing)
    val keys = Seq(Some(3L), Some(99L), None).toDF("id")
    val (st, rewritten) = VersionedStore.deleteByKeys(spark, t, keys, "id")
    assert(rewritten == 1)
    assert(st.segments.contains(preSegs(0)), "untouched segment rides forward")
    assert(rows(t) == Set((1L, "a"), (2L, "b"), (4L, "d")))
    // no matching keys: same state back
    val (st2, r2) = VersionedStore.deleteByKeys(spark, t,
      Seq(100L).toDF("id"), "id")
    assert(r2 == 0 && st2.version == st.version)
  }

  private val cdcSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "id LONG, v STRING, seq LONG, deleted BOOLEAN")

  /** One changelog file of `(id, v, seq, deleted)` rows in `cdcSchema`. */
  private def writeCdcBatch(in: String, name: String,
                            rows: Seq[(Long, String, Long, Boolean)]): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(in, name),
      rows.map { case (id, v, seq, del) =>
        s"""{"id":$id,"v":"$v","seq":$seq,"deleted":$del}"""
      }.mkString("\n"))

  test("CDC stream applies last-write-wins upserts and tombstones per micro-batch") {
    val in = java.nio.file.Files.createTempDirectory("cdc-in").toString
    val store = java.nio.file.Files.createTempDirectory("cdc-store").toString + "/t"
    val ckpt = java.nio.file.Files.createTempDirectory("cdc-ckpt").toString
    // batch 1: inserts, including an intra-batch replay (id=1 twice,
    // higher seq must win)
    writeCdcBatch(in, "b1.json", Seq((1L, "stale", 10L, false), (1L, "fresh", 11L, false),
      (2L, "b", 12L, false), (3L, "c", 13L, false)))
    val q = graft.streaming.IncrementalIngest.startCdc(
      spark, in, store, cdcSchema, "id", "seq", ckpt, deleteFlagCol = Some("deleted"))
    try {
      q.processAllAvailable()
      assert(rows(store) == Set((1L, "fresh"), (2L, "b"), (3L, "c")))
      // batch 2: update id=2, tombstone id=3, insert id=4
      writeCdcBatch(in, "b2.json", Seq((2L, "B2", 20L, false), (3L, "", 21L, true),
        (4L, "d", 22L, false)))
      q.processAllAvailable()
      assert(rows(store) == Set((1L, "fresh"), (2L, "B2"), (4L, "d")))
      // time travel: the store replays as of batch 1
      val hist = VersionedStore.history(spark, store)
      val afterB1 = VersionedStore.readAt(spark, store, hist.map(_.version).min).get
        .select($"id", $"v").as[(Long, String)].collect().toSet
      assert(afterB1 == Set((1L, "fresh"), (2L, "b"), (3L, "c")))
    } finally q.stop()
  }

  test("CDC stream restarted from its checkpoint applies only the new batch") {
    val in = java.nio.file.Files.createTempDirectory("cdc-restart-in").toString
    val store = java.nio.file.Files.createTempDirectory("cdc-restart-store").toString + "/t"
    val ckpt = java.nio.file.Files.createTempDirectory("cdc-restart-ckpt").toString
    def start() = graft.streaming.IncrementalIngest.startCdc(
      spark, in, store, cdcSchema, "id", "seq", ckpt, deleteFlagCol = Some("deleted"))
    def versions: Seq[Long] = VersionedStore.history(spark, store).map(_.version)

    writeCdcBatch(in, "b1.json", Seq((1L, "a", 10L, false), (2L, "b", 11L, false),
      (3L, "c", 12L, false)))
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    assert(rows(store) == Set((1L, "a"), (2L, "b"), (3L, "c")))
    val afterB1 = versions

    val q2 = start()
    try {
      // the checkpoint records batch 1 as committed: the restarted query
      // must not apply it again (a replay would commit a new version)
      q2.processAllAvailable()
      assert(versions == afterB1)
      writeCdcBatch(in, "b2.json", Seq((2L, "B2", 20L, false), (3L, "", 21L, true),
        (4L, "d", 22L, false)))
      q2.processAllAvailable()
      assert(rows(store) == Set((1L, "a"), (2L, "B2"), (4L, "d")))
    } finally q2.stop()
    val hist = versions
    assert(hist.take(afterB1.size) == afterB1)
    // batch 2 applied once: its upsert and its tombstone, one version each
    assert(hist.size == afterB1.size + 2, s"history $afterB1 -> $hist")
  }

  test("CDC batch with a tied winning sequence fails loudly") {
    val store = java.nio.file.Files.createTempDirectory("cdc-tie").toString + "/t"
    val batch = Seq((1L, "x", 5L, false), (1L, "y", 5L, false))
      .toDF("id", "v", "seq", "deleted")
    val e = intercept[Exception] {
      graft.streaming.IncrementalIngest.applyCdcBatch(
        batch, store, "id", "seq", Some("deleted"))
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(e).exists(m => m != null && m.contains("tied seq")))
  }

  test("restore rolls back to a prior version without rewriting data") {
    val t = freshTable("restore")
    VersionedStore.append(spark, t, Seq((1L, "a")).toDF("id", "v"))
    VersionedStore.append(spark, t, Seq((2L, "bad")).toDF("id", "v"))
    VersionedStore.merge(spark, t, Seq((1L, "worse")).toDF("id", "v"), "id")
    val st = VersionedStore.restore(spark, t, 1L)
    assert(st.version == 4L, "restore is a NEW version, not a manifest rewrite")
    assert(rows(t) == Set((1L, "a")))
    // the bad history stays time-travel-readable
    assert(VersionedStore.readAt(spark, t, 3L).get.count() == 2)
    val ops = VersionedStore.describeHistory(spark, t)
      .select($"op").as[String].collect().toSeq
    assert(ops == Seq("restore", "merge", "append", "append"))
    // restoring a vacuumed-away version fails loudly
    VersionedStore.append(spark, t, Seq((9L, "z")).toDF("id", "v"))
    VersionedStore.vacuum(spark, t, graceMs = 0, retainVersions = 1): Unit
    val e = intercept[IllegalArgumentException](VersionedStore.restore(spark, t, 2L))
    assert(e.getMessage.contains("vacuum") || e.getMessage.contains("no readable"))
  }

  test("evolveSchema adds columns atomically; old-schema appends are then refused") {
    val t = freshTable("evolve")
    VersionedStore.append(spark, t, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    VersionedStore.append(spark, t, Seq((3L, "c")).toDF("id", "v"))
    val files = Ingest.evolveSchema(spark, t,
      Seq("score" -> lit(0.0), "v_len" -> length(col("v")).cast("long")))
    assert(files >= 1)
    val got = VersionedStore.read(spark, t).get
      .select($"id", $"score", $"v_len").as[(Long, Double, Long)].collect().toSet
    assert(got == Set((1L, 0.0, 1L), (2L, 0.0, 1L), (3L, 0.0, 1L)))
    // an old-schema append is refused before it can corrupt the union
    val e = intercept[IllegalStateException] {
      VersionedStore.append(spark, t, Seq((4L, "d")).toDF("id", "v"))
    }
    assert(e.getMessage.contains("schema mismatch"))
    // duplicate column refused
    val e2 = intercept[Exception] {
      Ingest.evolveSchema(spark, t, Seq("score" -> lit(1.0)))
    }
    assert(e2.getMessage.contains("already exists"))
  }

  test("two concurrent FIRST rollup folds both land without duplicate state rows") {
    import graft.ops.Rollup
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    for (round <- 1 to 3) {
      val t = freshTable(s"rollupfirst$round") + "/agg"
      val b1 = (1 to 100).map(i => (s"g${i % 4}", i.toLong)).toDF("g", "x")
      val b2 = (101 to 200).map(i => (s"g${i % 4}", i.toLong)).toDF("g", "x")
      val fs = Seq(b1, b2).map(b => Future {
        Rollup.maintain(spark, t, b, Seq("g"), Seq("x"))
      })
      Await.result(Future.sequence(fs), 120.seconds)
      val got = Rollup.readRollup(spark, t, Seq("x")).get
        .select($"g", $"n", $"sum_x").as[(String, Long, Long)].collect().toSet
      val direct = b1.union(b2).groupBy($"g")
        .agg(count(lit(1)).as("n"), sum($"x").as("s"))
        .as[(String, Long, Long)].collect().toSet
      assert(got == direct,
        s"round $round: concurrent first folds must merge, not duplicate: $got")
    }
  }

  test("describeHistory records each mutation's operation, newest first") {
    val t = freshTable("history")
    VersionedStore.append(spark, t, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    VersionedStore.append(spark, t, Seq((3L, "c")).toDF("id", "v"))
    VersionedStore.merge(spark, t, Seq((2L, "B")).toDF("id", "v"), "id")
    VersionedStore.deleteWhere(spark, t, col("id") === 1L)
    VersionedStore.compact(spark, t)
    val hist = VersionedStore.describeHistory(spark, t)
      .select($"version", $"op", $"n_segments")
      .as[(Long, String, Int)].collect().toSeq
    assert(hist.map(_._1) == Seq(5L, 4L, 3L, 2L, 1L), "newest first")
    assert(hist.map(_._2) == Seq("compact", "delete", "merge", "append", "append"))
    assert(hist.head._3 == 1, "compaction folds to one segment")
    // an old-format manifest (no op field) reports op = unknown
    graft.Fs.writeString(spark, s"$t/_manifests/m-0000000000000006.json",
      """{"version":6,"segments":[]}""")
    val ops = VersionedStore.describeHistory(spark, t)
      .select($"op").as[String].collect()
    assert(ops.head == "unknown")
  }

  test("incremental rollup equals the direct aggregate after arbitrary batching") {
    import graft.ops.Rollup
    val t = freshTable("rollup") + "/agg"
    val rnd = new scala.util.Random(5)
    val all = (1 to 500).map(i =>
      (i.toLong, s"g${i % 7}", rnd.nextInt(1000).toLong))
    val df = all.toDF("id", "g", "x")
    // fold in 7 uneven batches
    val cuts = Seq(0, 13, 80, 81, 200, 344, 420, 500)
    cuts.sliding(2).foreach { case Seq(a, b) =>
      Rollup.maintain(spark, t,
        df.filter($"id" > a && $"id" <= b), Seq("g"), Seq("x")): Unit
    }
    val got = Rollup.readRollup(spark, t, Seq("x")).get
      .select($"g", $"n", $"sum_x", $"min_x", $"max_x")
      .as[(String, Long, Long, Long, Long)].collect().toSet
    val direct = df.groupBy($"g")
      .agg(count(lit(1)).as("n"), sum($"x").as("s"), min($"x").as("mn"), max($"x").as("mx"))
      .as[(String, Long, Long, Long, Long)].collect().toSet
    assert(got == direct, "fold must equal the direct GROUP BY exactly")
    // empty batch: no version published, state unchanged
    val v0 = VersionedStore.currentState(spark, t).get.version
    Rollup.maintain(spark, t, df.filter(lit(false)), Seq("g"), Seq("x")): Unit
    assert(VersionedStore.currentState(spark, t).get.version == v0 + 1 ||
      VersionedStore.currentState(spark, t).get.version == v0)
    val after = Rollup.readRollup(spark, t, Seq("x")).get
      .select($"g", $"n", $"sum_x", $"min_x", $"max_x")
      .as[(String, Long, Long, Long, Long)].collect().toSet
    assert(after == direct)
    // the rollup time-travels: version 1 holds exactly the first batch
    val v1 = VersionedStore.readAt(spark, t, 1L).get
      .agg(sum($"n")).head.getLong(0)
    assert(v1 == 13L, s"version 1 must hold the first batch's 13 rows, got $v1")
  }

  test("layoutAdvisory flags segment sprawl and small files; compactTable clears it") {
    val t = freshTable("advisory")
    // 12 one-row appends: 12 segments of tiny files
    (1 to 12).foreach(i =>
      VersionedStore.append(spark, t, Seq((i.toLong, s"v$i")).toDF("id", "v")))
    val adv = Ingest.layoutAdvisory(spark, t, maxSegments = 8).get
    assert(adv.liveSegments == 12 && adv.compactionAdvised)
    assert(Ingest.compactTable(spark, t) == 1)
    val after = Ingest.layoutAdvisory(spark, t, maxSegments = 8,
      minAvgFileBytes = 1L).get
    assert(after.liveSegments == 1 && !after.compactionAdvised)
    assert(rows(t).map(_._1) == (1L to 12L).toSet)
    // empty table: no advisory
    assert(Ingest.layoutAdvisory(spark, freshTable("none")).isEmpty)
  }

  test("CDC auto-maintenance compacts and bounds time-travel history when advised") {
    val t = freshTable("cdcmaint")
    (1 to 10).foreach(i =>
      VersionedStore.append(spark, t, Seq((i.toLong, s"v$i")).toDF("id", "v")))
    val before = VersionedStore.currentState(spark, t).get
    assert(before.segments.size == 10 && before.version == 10)
    graft.streaming.IncrementalIngest.maintainCdcTable(spark, t,
      graft.streaming.IncrementalIngest.CdcMaintenance(
        every = 1, retainVersions = 2, graceMs = 0, maxSegments = 4))
    val after = VersionedStore.currentState(spark, t).get
    assert(after.segments.size == 1, "maintenance must compact the sprawl")
    assert(rows(t).map(_._1) == (1L to 10L).toSet)
    // old manifests beyond the retention horizon are reclaimed
    val manifests = graft.Fs.list(spark, s"$t/_manifests")
      .filterNot(_.contains(".tmp"))
    assert(manifests.size <= 2, s"retention must bound manifests: $manifests")
    // a healthy table stays untouched
    val v0 = VersionedStore.currentState(spark, t).get.version
    graft.streaming.IncrementalIngest.maintainCdcTable(spark, t,
      graft.streaming.IncrementalIngest.CdcMaintenance(
        every = 1, retainVersions = 2, graceMs = 0, maxSegments = 4,
        minAvgFileBytes = 1L))
    assert(VersionedStore.currentState(spark, t).get.version == v0,
      "no compaction when the advisory is quiet")
  }

  test("merge maintains a registered lexical index via the rebuild path") {
    val t = freshTable("lexmerge")
    val dir = java.nio.file.Files.createTempDirectory("lexmerge-idx").toString + "/idx"
    VersionedStore.append(spark, t,
      Seq((1L, "alpha beta gamma"), (2L, "delta epsilon zeta")).toDF("doc_id", "text"))
    Keyword.registerLexicalIndex(spark, t, "doc_id", "text", dir)
    Ingest.mergeRespectingLayout(spark, t,
      Seq((2L, "replaced words entirely here")).toDF("doc_id", "text"), "doc_id")
    // the index must serve the POST-merge corpus (staleness guard passes,
    // and the replaced doc's old terms are gone)
    val hits = Keyword.bm25Indexed(spark, dir, Seq("replaced"), topK = 5,
        idName = "doc_id", store = Some(t))
      .select($"doc_id").as[Long].collect().toSet
    assert(hits == Set(2L))
    val stale = Keyword.bm25Indexed(spark, dir, Seq("delta"), topK = 5,
        idName = "doc_id", store = Some(t))
      .select($"doc_id").as[Long].collect()
    assert(stale.isEmpty, "old terms of a replaced doc must not match")
  }

  test("interleaved churn: all three sidecars stay correct through append/merge/delete/compact") {
    import graft.ops.Dedup
    val t = freshTable("churn")
    val root = java.nio.file.Files.createTempDirectory("churn-sc").toString
    def vec(i: Long): Array[Float] =
      Array.tabulate(8)(j => if (j == (i % 8).toInt) 1f else 0.05f * ((i % 3) + 1))
    val mk = (r: Range) => r.map(i => (i.toLong,
      s"alpha beta gamma token$i delta epsilon", vec(i.toLong)))
      .toDF("doc_id", "text", "embedding")
    VersionedStore.append(spark, t, mk(1 to 20))
    Keyword.registerLexicalIndex(spark, t, "doc_id", "text", s"$root/lex")
    Dedup.registerMinhashSidecar(spark, t, "doc_id", "text", s"$root/mh")
    Dedup.registerSrpSidecar(spark, t, "doc_id", "embedding", s"$root/srp")
    def checkDup(target: Long, label: String): Unit = {
      val probe = mk(target.toInt to target.toInt)
        .select(($"doc_id" + 1000L).as("doc_id"), $"text", $"embedding")
      val nText = Dedup.nearDupAgainstStore(spark, probe, "doc_id", "text",
        t, s"$root/mh", threshold = 0.9).count()
      val nEmb = Dedup.embNearDupAgainstStore(spark, probe, "doc_id",
        "embedding", t, s"$root/srp", threshold = 0.999).count()
      assert(nText >= 1 && nEmb >= 1, s"$label: dup of doc $target missed " +
        s"(text=$nText emb=$nEmb)")
    }
    // 1. append folds — a dup of the NEW rows is visible immediately
    Ingest.appendRespectingLayout(spark, t, mk(21 to 30))
    checkDup(25, "post-append")
    // 2. merge rewrites doc 5 — sidecars rebuild; dup of the NEW text is
    // found, and an untouched appended row stays visible
    Ingest.mergeRespectingLayout(spark, t,
      mk(5 to 5).select($"doc_id",
        lit("totally rewritten content for doc five").as("text"), $"embedding"),
      "doc_id")
    checkDup(25, "post-merge")
    val editedProbe = Seq((9005L, "totally rewritten content for doc five"))
      .toDF("doc_id", "text")
    assert(Dedup.nearDupAgainstStore(spark, editedProbe, "doc_id", "text",
      t, s"$root/mh", threshold = 0.9).count() >= 1,
      "post-merge: the REPLACED text must be signaturable")
    // 3. keyed delete — the deleted row's dup no longer matches; others do
    Ingest.deleteKeysRespectingLayout(spark, t,
      Seq(7L).toDF("doc_id"), "doc_id")
    checkDup(25, "post-delete")
    assert(Dedup.nearDupAgainstStore(spark,
      mk(7 to 7).select(($"doc_id" + 1000L).as("doc_id"), $"text", $"embedding"),
      "doc_id", "text", t, s"$root/mh", threshold = 0.95).count() == 0,
      "post-delete: a deleted row must not match from the sidecar")
    // 4. compaction right after the delete-rebuild restamps O(1): the
    // band files on disk are untouched, and checks keep serving
    val bandsBefore = spark.read.parquet(s"$root/mh/bands").inputFiles.toSet
    Ingest.compactTable(spark, t)
    assert(spark.read.parquet(s"$root/mh/bands").inputFiles.toSet == bandsBefore,
      "row-preserving compaction must restamp, not rebuild, the fresh sidecar")
    checkDup(25, "post-compact")
    // 5. another append folds on top of the restamped state
    Ingest.appendRespectingLayout(spark, t, mk(31 to 35))
    checkDup(33, "post-second-append")
    // final: fold state ≡ a from-scratch rebuild (the invariant every
    // interleaving must preserve)
    Dedup.buildMinhashSidecarForStore(spark, t, "doc_id", "text", s"$root/mh2")
    val a = spark.read.parquet(s"$root/mh/bands").collect().map(_.toSeq).toSet
    val b = spark.read.parquet(s"$root/mh2/bands").collect().map(_.toSeq).toSet
    assert(a == b, "interleaved maintenance must converge to the rebuild state")
  }

  test("diffVersions classifies added/removed/changed and tolerates evolved columns") {
    val t = freshTable("vdiff")
    VersionedStore.append(spark, t,
      Seq((1L, "one"), (2L, "two"), (3L, "three")).toDF("id", "txt"))
    VersionedStore.merge(spark, t,
      Seq((2L, "two-v2"), (4L, "four")).toDF("id", "txt"), "id"): Unit
    VersionedStore.deleteWhere(spark, t, col("id") === 3L): Unit
    val live = VersionedStore.history(spark, t).map(_.version).max
    val d = VersionedStore.diffVersions(spark, t, 1L, live, Seq("id")).get
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(d == Set((4L, "added"), (3L, "removed"), (2L, "changed")))
    // identical versions diff to empty
    assert(VersionedStore.diffVersions(spark, t, live, live, Seq("id")).get.count() == 0)
    // schema evolution: an extra column on one side must not flag
    // every unchanged row (hash runs over COMMON value columns only)
    val t2 = freshTable("vdiff2")
    VersionedStore.append(spark, t2, Seq((1L, "a"), (2L, "b")).toDF("id", "txt"))
    graft.ops.Ingest.evolveSchema(spark, t2,
      Seq("extra" -> lit("x"))): Unit
    val live2 = VersionedStore.history(spark, t2).map(_.version).max
    val d2 = VersionedStore.diffVersions(spark, t2, 1L, live2, Seq("id")).get
    assert(d2.count() == 0,
      "adding a column must not report unchanged rows as changed")
    // unreadable version -> None (readAt contract)
    assert(VersionedStore.diffVersions(spark, t, 99L, live, Seq("id")).isEmpty)
  }
}
