package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Dedup, Sketch}

/** The md5-portable sketches: HLL register derivation, estimate
  * accuracy, the associative merge, and the JL projection against
  * driver-side recomputation from the same md5 planes.
  */
class SketchSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def md5u64(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(d, 0, 8).getLong
  }

  test("hllRegisters derive register/rank exactly from the md5 u64") {
    val vals = Seq("alpha", "beta", "gamma", "alpha") // dup must not change max
    val got = Sketch.hllRegisters(vals.toDF("v"), "v")
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    val want = vals.distinct
      .map { s =>
        val h = md5u64(s)
        val idx = (h >>> 56).toInt
        val w = h & 0x00FFFFFFFFFFFFFFL
        val rho = if (w == 0L) 57 else 57 - (64 - java.lang.Long.numberOfLeadingZeros(w))
        idx -> rho
      }
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).max }
    assert(got == want)
  }

  test("hll estimate lands within the 3-sigma band on 10k distinct values") {
    val n = 10000
    val df = (0 until n).map(i => s"tok-$i").toDF("v")
    val est = Sketch.hllEstimate(Sketch.hllRegisters(df, "v"))
      .collect().head.getDouble(0)
    // 3 * 1.04 / sqrt(256) ≈ 19.5%
    assert(math.abs(est - n) <= 0.195 * n, s"estimate $est vs $n")
  }

  test("register frames merge associatively: registers(A ∪ B) == max-merge of parts") {
    val a = (0 until 3000).map(i => s"a$i").toDF("v")
    val b = (1500 until 4500).map(i => s"a$i").toDF("v") // overlaps a
    val whole = Sketch.hllRegisters(a.union(b), "v")
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    val merged = Sketch.hllRegisters(a, "v")
      .unionByName(Sketch.hllRegisters(b, "v"))
      .groupBy($"register").agg(max($"rho").as("rho"))
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(whole == merged)
  }

  test("hll sidecar: seam folds at O(batch), fold equals rebuild, merge rebuilds, stale refuses") {
    import graft.ops.{Ingest, VersionedStore}
    val root = {
      val p = java.nio.file.Files.createTempDirectory("hllsc").toString
      new java.io.File(p).delete(); p
    }
    val t = s"$root/t"
    val mk = (r: Range) => r.map(i =>
      (i.toLong, s"tok$i shared common words tok${i * 7}")).toDF("doc_id", "text")
    VersionedStore.append(spark, t, mk(1 to 50))
    Sketch.registerHllSidecar(spark, t, "doc_id", "text", s"$root/hll")
    // the append seam folds — no manual maintenance
    Ingest.appendRespectingLayout(spark, t, mk(51 to 100))
    val viaSidecar = Sketch.estimateFromSidecar(spark, t, s"$root/hll")
      .collect().head.getDouble(0)
    // fold ≡ rebuild
    Sketch.buildHllSidecarForStore(spark, t, "doc_id", "text", s"$root/hll2")
    val rebuilt = Sketch.hllEstimate(
        spark.read.parquet(s"$root/hll2/registers"))
      .collect().head.getDouble(0)
    assert(viaSidecar == rebuilt, "max-merged fold must equal the rebuild exactly")
    // a merge REPLACES rows — registers can't un-max, so the seam
    // rebuilds; the estimate must reflect the post-merge corpus
    Ingest.mergeRespectingLayout(spark, t,
      Seq((5L, "entirely new vocabulary here")).toDF("doc_id", "text"), "doc_id")
    val postMerge = Sketch.estimateFromSidecar(spark, t, s"$root/hll")
      .collect().head.getDouble(0)
    Sketch.buildHllSidecarForStore(spark, t, "doc_id", "text", s"$root/hll3")
    val postMergeRebuilt = Sketch.hllEstimate(
        spark.read.parquet(s"$root/hll3/registers"))
      .collect().head.getDouble(0)
    assert(postMerge == postMergeRebuilt)
    // out-of-band append (not through the seam) leaves it stale — refuse
    VersionedStore.append(spark, t, mk(101 to 105))
    val e = intercept[IllegalArgumentException] {
      Sketch.estimateFromSidecar(spark, t, s"$root/hll")
    }
    assert(e.getMessage.contains("stale"))
  }

  test("jlProject equals driver-side recomputation from the same planes") {
    val dim = 16
    val outDim = 4
    val rnd = new scala.util.Random(3)
    val rows = (0 until 20).map(i => (i.toLong, Array.fill(dim)(rnd.nextFloat() - 0.5f)))
    val got = Sketch.jlProject(rows.toDF("id", "emb"), "emb", dim, outDim)
      .select($"id", $"jl").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val planes = Dedup.rademacherPlanes(outDim, dim, table = 0, seed = 42L)
    val scale = math.sqrt(outDim.toDouble)
    rows.foreach { case (id, v) =>
      val want = planes.map { p =>
        var s = 0.0; var i = 0
        while (i < dim) { s += v(i).toDouble * p(i).toDouble; i += 1 }
        s / scale
      }
      got(id).zip(want).foreach { case (g, w) =>
        assert(math.abs(g - w) < 1e-12, s"vec $id")
      }
    }
    // null embeddings project to null, not a crash
    val withNull = Sketch.jlProject(
      Seq((1L, Array(1f, 2f)), (2L, null.asInstanceOf[Array[Float]]))
        .toDF("id", "emb"), "emb", 2, 2)
    assert(withNull.filter($"id" === 2L).select($"jl").head().isNullAt(0))
  }

  // ---- bottom-k minwise signatures ----

  test("bottomkJaccard: exact when the union fits in k, estimate tracks overlap") {
    // slice A: shingles over "a b c d e f"; slice B shares a suffix
    val df = Seq(
      ("A", "t1 t2 t3 t4 t5 t6"),
      ("B", "t3 t4 t5 t6 t7 t8")).toDF("slice", "text")
    val sig = Sketch.bottomkSignatures(df, "slice", "text", k = 64, n = 3)
    // A has 4 distinct 3-shingles, B has 4; shared: "t3 t4 t5","t4 t5 t6"
    assert(sig.groupBy($"slice").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap == Map("A" -> 4L, "B" -> 4L))
    val est = Sketch.bottomkJaccard(sig, "slice", k = 64).collect().head
    assert(est.getAs[Long]("n_common") == 2L)
    assert(est.getAs[Long]("denom") == 6L) // |union| < k → exact Jaccard
    assert(est.getAs[Long]("est_jaccard_micros") == 333333L) // micros(1/3)
  }

  test("bottomkSignatures: per-slice size capped at k, identical slices estimate 1") {
    val txt = (1 to 50).map(i => s"w$i").mkString(" ")
    val df = Seq(("X", txt), ("Y", txt)).toDF("slice", "text")
    val sig = Sketch.bottomkSignatures(df, "slice", "text", k = 16, n = 3)
    assert(sig.groupBy($"slice").count().collect().forall(_.getLong(1) == 16L))
    val est = Sketch.bottomkJaccard(sig, "slice", k = 16).collect().head
    assert(est.getAs[Long]("est_jaccard_micros") == 1000000L)
    assert(est.getAs[Long]("denom") == 16L)
  }

  test("bloom: no false negatives, probe matches a driver recomputation, shuffle-free") {
    import spark.implicits._
    val member = (0 until 300).map(i => s"https://example.com/u/$i")
    val df = member.toDF("url")
    val mBits = 4096
    val k = 5
    val words = Sketch.collectBloom(Sketch.bloomBuild(df, "url", mBits, k), mBits)
    assert(words.length == mBits / 64)
    // driver recomputation of the same md5 positions
    def positions(v: String): Seq[Int] = (0 until k).map { i =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"bloom:$i:$v".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 15)
      (java.lang.Long.parseLong(hex, 16) % mBits).toInt
    }
    val expect = new Array[Long](mBits / 64)
    member.foreach(v => positions(v).foreach(p =>
      expect(p / 64) |= (1L << (p % 64))))
    assert(words.toSeq == expect.toSeq, "built words must equal the kernel")
    // every member probes true (structural no-false-negative)
    val probed = Sketch.bloomMightContain(df, "url", words, k)
    assert(probed.filter(!$"might_contain").count() == 0)
    // non-members: any hit must be a genuine all-bits-set collision
    val others = (0 until 300).map(i => s"https://other.org/x/$i").toDF("url")
    val fp = Sketch.bloomMightContain(others, "url", words, k)
      .filter($"might_contain").select($"url").as[String].collect()
    fp.foreach { v =>
      assert(positions(v).forall(p => (expect(p / 64) >> (p % 64) & 1L) == 1L))
    }
    // the probe is a pure narrow map — the filter rides the plan
    val plan = probed.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"bloom probe must not shuffle:\n$plan")
  }

  test("bloom: null values are dropped, not crashed on; geometry mismatch refuses") {
    import spark.implicits._
    val df = Seq(Some("https://x.com/a"), None, Some("https://x.com/b"), None)
      .toDF("url")
    val mBits = 512
    // nulls can't be members — the build must not produce a null word_idx
    val words = Sketch.collectBloom(Sketch.bloomBuild(df, "url", mBits, 3), mBits)
    val clean = Sketch.collectBloom(Sketch.bloomBuild(
      Seq("https://x.com/a", "https://x.com/b").toDF("url"), "url", mBits, 3), mBits)
    assert(words.toSeq == clean.toSeq)
    // a sidecar stamped at a foreign geometry refuses the probe loudly
    val root = java.nio.file.Files.createTempDirectory("bloomgeo").toString
    val table = s"$root/t"
    graft.ops.VersionedStore.append(spark, table,
      Seq("https://x.com/a").toDF("url"))
    Sketch.buildBloomSidecarForStore(spark, table, "url", "url", s"$root/b")
    val v = graft.ops.VersionedStore.currentState(spark, table).get.version
    graft.Fs.delete(spark, s"$root/b/_stats")
    graft.Fs.writeString(spark, s"$root/b/_stats", s"1024:3 v$v")
    val e = intercept[IllegalArgumentException] {
      Sketch.probeBloomSidecar(spark, table, s"$root/b",
        Seq("https://x.com/a").toDF("url"), "url")
    }
    assert(e.getMessage.contains("geometry"))
  }

  test("bloom sidecar: fold equals rebuild, stale probe refuses, non-pure-append refuses") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("bloomsc").toString
    val table = s"$root/t"
    val side = s"$root/b"
    val a = (0 until 200).map(i => s"https://x.com/u$i").toDF("url")
    val b = (200 until 400).map(i => s"https://x.com/u$i").toDF("url")
    graft.ops.VersionedStore.append(spark, table, a)
    Sketch.buildBloomSidecarForStore(spark, table, "url", "url", side)
    graft.ops.VersionedStore.append(spark, table, b)
    // a stale sidecar must refuse the probe, never silently re-crawl
    intercept[IllegalArgumentException] {
      Sketch.probeBloomSidecar(spark, table, side, a, "url")
    }
    Sketch.appendToBloomSidecar(spark, table, "url", "url", side)
    val probed = Sketch.probeBloomSidecar(spark, table, side,
      (0 until 400).map(i => s"https://x.com/u$i").toDF("url"), "url")
    assert(probed.filter(!col("might_contain")).count() == 0,
      "every ingested URL must probe true after the fold")
    // the O(batch) fold equals a from-scratch rebuild word for word
    def words(p: String): Map[Long, Long] =
      spark.read.parquet(s"$p/words").select(col("word_idx"), col("word"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    Sketch.buildBloomSidecarForStore(spark, table, "url", "url", s"$root/b2")
    assert(words(side) == words(s"$root/b2"))
    // a delete REPLACES rows: bits can't be un-set, the fold must refuse
    graft.ops.VersionedStore.deleteWhere(spark, table,
      col("url") === "https://x.com/u0")
    val e = intercept[IllegalArgumentException] {
      Sketch.appendToBloomSidecar(spark, table, "url", "url", side)
    }
    assert(e.getMessage.contains("pure-append"))
  }

  test("registered bloom sidecar stays fresh through the real append seam") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("bloomseam").toString
    val table = s"$root/t"
    val side = s"$root/b"
    graft.ops.VersionedStore.append(spark, table,
      (0 until 100).map(i => s"https://s.com/a$i").toDF("url"))
    Sketch.registerBloomSidecar(spark, table, "url", "url", side)
    // every writer comes through appendRespectingLayout — the seam the
    // streaming ingest uses — and must fold the registered sidecar
    graft.ops.Ingest.appendRespectingLayout(spark, table,
      (100 until 200).map(i => s"https://s.com/a$i").toDF("url"))
    // fresh (no stale refusal) and complete
    val probed = Sketch.probeBloomSidecar(spark, table, side,
      (0 until 200).map(i => s"https://s.com/a$i").toDF("url"), "url")
    assert(probed.filter(!col("might_contain")).count() == 0)
  }

  test("log2 buckets are exact integer derivations; quantile reads cut at the integer rank") {
    // bucket boundaries: 1→1, 2..3→2, 4..7→3, 1023→10, 1024→11
    val got = Seq(1L, 2L, 3L, 4L, 7L, 8L, 1023L, 1024L, 0L).toDF("v")
      .select(Sketch.log2Bucket(col("v")).as("b")).as[Int].collect().toSeq
    assert(got == Seq(1, 2, 2, 3, 3, 4, 10, 11, 0))
    // 10 ones + 10 thousands: p50 cuts in bucket 1 (cum 10 >= 10),
    // p90 needs rank 18 -> bucket 10 (1000 = 0b1111101000)
    val df = ((1 to 10).map(_ => 1L) ++ (1 to 10).map(_ => 1000L)).toDF("v")
    val qs = Sketch.quantilesFromHistogram(Sketch.log2Histogram(df, "v"),
        Seq(500, 900))
      .orderBy(col("q_pm"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(qs == Seq((500, 1, 1L, 1L, 10L), (900, 10, 512L, 1023L, 20L)))
  }

  test("histogram sidecar: seam folds exact per-segment counts, maintained == direct, stale refuses, merge rebuilds") {
    import graft.ops.{Ingest, VersionedStore}
    val root = java.nio.file.Files.createTempDirectory("histside").toString
    val table = s"$root/store"; val hpath = s"$root/hist"
    val all = (1 to 300).map(i => (i.toLong, (i % 100) * 17L + 1L)).toDF("k", "len")
    VersionedStore.append(spark, table, all.filter(col("k") <= 100))
    Sketch.registerHistogramSidecar(spark, table, "k", "len", hpath)
    val v1 = VersionedStore.currentState(spark, table).get.version
    Ingest.appendRespectingLayout(spark, table,
      all.filter(col("k") > 100 && col("k") <= 200)): Unit
    Ingest.appendRespectingLayout(spark, table, all.filter(col("k") > 200)): Unit
    def hist(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    assert(hist(Sketch.maintainedHistogram(spark, table, hpath)) ==
      hist(Sketch.log2Histogram(all, "len")),
      "folded per-segment counts must equal the direct corpus histogram")
    // the ledger stays <= 64 rows per segment
    assert(spark.read.parquet(s"$hpath/parts")
      .groupBy(col("segment")).count().agg(max(col("count"))).head()
      .getLong(0) <= 64)
    // time travel: the v1 histogram replays from the ledger prefix
    assert(hist(Sketch.maintainedHistogramAt(spark, table, hpath, v1)) ==
      hist(Sketch.log2Histogram(all.filter(col("k") <= 100), "len")),
      "the historical histogram must replay exactly from the ledger")
    // out-of-band append -> stale refusal -> seam maintenance heals
    VersionedStore.append(spark, table, Seq((999L, 7L)).toDF("k", "len"))
    val err = intercept[IllegalArgumentException] {
      Sketch.maintainedHistogram(spark, table, hpath)
    }
    assert(err.getMessage.contains("stale"))
    graft.ops.SidecarRegistry.afterAppend(spark, table)
    assert(hist(Sketch.maintainedHistogram(spark, table, hpath)) ==
      hist(Sketch.log2Histogram(
        all.unionAll(Seq((999L, 7L)).toDF("k", "len")), "len")))
    // a merge REPLACES rows: the count ledger refuses, the seam rebuilds
    Ingest.mergeRespectingLayout(spark, table,
      Seq((7L, 100000L)).toDF("k", "len"), "k"): Unit
    assert(hist(Sketch.maintainedHistogram(spark, table, hpath)) ==
      hist(Sketch.log2Histogram(
        VersionedStore.read(spark, table).get, "len")),
      "the rebuild path must heal a merged history")
  }
}
