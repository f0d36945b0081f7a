package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Curation, Dedup, TextAnalysis}

class CurationSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  // --- quantile filtering ---------------------------------------------------

  test("filterByQuantile keeps exactly the rows at or above the exact quantile") {
    val df = (1 to 100).map(i => (i.toLong, i.toDouble)).toDF("id", "score")
    val kept = Curation.filterByQuantile(df, "score", 0.5, exact = true)
      .select($"id").as[Long].collect().sorted
    // exact percentile(1..100, 0.5) = 50.5 -> keep 51..100
    assert(kept.toSeq == (51L to 100L))
    assert(Curation.filterByQuantile(df, "score", 0.0, exact = true).count() == 100)
    assert(Curation.filterByQuantile(df, "score", 1.0, exact = true).count() == 1)
  }

  test("approx quantile threshold lands within the sketch's rank bound of exact") {
    val df = (1 to 2000).map(i => (i.toLong, (i * 37 % 2000).toDouble)).toDF("id", "score")
    val exact = Curation.quantileThreshold(df, "score", 0.5, exact = true).get
    val approx = Curation.quantileThreshold(df, "score", 0.5, exact = false,
      accuracy = 100).get
    // GK bound: rank error <= n / accuracy = 20 ranks; values are dense
    // integers so 20 ranks <= 21 in value
    assert(math.abs(approx - exact) <= 21.0,
      s"approx $approx vs exact $exact drifted past the rank bound")
  }

  test("filterByQuantile on an empty or all-null corpus keeps nothing") {
    val empty = Seq.empty[(Long, Double)].toDF("id", "score")
    assert(Curation.filterByQuantile(empty, "score", 0.5).count() == 0)
    val nulls = Seq((1L, Option.empty[Double]), (2L, Option.empty[Double]))
      .toDF("id", "score")
    assert(Curation.filterByQuantile(nulls, "score", 0.5).count() == 0)
  }

  // --- curriculum ordering --------------------------------------------------

  test("curriculumOrder walks phases in order and seeded-shuffles within each phase") {
    val df = (1 to 60).map(i => (i.toLong, if (i % 3 == 0) 0 else 1)).toDF("id", "phase")
    val got = Curation.curriculumOrder(df, $"phase", "id", seed = "s")
      .select($"id", $"phase", $"position").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .sortBy(_._3)
    assert(got.map(_._3).toSeq == (1L to 60L), "positions must be contiguous 1..n")
    // all phase-0 rows come before any phase-1 row
    val phaseWalk = got.map(_._2).toSeq
    assert(phaseWalk == phaseWalk.sorted, "phases must be visited in ascending order")
    // within a phase, the order is the deterministicShuffle permutation
    val expected = got.filter(_._2 == 0).map(_._1)
      .sortBy(id => java.security.MessageDigest.getInstance("MD5")
        .digest(s"$id:s".getBytes("UTF-8")).map("%02x".format(_)).mkString)
    assert(got.filter(_._2 == 0).map(_._1).toSeq == expected.toSeq)
  }

  test("curriculumOrder is invariant to partition layout and sensitive to seed") {
    val df = (1 to 200).map(i => (i.toLong, i % 4)).toDF("id", "phase")
    def run(parts: Int, seed: String) =
      Curation.curriculumOrder(df.repartition(parts), $"phase", "id", seed)
        .select($"id", $"position").as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(run(2, "a") == run(13, "a"), "partitioning must not change positions")
    assert(run(4, "a") != run(4, "b"), "different seeds must give a different order")
  }

  test("curriculumOrder raises on a null phase") {
    val df = Seq((1L, Some(0)), (2L, None)).toDF("id", "phase")
    val e = intercept[Exception] {
      Curation.curriculumOrder(df, $"phase", "id", "s").collect()
    }
    assert(e.getMessage.contains("null phase") ||
      Option(e.getCause).exists(_.getMessage.contains("null phase")))
  }

  // --- cluster-balanced sampling --------------------------------------------

  test("clusterBalancedSample caps every cluster at the quota and keeps small clusters whole") {
    // three well-separated gaussian-ish blobs of very different sizes
    val rnd = new scala.util.Random(11)
    def blob(center: Float, n: Int, base: Long) =
      (0 until n).map(i => (base + i, Array.fill(8)(center + rnd.nextFloat() * 0.1f)))
    val rows = blob(0f, 40, 0L) ++ blob(10f, 12, 100L) ++ blob(20f, 3, 200L)
    val df = rows.toDF("vec_id", "embedding")
    val sample = Curation.clusterBalancedSample(df, "vec_id", "embedding",
      k = 3, perCluster = 5, iters = 4)
    val counts = sample.groupBy($"cluster_id").count()
      .as[(Int, Long)].collect().toMap
    assert(counts.values.forall(_ <= 5), s"quota exceeded: $counts")
    assert(counts.values.sum >= 5 + 5 + 3 - 2,
      s"well-separated blobs should fill their quotas, got $counts")
    // sampled ids are a subset of the corpus
    val ids = sample.select($"vec_id").as[Long].collect().toSet
    assert(ids.subsetOf(rows.map(_._1).toSet))
    // null embeddings never sampled
    val withNull = df.union(Seq((999L, null.asInstanceOf[Array[Float]]))
      .toDF("vec_id", "embedding"))
    val s2 = Curation.clusterBalancedSample(withNull, "vec_id", "embedding", 3, 5, 4)
    assert(!s2.select($"vec_id").as[Long].collect().contains(999L))
  }

  // --- vocabulary profiling -------------------------------------------------

  test("vocabTopK returns exact counts under the (count desc, token asc) total order") {
    val df = Seq("a b a", "b c b", "a", "").toDF("text")
    val got = TextAnalysis.vocabTopK(df, "text", 3)
      .as[(String, Long)].collect().toSeq
    // counts: a=3 b=3 c=1 ""=1; order: (3,a),(3,b),(1,""),(1,c)
    assert(got == Seq(("a", 3L), ("b", 3L), ("", 1L)))
  }

  test("vocabTopKCmsChecked estimates respect the count-min bound") {
    val texts = (0 until 300).map(i => s"tok${i % 17} tok${i % 5} filler$i")
    val df = texts.toDF("text")
    val rows = TextAnalysis.vocabTopKCmsChecked(df, "text", 10,
        eps = 0.01, confidence = 0.99, seed = 7)
      .select($"token", $"n", $"est", $"within_bound").collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      assert(r.getBoolean(3), s"CMS bound violated for ${r.getString(0)}: " +
        s"n=${r.getLong(1)} est=${r.getLong(2)}")
      assert(r.getLong(2) >= r.getLong(1), "CMS must never underestimate")
    }
  }

  // --- table profiling ------------------------------------------------------

  test("tableProfile computes exact one-pass stats, one row per column") {
    val df = Seq((1L, Option("a")), (2L, Option("b")), (3L, None), (3L, Option("a")))
      .toDF("k", "s")
    val got = graft.ops.Profile.tableProfile(df, Seq("k", "s"), exactDistinct = true)
      .orderBy($"column").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getString(5)))
    assert(got(0) == ("k", 4L, 0L, 3L, "1", "3"))
    assert(got(1) == ("s", 4L, 1L, 2L, "a", "b"))
  }

  test("tableProfile is ONE aggregation job (no per-column scans)") {
    val df = (1 to 100).map(i => (i.toLong, s"v${i % 7}", i % 3)).toDF("a", "b", "c")
    val plan = graft.ops.Profile.tableProfile(df, Seq("a", "b", "c"))
      .queryExecution.executedPlan.toString
    // a single HashAggregate pair over one scan: no join, no union
    assert(!plan.contains("Join") && !plan.contains("Union"),
      s"profile must stay a single-pass aggregation:\n$plan")
  }

  test("tableProfileChecked's HLL bound bit holds on real cardinalities") {
    val df = (1 to 5000).map(i => (i.toLong, s"g${i % 37}")).toDF("id", "g")
    val rows = graft.ops.Profile.tableProfileChecked(df, Seq("id", "g"))
      .collect()
    rows.foreach { r =>
      assert(r.getAs[Boolean]("distinct_within_rsd"),
        s"sketch out of bound for ${r.getString(0)}: $r")
    }
    val byCol = rows.map(r => r.getString(0) -> r.getAs[Long]("n_distinct")).toMap
    assert(byCol("id") == 5000L && byCol("g") == 37L,
      "checked profile reports the EXACT distinct counts")
  }

  test("datasetFingerprint: layout-invariant, multiset-sensitive, null ≠ empty") {
    import graft.ops.Profile
    val df = Seq((1L, Option("a")), (2L, Option("b")), (3L, None))
      .toDF("k", "s")
    def fp(d: org.apache.spark.sql.DataFrame) =
      Profile.datasetFingerprint(d, Seq("k", "s"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).head
    val base = fp(df)
    assert(base._1 == 3L)
    // any partitioning / in-partition order fingerprints identically
    assert(fp(df.repartition(5)) == base)
    assert(fp(df.orderBy($"s".desc_nulls_first)) == base)
    // a changed cell changes it; swapping values BETWEEN rows does too
    assert(fp(Seq((1L, Option("a")), (2L, Option("b")), (4L, None))
      .toDF("k", "s")) != base)
    assert(fp(Seq((1L, Option("b")), (2L, Option("a")), (3L, None))
      .toDF("k", "s")) != base)
    // duplicating a row flips n_rows AND the modular sum even though a
    // double xor contribution cancels — the blindness the sum closes
    val dup = Profile.datasetFingerprint(df.unionAll(df.limit(1).unionAll(df.limit(1))),
        Seq("k", "s"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).head
    assert(dup._1 == 5L && dup._2 == base._2 && dup._3 != base._3,
      s"xor cancels the even duplicate pair but the sum must not: $dup vs $base")
    // null and empty string are distinct rows
    assert(fp(Seq((3L, Option(""))).toDF("k", "s")) !=
      fp(Seq((3L, Option.empty[String])).toDF("k", "s")))
    // INJECTIVITY under adversarial values: the frame characters are
    // escaped inside fields, so a value containing the 
    // separator cannot shift the field boundary...
    def fp2(rows: Seq[(String, String)]) =
      Profile.datasetFingerprint(rows.toDF("a", "b"), Seq("a", "b"))
        .collect().map(r => (r.getLong(1), r.getLong(2))).head
    assert(fp2(Seq(("ab", "c"))) != fp2(Seq(("a", "bc"))),
      "separator inside a value must not shift the field boundary")
    // ...a literal  string is distinct from NULL...
    assert(fp(Seq((3L, Option(""))).toDF("k", "s")) !=
      fp(Seq((3L, Option.empty[String])).toDF("k", "s")),
      "a literal sentinel character must not alias NULL")
    // ...and a literal escape char round-trips (doubled first)
    assert(fp2(Seq(("a", "b"))) != fp2(Seq(("a", "b"))))
    // datasetDiff's row grouping uses the same injective encoding
    val advL = Seq(("ab", "c")).toDF("a", "b")
    val advR = Seq(("a", "bc")).toDF("a", "b")
    assert(Profile.datasetDiff(advL, advR, Seq("a", "b")).count() == 2,
      "adversarial rows are DIFFERENT multisets and must be reported")
    // one aggregation job — no sort, no join
    val plan = Profile.datasetFingerprint(df, Seq("k", "s"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Sort"),
      s"fingerprint must stay one aggregation pass:\n$plan")
    // the incremental identity: per-group fingerprints (null group
    // included) fold to exactly the direct whole-table fingerprint
    val big = (1 to 500).map(i =>
      (i.toLong, if (i % 11 == 0) None else Some(s"g${i % 7}"))).toDF("k", "s")
    val direct = fp(big)
    val foldedRow = Profile.foldFingerprints(
        Profile.datasetFingerprintBy(big, "s", Seq("k", "s")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).head
    assert(foldedRow == direct, "fold over a disjoint cover ≡ direct")
    // the diff drill-down: equal multisets report NOTHING (any layout),
    // and a planted even-copy duplication (xor-invisible) is reported
    // with exact per-side multiplicities
    assert(Profile.datasetDiff(big, big.repartition(9), Seq("k", "s")).count() == 0)
    val twice = big.filter($"k" === 5L)
    val diff = Profile.datasetDiff(big, big.unionAll(twice).unionAll(twice),
        Seq("k", "s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(diff.length == 1 && diff.head._2 == 1L && diff.head._3 == 3L,
      s"planted 2 extra copies must report (1, 3): ${diff.toSeq}")
  }

  test("fingerprint sidecar: seam appends fold O(batch), stale refuses, rebuild heals") {
    import graft.ops.{Ingest, Profile, VersionedStore}
    val root = java.nio.file.Files.createTempDirectory("fpside").toString
    val table = s"$root/store"; val fpath = s"$root/fp"
    val cols = Seq("k", "s")
    val all = (1 to 300).map(i => (i.toLong, s"v${i % 13}")).toDF("k", "s")
    VersionedStore.append(spark, table, all.filter($"k" <= 100))
    Profile.registerFingerprintSidecar(spark, table, cols, fpath)
    // the production seam folds each batch as new parts rows
    Ingest.appendRespectingLayout(spark, table, all.filter($"k" > 100 && $"k" <= 200)): Unit
    Ingest.appendRespectingLayout(spark, table, all.filter($"k" > 200)): Unit
    val parts = spark.read.parquet(s"$fpath/parts")
    assert(parts.count() >= 3, "each appended segment ledgers its own row")
    def row(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).head
    assert(row(Profile.storeFingerprint(spark, table, fpath)) ==
      row(Profile.datasetFingerprint(all, cols)),
      "maintained ledger must fingerprint exactly the full multiset")
    // out-of-band append (bypassing the seam) leaves the ledger stale:
    // loud refusal, then the registry maintenance heals by folding
    VersionedStore.append(spark, table, Seq((999L, "x")).toDF("k", "s"))
    val err = intercept[IllegalArgumentException] {
      Profile.storeFingerprint(spark, table, fpath)
    }
    assert(err.getMessage.contains("stale"))
    graft.ops.SidecarRegistry.afterAppend(spark, table)
    assert(row(Profile.storeFingerprint(spark, table, fpath)) ==
      row(Profile.datasetFingerprint(
        all.unionAll(Seq((999L, "x")).toDF("k", "s")), cols)))
    // a column-set mismatch refuses to the rebuild path loudly
    val colErr = intercept[IllegalArgumentException] {
      Profile.appendToFingerprintSidecar(spark, table, Seq("k"), fpath)
    }
    assert(colErr.getMessage.contains("ledgers columns"))
    // a merge rewrites ONE segment: the seam RECONCILES the ledger at
    // O(changed segments) — untouched segments' parts rows survive
    // byte-identical (a full rebuild would have re-scanned the corpus),
    // only the rewritten segment's row is replaced, and the folded
    // checksum still equals the direct recompute
    def partRows() = spark.read.parquet(s"$fpath/parts").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val preParts = partRows()
    Ingest.mergeRespectingLayout(spark, table,
      Seq((2L, "MERGED")).toDF("k", "s"), "k"): Unit
    val postParts = partRows()
    assert((preParts & postParts).size == preParts.size - 1,
      s"reconcile must replace exactly the rewritten segment's ledger " +
        s"row: pre=${preParts.size} shared=${(preParts & postParts).size}")
    val merged = all.filter($"k" =!= 2L)
      .unionAll(Seq((2L, "MERGED"), (999L, "x")).toDF("k", "s"))
    assert(row(Profile.storeFingerprint(spark, table, fpath)) ==
      row(Profile.datasetFingerprint(merged, cols)),
      "the reconciled ledger must checksum the merged corpus exactly")
  }

  test("sample sidecar: seam folds per-segment candidates, maintained ≡ direct, stale/merge refuse, compact heals") {
    import graft.ops.{Ingest, Sampling, VersionedStore}
    val root = java.nio.file.Files.createTempDirectory("smpside").toString
    val table = s"$root/store"; val spath = s"$root/smp"
    // adversarial weights: one heavy outlier, ties, wide range
    val all = (1 to 300).map(i =>
      (i.toLong, if (i == 7) 1000000L else 1L + i % 50)).toDF("k", "w")
    VersionedStore.append(spark, table, all.filter($"k" <= 100))
    Sampling.registerSampleSidecar(spark, table, "k", "w", k = 10,
      seed = "t", path = spath)
    val v1 = VersionedStore.currentState(spark, table).get.version
    Ingest.appendRespectingLayout(spark, table,
      all.filter($"k" > 100 && $"k" <= 200)): Unit
    Ingest.appendRespectingLayout(spark, table, all.filter($"k" > 200)): Unit
    val parts = spark.read.parquet(s"$spath/parts")
    assert(parts.select($"segment").distinct().count() == 3,
      "each appended segment ledgers its own candidates")
    assert(parts.groupBy($"segment").count().agg(max($"count")).head()
      .getLong(0) <= 10, "no segment ledgers more than k candidate rows")
    def sample(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2))).toSeq
    val maintained = sample(Sampling.maintainedWeightedSample(spark, table, spath)
      .select($"key".cast("long"), $"w".cast("long"), $"sample_score"))
    val direct = sample(Sampling.weightedSampleExact(all, "k", "w", 10, "t")
      .select($"k", $"w".cast("long"), $"sample_score"))
    assert(maintained == direct,
      "maintained sample must equal the direct recompute row for row")
    // the heavy weight is deterministically in the sample
    assert(maintained.exists(_._1 == 7L))
    // time travel: the v1 sample replays from the ledger prefix and
    // equals a direct recompute over only the v1 slice
    assert(sample(Sampling.maintainedWeightedSampleAt(spark, table, spath, v1)
        .select($"key".cast("long"), $"w".cast("long"), $"sample_score")) ==
      sample(Sampling.weightedSampleExact(
          all.filter($"k" <= 100), "k", "w", 10, "t")
        .select($"k", $"w".cast("long"), $"sample_score")),
      "the historical sample must replay exactly from the ledger")
    // out-of-band append leaves the ledger stale: loud refusal, then
    // the registry maintenance heals by folding the new segment
    VersionedStore.append(spark, table, Seq((999L, 5L)).toDF("k", "w"))
    val err = intercept[IllegalArgumentException] {
      Sampling.maintainedWeightedSample(spark, table, spath)
    }
    assert(err.getMessage.contains("stale"))
    graft.ops.SidecarRegistry.afterAppend(spark, table)
    val healed = sample(Sampling.maintainedWeightedSample(spark, table, spath)
      .select($"key".cast("long"), $"w".cast("long"), $"sample_score"))
    assert(healed == sample(Sampling.weightedSampleExact(
      all.unionAll(Seq((999L, 5L)).toDF("k", "w")), "k", "w", 10, "t")
      .select($"k", $"w".cast("long"), $"sample_score")))
    // a merge REPLACES rows — the per-segment fold refuses and the seam
    // RECONCILES at O(changed segments): untouched segments' candidate
    // rows survive byte-identical, only the rewritten segment's differ
    def candRows() = spark.read.parquet(s"$spath/parts").collect()
      .map(r => (r.getAs[String]("segment"), r.getAs[Long]("key"),
        r.getAs[Double]("w"))).toSet
    val preCand = candRows()
    val preSegs = preCand.map(_._1)
    Ingest.mergeRespectingLayout(spark, table,
      Seq((7L, 1L)).toDF("k", "w"), "k"): Unit
    val postCand = candRows()
    val untouched = preSegs.intersect(postCand.map(_._1))
    assert(untouched.nonEmpty &&
      preCand.filter(c => untouched(c._1)) ==
        postCand.filter(c => untouched(c._1)),
      "reconcile must keep untouched segments' candidates unchanged")
    val postMerge = sample(Sampling.maintainedWeightedSample(spark, table, spath)
      .select($"key".cast("long"), $"w".cast("long"), $"sample_score"))
    assert(postMerge == sample(Sampling.weightedSampleExact(
        VersionedStore.read(spark, table).get, "k", "w", 10, "t")
      .select($"k", $"w".cast("long"), $"sample_score")),
      "the rebuild path must heal a merged (non-pure-append) history")
    // compaction rewrites segments; the compact seam rebuilds the ledger
    Ingest.compactTable(spark, table): Unit
    val postCompact = sample(Sampling.maintainedWeightedSample(spark, table, spath)
      .select($"key".cast("long"), $"w".cast("long"), $"sample_score"))
    assert(postCompact == postMerge,
      "compaction preserves rows, so the maintained sample is unchanged")
  }

  test("stratified sample sidecar: per-(segment,stratum) candidates, maintained ≡ direct, reader kind-mismatch refuses") {
    import graft.ops.{Ingest, Sampling, VersionedStore}
    val root = java.nio.file.Files.createTempDirectory("smpstrat").toString
    val table = s"$root/store"; val spath = s"$root/smp"
    val all = (1 to 200).map(i =>
      (i.toLong, if (i % 5 == 0) "de" else "en", 1L + i % 40)).toDF("k", "g", "w")
    VersionedStore.append(spark, table, all.filter($"k" <= 100))
    Sampling.registerSampleSidecar(spark, table, "k", "w", k = 3,
      seed = "t2", path = spath, strataCol = Some("g"))
    Ingest.appendRespectingLayout(spark, table, all.filter($"k" > 100)): Unit
    // ledger bound: <= k rows per (segment, stratum)
    val parts = spark.read.parquet(s"$spath/parts")
    assert(parts.groupBy($"segment", $"stratum").count()
      .agg(max($"count")).head().getLong(0) <= 3)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    val maintained = rows(Sampling
      .maintainedWeightedSamplePerStratum(spark, table, spath)
      .select($"stratum", $"key".cast("long"), $"w".cast("long"),
        $"sample_score"))
    val direct = rows(Sampling.weightedSamplePerStratumExact(
        all, "g", "k", "w", 3, "t2")
      .select($"g", $"k", $"w".cast("long"), $"sample_score"))
    assert(maintained == direct,
      "per-stratum maintained sample must equal the direct recompute")
    assert(maintained.count(_._1 == "en") == 3 &&
      maintained.count(_._1 == "de") == 3)
    // a stratified ledger refuses the global reader, and vice versa
    val kindErr = intercept[IllegalArgumentException] {
      Sampling.maintainedWeightedSample(spark, table, spath)
    }
    assert(kindErr.getMessage.contains("stratified"))
  }

  // --- bloom decontamination ------------------------------------------------

  test("decontaminateBloom equals the exact decontaminate on every fpp") {
    val corpus = ((1 to 40).map(i => (i.toLong, s"unique document number $i with words w$i x$i y$i z$i")) ++
      Seq((100L, "the secret benchmark answer is forty two ok"),
          (101L, "another leaked eval question text appears right here")))
      .toDF("doc_id", "text")
    val eval = Seq("the secret benchmark answer is forty two indeed",
        "another leaked eval question text appears right here too")
      .toDF("text")
    val exact = Dedup.decontaminate(corpus, "doc_id", "text", eval, "text", n = 4)
      .select($"doc_id").as[Long].collect().sorted.toSeq
    for (fpp <- Seq(0.5, 0.05, 0.001)) {
      val bloom = Dedup.decontaminateBloom(corpus, "doc_id", "text", eval, "text",
          n = 4, fpp = fpp)
        .select($"doc_id").as[Long].collect().sorted.toSeq
      assert(bloom == exact, s"fpp=$fpp diverged from exact")
    }
    assert(!exact.contains(100L) && !exact.contains(101L))
  }

  test("decontaminateBloom with an empty eval set keeps the whole corpus") {
    val corpus = (1 to 10).map(i => (i.toLong, s"doc $i has some words in it yes"))
      .toDF("doc_id", "text")
    val eval = Seq.empty[String].toDF("text")
    assert(Dedup.decontaminateBloom(corpus, "doc_id", "text", eval, "text", n = 4)
      .count() == 10)
  }

  test("decontaminateBloom releases its eval-shingle pin") {
    val corpus = ((1 to 10).map(i => (i.toLong, s"doc $i has some words in it yes")) :+
      (11L, "the secret benchmark answer is forty two")).toDF("doc_id", "text")
    val eval = Seq("the secret benchmark answer is forty two indeed").toDF("text")
    val before = org.apache.spark.sql.graftshim.CachedEntries(spark)
    val kept = Dedup.decontaminateBloom(corpus, "doc_id", "text", eval, "text", n = 4)
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(kept == (1L to 10L))
    assert(org.apache.spark.sql.graftshim.CachedEntries(spark) == before)
  }

  // --- text normalization ----------------------------------------------------

  test("homoglyph table loads from the committed UTS#39 snapshot; breadth covers fullwidth, numerals, key-poisoners") {
    import graft.ops.TextAnalysis
    assert(TextAnalysis.HomoglyphFrom.length == TextAnalysis.HomoglyphTo.length)
    assert(TextAnalysis.HomoglyphFrom.length >= 220,
      s"snapshot breadth: ${TextAnalysis.HomoglyphFrom.length}")
    // no ASCII source, no duplicate sources (the loader contract)
    assert(TextAnalysis.HomoglyphFrom.forall(_ >= 0x80))
    assert(TextAnalysis.HomoglyphFrom.distinct.length ==
      TextAnalysis.HomoglyphFrom.length)
    def norm(s: String): String = {
      val df = Seq(s).toDF("t")
      df.select(TextAnalysis.homoglyphNormalize(col("t"))).as[String].head()
    }
    assert(norm("ｐａｙｐａｌ") == "paypal") // fullwidth
    assert(norm("ⅠⅠ met Ⅶ") == "II met VII".replace("VII", "Ⅶ")
      || norm("Ⅰ and Ⅴ") == "I and V")                    // roman numerals
    assert(norm("frее mοnеy") == "free money")  // cyrillic+greek
    assert(norm("a b c　d") == "a b c d")             // space poisoners
    assert(norm("‘q’ “w” –e") == "'q' \"w\" -e")
    assert(norm("Kelvin") == "Kelvin")                         // KELVIN SIGN
    val cnt = Seq("ра y").toDF("t")
      .select(TextAnalysis.homoglyphCount(col("t"))).as[Int].head()
    assert(cnt == 3, s"р, а and NBSP are confusables: $cnt")
  }

  test("normalizeText composes NFC, lowercases locale-free, collapses ASCII \\s runs") {
    import graft.functions.NormalizeText.normalizeText
    val rows = Seq(
      ("decomposed", "CAFÉ"),          // E + combining acute
      ("precomposed", "CAFÉ"),          // É as one codepoint
      ("ws", " a\t\tb \r\n c  "),
      ("nbsp", "a\u00a0b"),                  // U+00A0 is NOT \s — must stay
      ("empty", ""),
      ("null", null.asInstanceOf[String]))
      .toDF("k", "t")
    val got = rows.select($"k", normalizeText($"t").as("n"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got("decomposed") == "café", "NFC must compose before lowering")
    assert(got("decomposed") == got("precomposed"),
      "both encodings of É must normalize identically")
    assert(got("ws") == "a b c")
    assert(got("nbsp") == "a\u00a0b")
    assert(got("empty") == "")
    assert(got("null") == null)
    // idempotence
    val twice = rows.filter($"t".isNotNull)
      .select(normalizeText(normalizeText($"t")) === normalizeText($"t"))
      .collect().forall(_.getBoolean(0))
    assert(twice, "normalization must be idempotent")
  }

  test("populationStabilityIndex: zero on identical inputs, loud on a planted shift") {
    import graft.ops.Profile
    val ref = (1 to 1000).map(i => (i % 100).toDouble).toDF("v")
    val same = Profile.populationStabilityIndex(ref, ref, "v", 10)
      .collect().map(r => (r.getLong(0), r.getDouble(5)))
    assert(same.length == 10, "one row per bin, empty bins included")
    assert(same.forall(_._2 == 0.0),
      "identical distributions must contribute exactly zero per bin")
    // shift the whole distribution up by 80: most mass clamps into the
    // top reference bins -> PSI far past the 0.25 'shifted' convention
    val cur = (1 to 1000).map(i => (i % 100).toDouble + 80).toDF("v")
    val psi = Profile.populationStabilityIndex(ref, cur, "v", 10)
      .agg(sum($"contribution")).head().getDouble(0)
    assert(psi > 0.25, s"planted shift must trip the PSI threshold, got $psi")
    // out-of-range values land in the edge bin, never dropped
    val far = Seq(1e9).toDF("v")
    val edge = Profile.populationStabilityIndex(ref, far, "v", 10)
      .filter($"bin" === 9).head()
    assert(edge.getLong(2) == 1L, "out-of-range current value must clamp to the top bin")
  }

  test("activityAnomalies: planted burst flagged, steady groups clean, degenerates null") {
    import graft.ops.Profile
    // group A: 11 steady buckets of 10 events + 1 burst bucket of 100;
    // group B: one bucket only (n < 2 -> null z, never an anomaly)
    val ns = 1000000000L
    val a = (0 until 11).flatMap(b => (0 until 10).map(_ => ("a", b * ns + 1L))) ++
      (0 until 100).map(_ => ("a", 11 * ns + 1L))
    val bSingle = (0 until 5).map(_ => ("b", 1L))
    val df = (a ++ bSingle).toDF("g", "ts")
    val got = Profile.activityAnomalies(df, "g", "ts", bucketNs = ns,
        zThreshold = 2.0)
      .collect().map(r => ((r.getString(0), r.getLong(1)),
        (r.getLong(2), if (r.isNullAt(4)) None else Some(r.getDouble(4)),
          r.getBoolean(5)))).toMap
    // hand-computed: n=12, s1=210, s2=11100, mean=17.5,
    // var=(12*11100-210*210)/(12*11) = 675, sd=25.98...; burst z=(100-17.5)/sd≈3.18
    assert(got(("a", 11L))._3, "the burst bucket must flag")
    assert(got(("a", 11L))._2.get > 3.0)
    (0 until 11).foreach(b => assert(!got(("a", b.toLong))._3, s"steady bucket $b"))
    assert(got(("b", 0L)) == ((5L, None, false)), "single-bucket group: null z, clean")
    // zero-variance group: identical buckets -> null z, never anomalous
    val flat = (0 until 4).flatMap(b => (0 until 7).map(_ => ("c", b * ns + 1L))).toDF("g", "ts")
    val fz = Profile.activityAnomalies(flat, "g", "ts", ns)
      .collect()
    assert(fz.forall(r => r.isNullAt(4) && !r.getBoolean(5)))
  }

  test("activityAnomalies: a full-outage bucket densifies to zero and flags; span cap raises") {
    import graft.ops.Profile
    val ns = 1000000000L
    // 11 steady buckets of 10 events with bucket 5 MISSING entirely (the
    // outage): densification scores it as n_events = 0 — without it the
    // bucket would be absent from the panel and never flaggable
    val ev = (0 until 12).filter(_ != 5)
      .flatMap(b => (0 until 10).map(_ => ("a", b * ns + 1L))).toDF("g", "ts")
    val got = Profile.activityAnomalies(ev, "g", "ts", bucketNs = ns,
        zThreshold = 2.0)
      .collect().map(r => (r.getLong(1), (r.getLong(2), r.getBoolean(5)))).toMap
    assert(got.size == 12, s"densified panel must cover the full range: $got")
    assert(got(5L)._1 == 0L, "the outage bucket scores a zero count")
    // n=12, s1=110, s2=1100: var=(12*1100-110*110)/(12*11)=9.09, sd≈3.0;
    // z(0)=(0-9.16)/3.0 ≈ -3.04 — the outage flags
    assert(got(5L)._2, "the outage bucket must flag")
    assert((0 until 12).filter(_ != 5).forall(b => !got(b.toLong)._2))
    // the densification bound is LOUD, not a silent OOM: two events a
    // universe apart under a tiny bucket would explode the sequence
    val wide = Seq(("w", 0L), ("w", 4000000000000000L)).toDF("g", "ts")
    val e = intercept[Exception] {
      Profile.activityAnomalies(wide, "g", "ts", bucketNs = 1000L).collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("maxBucketsPerGroup"),
      s"span past the cap must raise loudly, got: ${e.getMessage}")
  }

  test("live stream volume monitor: foreachBatch rollup fold equals the direct panel") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.ops.{Profile, Rollup}
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("volmon").toString + "/agg"
    val ns = 1000000000L
    // (group, tsNanos): group a gets a burst in bucket 7 — n=8, s1=95,
    // s2=3775 ⇒ sd≈19.45, z(60)≈2.47 > 2; group b is zero-variance
    val all = (0 until 7).flatMap(b => (0 until 5).map(_ => ("a", b * ns + 1L))) ++
      (0 until 60).map(_ => ("a", 7 * ns + 1L)) ++
      (0 until 8).flatMap(b => Seq(("b", b * ns + 1L)))
    val stream = MemoryStream[(String, Long)]
    val q = stream.toDS().toDF("g", "ts").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        Rollup.maintain(spark, root,
          batch.select($"g", Profile.bucketOf("ts", ns).as("bucket")),
          Seq("g", "bucket"), Seq()): Unit
      }.start()
    try {
      // three micro-batches in arbitrary interleaving
      val (b1, rest) = all.splitAt(20)
      val (b2, b3) = rest.splitAt(15)
      Seq(b1, b2, b3).foreach { b => stream.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    val folded = Profile.anomaliesFromCounts(
      Rollup.readRollup(spark, root, Seq()).get.withColumnRenamed("n", "n_events"),
      "g", zThreshold = 2.0)
    val direct = Profile.activityAnomalies(all.toDF("g", "ts"), "g", "ts", ns)
    assert(folded.orderBy($"g", $"bucket").collect().toSeq ==
      direct.orderBy($"g", $"bucket").collect().toSeq)
    assert(folded.filter($"is_anomaly").collect().map(r =>
      (r.getString(0), r.getLong(1))).toSet == Set(("a", 7L)))
  }

  test("charBigramEntropy matches hand-computed values") {
    val df = Seq(
      (1L, "aaaa"),   // bigrams aa,aa,aa -> H = 0
      (2L, "abab"),   // ab,ba,ab -> log2(3) - 2/3
      (3L, "abcd"),   // ab,bc,cd all distinct -> log2(3)
      (4L, "x"))      // no bigrams -> omitted
      .toDF("doc_id", "text")
    val got = TextAnalysis.charBigramEntropy(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet == Set(1L, 2L, 3L))
    assert(math.abs(got(1L)) < 1e-12)
    assert(math.abs(got(2L) - (math.log(3) / math.log(2) - 2.0 / 3)) < 1e-12)
    assert(math.abs(got(3L) - math.log(3) / math.log(2)) < 1e-12)
  }

  // --- boilerplate line removal ---------------------------------------------

  test("removeBoilerplateLines strips heavy lines, keeps order, counts exactly") {
    // 20 docs: shared header on all, banner on evens, unique body, one doc
    // that is ALL boilerplate, one null-text doc, one degenerate doc that
    // repeats its own line 10 times (1 distinct doc — must NOT go heavy)
    val docs = (1 to 20).map { i =>
      val banner = if (i % 2 == 0) "SUBSCRIBE\n" else ""
      (i.toLong, s"HEADER\n${banner}body line $i alpha\nbody line $i beta")
    } ++ Seq((21L, "HEADER\nSUBSCRIBE"), (22L, null.asInstanceOf[String]),
      (23L, Array.fill(10)("selfrepeat").mkString("\n")))
    val df = docs.toDF("doc_id", "text")
    val out = Curation.removeBoilerplateLines(df, "doc_id", "text",
        maxOccurrences = 5)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(out.length == 23, "one row per input doc, empties included")
    val m = out.map(t => t._1 -> t).toMap
    // odd doc: header removed, body survives in order
    assert(m(3L)._2 == "body line 3 alpha\nbody line 3 beta")
    assert(m(3L)._3 == 2 && m(3L)._4 == 1)
    // even doc: header AND banner removed (11 banners > 5)
    assert(m(4L)._2 == "body line 4 alpha\nbody line 4 beta")
    assert(m(4L)._3 == 2 && m(4L)._4 == 2)
    // all-boilerplate doc: empty, everything removed
    assert(m(21L) == ((21L, "", 0L, 2L)))
    // null text = empty text = one empty line, which is NOT heavy (only 1)
    assert(m(22L) == ((22L, "", 1L, 0L)))
    // distinct-doc counting: 10 repeats inside ONE doc stay below the
    // 5-distinct-docs threshold, so the degenerate doc keeps its lines
    assert(m(23L)._3 == 10L && m(23L)._4 == 0L,
      "a single doc's self-repeats must not become corpus-wide boilerplate")
  }

  test("removeBoilerplateLines broadcasts the heavy set and is partitioning-invariant") {
    val docs = (1 to 30).map(i => (i.toLong, s"NAV BAR\nunique $i one\nunique $i two"))
      .toDF("doc_id", "text")
    val plan = Curation.removeBoilerplateLines(docs, "doc_id", "text", 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"heavy-set anti-join must broadcast, got:\n$plan")
    val a = Curation.removeBoilerplateLines(docs, "doc_id", "text", 5)
      .collect().map(_.toString).sorted.toSeq
    val b = Curation.removeBoilerplateLines(docs.repartition(7), "doc_id", "text", 5)
      .collect().map(_.toString).sorted.toSeq
    assert(a == b, "result must not depend on input partitioning")
  }
}
