package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.CachedEntries
import org.apache.spark.sql.types.IntegerType
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.SimHash64
import graft.ops.Dedup

class DedupSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("exact dedup keeps min id and counts copies") {
    val df = Seq((1L, "aaa"), (2L, "bbb"), (3L, "aaa"), (4L, "aaa")).toDF("id", "text")
    val got = Dedup.exact(df, "id", "text").orderBy($"id").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 3L), (2L, 1L)))
  }

  test("wordShingles builds distinct n-grams and handles short texts") {
    val df = Seq("a b c d", "a b", "").toDF("text")
    val got = df.select(Dedup.wordShingles($"text", 3)).as[Seq[String]].collect()
    assert(got(0) == Seq("a b c", "b c d"))
    assert(got(1).isEmpty)
    assert(got(2).isEmpty)
  }

  test("WordNGrams expression equals the native Catalyst composition on whitespace edge cases") {
    val rnd = new scala.util.Random(7)
    val pieces = Array("a", "bb", "ccc", " ", "  ", "\t", "\n")
    val texts = Seq("", " ", "a", " a", "a ", "a  b", " a b ", "\ta\nb\t") ++
      (0 until 200).map(_ => (0 until rnd.nextInt(12)).map(_ => pieces(rnd.nextInt(pieces.length))).mkString)
    val df = texts.toDF("text")
    for (n <- Seq(1, 2, 3)) {
      val pairs = df.select(
        Dedup.wordShingles($"text", n).as("fast"),
        Dedup.wordShinglesNative($"text", n).as("ref")).collect()
      pairs.zip(texts).foreach { case (r, t) =>
        assert(r.getSeq[String](0) == r.getSeq[String](1),
          s"n=$n text=${t.replace("\n", "\\n").replace("\t", "\\t")}'")
      }
    }
  }

  test("ngramJaccardPairs matches per-pair array jaccard on planted dups") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"), // near-dup of 1
      (3L, "completely different words appear in this one here"),
      (4L, "the quick brown fox jumps over the lazy dog")  // exact dup of 1
    ).toDF("doc_id", "text")
    val got = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 0.3)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L), (1L, 4L), (2L, 4L)))
    val jac14 = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 0.3)
      .filter($"id_a" === 1 && $"id_b" === 4).select($"jaccard").as[Double].head()
    assert(jac14 == 1.0)
  }

  test("ngramJaccardPairs maxDf: exact jaccard of the RARE-shingle sets; all-hot-shingle docs stop pairing") {
    // 40 adversarial docs of nothing but the same boilerplate (every
    // shingle df = 40) + two genuinely similar rare docs that also
    // carry the boilerplate prefix
    val boiler = "all your base are belong to us now then"
    val docs = ((0L until 40L).map(i => (i, boiler)) ++ Seq(
      (100L, s"$boiler zebra quagga okapi gnu eland kudu"),
      (101L, s"$boiler zebra quagga okapi gnu eland oryx"))).toDF("doc_id", "text")
    // uncapped: the boilerplate block is a quadratic 40-choose-2 clique
    val uncapped = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 0.5)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(uncapped.count(p => p._1 < 40 && p._2 < 40) == 40 * 39 / 2)
    // capped at df <= 10: boilerplate shingles leave the universe — the
    // clique vanishes, the rare pair survives with the jaccard of its
    // RARE shingle sets (brute-force recomputed below)
    val capped = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 0.5, maxDf = Some(10))
      .select($"id_a", $"id_b", $"jaccard").as[(Long, Long, Double)].collect()
    assert(capped.map(p => (p._1, p._2)).toSet == Set((100L, 101L)))
    // brute force over the filtered sets: shingles with df <= 10
    def sh(t: String) = t.split("\\s+").sliding(3).map(_.mkString(" ")).toSet
    val all = ((0L until 40L).map(_ => boiler) ++ Seq(
      s"$boiler zebra quagga okapi gnu eland kudu",
      s"$boiler zebra quagga okapi gnu eland oryx")).map(sh)
    val dfCount = all.flatten.groupBy(identity).view.mapValues(_.size).toMap
    val a = sh(s"$boiler zebra quagga okapi gnu eland kudu").filter(dfCount(_) <= 10)
    val b = sh(s"$boiler zebra quagga okapi gnu eland oryx").filter(dfCount(_) <= 10)
    val expect = a.intersect(b).size.toDouble / a.union(b).size
    assert(math.abs(capped.head._3 - expect) < 1e-12)
  }

  test("cross-corpus jaccard join equals the self-join restricted to cross pairs; overlapping id spaces are safe") {
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
    val l = docs.filter($"doc_id" % 2 === 0)
    val r = docs.filter($"doc_id" % 2 =!= 0)
    val cross = Dedup.ngramJaccardJoin(l, "doc_id", "text", r, "doc_id", "text", 0.2)
      .as[(Long, Long, Double)].collect().toSet
    // the self-join over the union finds all pairs; its cross-side slice
    // (one even id, one odd — in either order, renormalized to L,R) must
    // be exactly what the bipartite join emits
    val self = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 0.2)
      .as[(Long, Long, Double)].collect()
      .filter { case (a, b, _) => a % 2 != b % 2 }
      .map { case (a, b, j) => if (a % 2 == 0) (a, b, j) else (b, a, j) }.toSet
    assert(cross == self, "bipartite join must equal the cross-side slice of the self-join")
    assert(cross.nonEmpty, "fixture must exercise cross-corpus pairs")
    // identical id values on both sides must not alias: doc 1's text on
    // BOTH sides under the SAME id still reports the (1, 1) pair
    val one = docs.filter($"doc_id" === 1)
    val dup = Dedup.ngramJaccardJoin(one, "doc_id", "text", one, "doc_id", "text", 0.9)
      .as[(Long, Long, Double)].collect().toSeq
    assert(dup == Seq((1L, 1L, 1.0)), s"got $dup")
  }

  test("prefix+length+positional filtering never loses a pair: randomized brute-force cross-check") {
    // adversarial guard for the candidate filters (length + positional):
    // they must only ever PRUNE non-qualifying pairs. Random small-vocab
    // corpora maximize overlap structure; checked at three thresholds
    // including one high enough for the filters to bite hard.
    val rnd = new scala.util.Random(11)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
    def mkDocs(n: Int, off: Long) = (0 until n).map { i =>
      val len = 3 + rnd.nextInt(12)
      (off + i, Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    def shingles(t: String, n: Int): Set[String] = {
      val w = t.split("\\s+")
      if (w.length < n) Set.empty
      else w.sliding(n).map(_.mkString(" ")).toSet
    }
    def jac(a: Set[String], b: Set[String]): Double =
      if (a.isEmpty || b.isEmpty) 0.0
      else a.intersect(b).size.toDouble / a.union(b).size
    val docsA = mkDocs(60, 0)
    val docsB = mkDocs(60, 1000)
    val all = (docsA ++ docsB).toDF("doc_id", "text")
    val shMap = (docsA ++ docsB).map { case (id, t) => id -> shingles(t, 3) }.toMap
    for (t <- Seq(0.3, 0.5, 0.8)) {
      val expectedSelf = (for {
        (a, sa) <- shMap; (b, sb) <- shMap
        if a < b && sa.nonEmpty && sb.nonEmpty && jac(sa, sb) >= t
      } yield (a, b)).toSet
      val gotSelf = Dedup.ngramJaccardPairs(all, "doc_id", "text", t)
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      assert(gotSelf == expectedSelf, s"self-join pairs diverge at t=$t")
      val expectedCross = (for {
        (a, _) <- docsA; (b, _) <- docsB
        if shMap(a).nonEmpty && shMap(b).nonEmpty && jac(shMap(a), shMap(b)) >= t
      } yield (a, b)).toSet
      val gotCross = Dedup.ngramJaccardJoin(
          docsA.toDF("doc_id", "text"), "doc_id", "text",
          docsB.toDF("doc_id", "text"), "doc_id", "text", t)
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      assert(gotCross == expectedCross, s"bipartite pairs diverge at t=$t")
    }
  }

  test("minhash LSH pairs are a subset of exact pairs with full recall on planted dups") {
    val docs = Tables.documents(spark, sf)
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 0.2)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashNearDupPairs(docs, "doc_id", "text", 0.2)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact))
    // full recall is only a sound assertion where the S-curve is ~1:
    // with 8 bands of 4 the detection probability 1-(1-j^4)^8 is ~40%
    // at j=0.5 but >99.9% at j=0.9 — asserting at 0.5 would hold on the
    // current fixture only by luck of the planted dups' similarity
    val strong = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 0.9)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(strong.subsetOf(lsh), s"missed strong pairs: ${strong -- lsh}")
    assert(strong.nonEmpty, "fixture must plant at least one j>=0.9 pair")
  }

  test("connected components match hand-computed clusters; survivors keep min-id per cluster") {
    // chain 1-2-3 plus 7-3 (one component, diameter > 1 exercises
    // multi-round propagation), pair 5-6, and doc 9 in no pair
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (3L, 7L)).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(pairs).as[(Long, Long)].collect().toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 1L, 5L -> 5L, 6L -> 5L))
    val docs = Seq(1L, 2L, 3L, 5L, 6L, 9L).toDF("doc_id")
    val surv = Dedup.nearDupSurvivors(docs, "doc_id", pairs).as[Long].collect().toSet
    assert(surv == Set(1L, 5L, 9L), "keep the min id per cluster plus untouched docs")
    // no pairs → everything survives (and the loop terminates immediately)
    val noPairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.nearDupSurvivors(docs, "doc_id", noPairs).count() == docs.count())
    // INT ids: same clusters, the id type kept
    val intComp = Dedup.connectedComponents(
      Seq((1, 2), (2, 3), (5, 6), (3, 7)).toDF("id_a", "id_b"))
    assert(intComp.schema.map(_.dataType) == Seq(IntegerType, IntegerType))
    assert(intComp.as[(Int, Int)].collect().toMap ==
      Map(1 -> 1, 2 -> 1, 3 -> 1, 7 -> 1, 5 -> 5, 6 -> 5))
    // STRING ids: the representative is the min in Spark's string order,
    // so "10" (not "9") leads the chain 9-10-11, and U+FF61 (first by
    // UTF-8 bytes) leads U+1F600 (first by UTF-16 units)
    val (hi, emoji) = ("｡", "😀")
    val strPairs = Seq(("9", "10"), ("11", "10"), (emoji, hi), ("b", "a")).toDF("id_a", "id_b")
    val strComp = Dedup.connectedComponents(strPairs).as[(String, String)].collect().toMap
    assert(strComp == Map("9" -> "10", "10" -> "10", "11" -> "10",
      hi -> hi, emoji -> hi, "a" -> "a", "b" -> "a"))
    val strDocs = Seq("9", "10", "11", hi, emoji, "a", "b", "z").toDF("doc_id")
    assert(Dedup.nearDupSurvivors(strDocs, "doc_id", strPairs).as[String].collect().toSet ==
      Set("10", hi, "a", "z"))
  }

  test("connected components: id columns resolve case-insensitively; a pair with a null id joins no cluster") {
    val pairs = Seq((Some(1L), None), (Some(2L), Some(3L)), (None, Some(4L)))
      .toDF("ID_A", "ID_B")
    assert(Dedup.connectedComponents(pairs).as[(Long, Long)].collect().toMap ==
      Map(2L -> 2L, 3L -> 2L))
    val docs = Seq(1L, 2L, 3L, 4L).toDF("doc_id")
    assert(Dedup.nearDupSurvivors(docs, "doc_id", pairs).as[Long].collect().toSet ==
      Set(1L, 2L, 4L))
    // the same through the encoded (non-BIGINT) path
    val strPairs = Seq(("x", null), ("y", "z")).toDF("ID_A", "ID_B")
    assert(Dedup.connectedComponents(strPairs).as[(String, String)].collect().toMap ==
      Map("y" -> "y", "z" -> "y"))
  }

  test("softDedupWeights: 1/cluster_size per member, mass 1 per cluster, singletons weigh 1.0") {
    // component {1,2,3,7} (size 4), {5,6} (size 2), 9 unclustered
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (3L, 7L)).toDF("id_a", "id_b")
    val docs = Seq(1L, 2L, 3L, 5L, 6L, 7L, 9L).toDF("doc_id")
    val got = Dedup.softDedupWeights(docs, "doc_id", pairs)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(Seq(1L, 2L, 3L, 7L).forall(got(_) == ((4L, 250000L))))
    assert(Seq(5L, 6L).forall(got(_) == ((2L, 500000L))))
    assert(got(9L) == ((1L, 1000000L)))
    // each cluster contributes total sampling mass ~1 (sum by the REAL
    // cluster membership, not by size — two same-size clusters must
    // not pool); micros quantization bounds the drift by n/2 µ
    val clusters = Seq(Seq(1L, 2L, 3L, 7L), Seq(5L, 6L), Seq(9L))
    clusters.foreach { c =>
      val mass = c.map(got(_)._2).sum
      assert(math.abs(mass - 1000000L) <= c.size / 2 + 1,
        s"cluster $c mass $mass")
    }
  }

  test("nearDupSurvivorsByQuality: the best-scored member survives, not min-id") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val docs = Seq(
      (1L, 0.2), (2L, 0.9), (3L, 0.5),  // cluster {1,2,3}: 2 wins
      (5L, 0.4), (6L, 0.4),             // tie → smaller id 5 wins
      (9L, 0.0)).toDF("doc_id", "q")    // unpaired: untouched
    val surv = graft.ops.Dedup
      .nearDupSurvivorsByQuality(docs, "doc_id", "q", pairs)
      .select($"doc_id").as[Long].collect().toSet
    assert(surv == Set(2L, 5L, 9L), s"got $surv")
    // the rank cuts on the ROUNDED score: a sub-1e-6 edge cannot flip it
    val near = Seq((1L, 0.5000000001), (2L, 0.5)).toDF("doc_id", "q")
    val s2 = graft.ops.Dedup
      .nearDupSurvivorsByQuality(near, "doc_id", "q",
        Seq((1L, 2L)).toDF("id_a", "id_b"))
      .select($"doc_id").as[Long].collect().toSet
    assert(s2 == Set(1L), "rounded-equal scores break by id")
  }

  test("connected components converge in O(log n) rounds on a 10^4-node path graph") {
    // the adversarial worst case for plain min-label propagation: one
    // chain of 10,000 nodes (diameter 9,999). Its 19,998 directed edges
    // fit one loop partition, so the local union-find solves it before
    // any round; the 10^5-node case below needs the rounds.
    // connectedComponents throws when it exhausts maxIters unconverged.
    val n = 10000
    val pairs = spark.range(n - 1).select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
    val comp = Dedup.connectedComponents(pairs, maxIters = 20)
    assert(comp.count() == n)
    assert(comp.filter(col("component") =!= 0).count() == 0, "single chain: every node labels to 0")
    // the same chain over STRING ids: the encoding keeps the id order,
    // so the representative is the min id
    val strPairs = pairs.select(format_string("%05d", col("id_a")).as("id_a"),
      format_string("%05d", col("id_b")).as("id_b"))
    val strComp = Dedup.connectedComponents(strPairs, maxIters = 20)
    assert(strComp.count() == n)
    assert(strComp.filter(col("component") =!= "00000").count() == 0,
      "single chain: every node labels to 00000")
  }

  test("connected components: a 10^5-node chain over 4 loop partitions converges within 20 rounds") {
    // 2·(10^5 − 1) directed edges make 1 + (nEdges >> 16) = 4 loop
    // partitions, so the local contraction leaves the chain to the
    // rounds; maxIters = 20 is the round-count assertion
    val n = 100000
    val pairs = spark.range(n - 1).select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
    val comp = Dedup.connectedComponents(pairs, maxIters = 20)
    assert(comp.count() == n)
    assert(comp.filter(col("component") =!= 0).count() == 0, "single chain: every node labels to 0")
    // over STRING ids the encoding must keep the id order for the round
    // bound to hold (codes in any other order do not converge in 20)
    val strPairs = pairs.select(format_string("%06d", col("id_a")).as("id_a"),
      format_string("%06d", col("id_b")).as("id_b"))
    val strComp = Dedup.connectedComponents(strPairs, maxIters = 20)
    assert(strComp.count() == n)
    assert(strComp.filter(col("component") =!= "000000").count() == 0,
      "single chain: every node labels to 000000")
  }

  test("connected components equal a driver-side union-find at 1 and 4 loop partitions, BIGINT and STRING ids") {
    val rnd = new scala.util.Random(20261019L)
    val extremes = Seq(Long.MinValue, Long.MinValue + 1, -1L, 0L, Long.MaxValue - 1, Long.MaxValue)
    // an order-preserving string form of a Long: the unsigned hex of the
    // sign-flipped value, so Spark's string min is the Long min
    def str(id: Long): String = f"${id ^ Long.MinValue}%016x"
    // about 1,800 pairs make one loop partition; about 120,000 make
    // 2.4·10^5 directed edges and so 4 (the session has 4 shuffle
    // partitions), with a giant component that needs rounds
    for (nPairs <- Seq(1500, 100000)) {
      val pool = extremes ++ Seq.fill(nPairs * 3 / 2)(rnd.nextLong() >> rnd.nextInt(60))
      def pick(): Long = pool(rnd.nextInt(pool.length))
      val base = Seq.fill(nPairs)((pick(), pick()))
      // duplicates, reversed pairs, self-pairs on paired nodes, and one
      // node whose only pair is a self-pair
      val lone = 4242424242L
      val pairs = base ++ base.take(nPairs / 10) ++ base.take(nPairs / 10).map(_.swap) ++
        base.take(20).map(p => (p._1, p._1)) ++ extremes.zip(extremes.reverse) :+ ((lone, lone))
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      for ((a, b) <- pairs) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = parent.keys.toSeq.map(id => id -> find(id)).toMap
      assert(want(lone) == lone)
      val got = Dedup.connectedComponents(pairs.toDF("id_a", "id_b"), maxIters = 20)
        .as[(Long, Long)].collect()
      assert(got.length == want.size, s"$nPairs pairs: one row per node")
      assert(got.toMap == want, s"$nPairs pairs")
      val strGot = Dedup.connectedComponents(
          pairs.map { case (a, b) => (str(a), str(b)) }.toDF("id_a", "id_b"), maxIters = 20)
        .as[(String, String)].collect()
      assert(strGot.toMap == want.map { case (id, c) => str(id) -> str(c) }, s"$nPairs STRING pairs")
    }
  }

  test("job budget: BIGINT connected components on a 2,000-node chain") {
    // 14 jobs before the local contraction (the edge count, the init, 11
    // rounds and the collect); the contraction solves a one-partition
    // graph outright, leaving the edge count, the init and the collect
    val pairs = (0 until 1999).map(i => (i.toLong, i + 1L)).toDF("id_a", "id_b")
    val (comp, jobs) = jobsOf(Dedup.connectedComponents(pairs, maxIters = 20).collect())
    assert(comp.length == 2000 && comp.forall(_.getLong(1) == 0L))
    assert(jobs <= 3, s"BIGINT CC ran $jobs jobs (budget 3)")
  }

  test("job budget: string-id connected components on a 2,000-node chain") {
    // 79 jobs at the Catalyst loop this replaced, 21 through the encoded
    // RDD loop, 10 after the local contraction; the count does not
    // depend on the machine
    val pairs = (0 until 1999).map(i => (f"$i%04d", f"${i + 1}%04d")).toDF("id_a", "id_b")
    val (comp, jobs) = jobsOf(Dedup.connectedComponents(pairs, maxIters = 20).collect())
    assert(comp.length == 2000 && comp.forall(_.getString(1) == "0000"))
    assert(jobs <= 10, s"string-id CC ran $jobs jobs (budget 10)")
  }

  test("connected components and the n-gram/MinHash pair builders release persisted data when a job fails") {
    val sc = spark.sparkContext
    val boom = udf((s: String) => if (s == "boom") throw new IllegalStateException("boom") else s)
    // over a range, not a local relation, which the optimizer would
    // evaluate while planning: here the job that materializes fails.
    // Each call gets its own ids, so a cache one call leaves cannot
    // stand in for another call's.
    val texts = array(lit("a b c d"), lit("boom"), lit("a b c e"))
    def docs(from: Long) = spark.range(from, from + 3).select(col("id"),
      boom(element_at(texts, (col("id") - from + 1).cast("int"))).as("text"))
    val boomId = udf((x: Long) => if (x == 3L) throw new IllegalStateException("boom") else x)
    val pairs = spark.range(2).select(boomId(col("id") * 2 + 1).as("id_a"), (col("id") * 2 + 2).as("id_b"))
    // the store-side checks read a store and its sidecar, built here
    // from rows that do not throw
    val root = java.nio.file.Files.createTempDirectory("dedup-leak").toString
    val plain = Seq((1L, "a b c d"), (2L, "a b c e")).toDF("id", "text")
    graft.ops.VersionedStore.append(spark, s"$root/t", plain)
    Dedup.buildMinhashSidecarForStore(spark, s"$root/t", "id", "text", s"$root/mh")
    graft.ops.VersionedStore.append(spark, s"$root/e",
      Seq((1L, Array(1f, 0f)), (2L, Array(0f, 1f))).toDF("id", "embedding"))
    Dedup.buildSrpSidecarForStore(spark, s"$root/e", "id", "embedding", s"$root/srp")
    val boomVec = udf((x: Long) =>
      if (x == 91L) throw new IllegalStateException("boom") else Array(1f, 0f))
    val embBatch = spark.range(90, 93).select(col("id"), boomVec(col("id")).as("embedding"))
    val calls = Seq[(String, () => Any)](
      "connectedComponents" -> (() => Dedup.connectedComponents(pairs)),
      "minhashNearDupPairs" -> (() => Dedup.minhashNearDupPairs(docs(10), "id", "text", 0.5)),
      "ngramJaccardPairs" -> (() => Dedup.ngramJaccardPairs(docs(20), "id", "text", 0.5)),
      "ngramJaccardJoin" -> (() =>
        Dedup.ngramJaccardJoin(docs(30), "id", "text", docs(40), "id", "text", 0.5)),
      "simhashNearDupPairs" -> (() => Dedup.simhashNearDupPairs(docs(50), "id", "text")),
      "removeDuplicatedSpans" -> (() => Dedup.removeDuplicatedSpans(docs(60), "id", "text", k = 2)),
      "nearDupAgainstStore" -> (() =>
        Dedup.nearDupAgainstStore(spark, docs(70), "id", "text", s"$root/t", s"$root/mh", 0.5)),
      "embNearDupAgainstStore" -> (() => Dedup.embNearDupAgainstStore(spark, embBatch,
        "id", "embedding", s"$root/e", s"$root/srp", 0.5)),
      "contaminatedIdsBloom" -> (() =>
        Dedup.contaminatedIdsBloom(plain, "id", "text", docs(80), "text", n = 2)))
    val leaks = calls.map { case (name, call) =>
      val (rdds, entries) = (sc.getPersistentRDDs.keySet, CachedEntries(spark))
      val e = intercept[Exception](call())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => Option(t.getMessage).exists(_.contains("boom"))), s"$name: $e")
      (name, (sc.getPersistentRDDs.keySet -- rdds).size,
        CachedEntries(spark) - entries)
    }
    assert(leaks.forall(l => l._2 == 0 && l._3 == 0),
      s"(call, persisted RDDs, cached Datasets) left behind: $leaks")
  }

  test("connected components release persisted data when the loop fails after its first job") {
    // a 40,000-node chain makes 2 loop partitions, so the loop persists
    // its input blocks, the contracted blocks and the labels of each
    // round before maxIters = 1 runs out. The ids are hashed: on ids
    // 0, 1, 2, … the even partition holds every edge of the chain and its
    // union-find alone solves it.
    val sc = spark.sparkContext
    val n = 40000
    val pairs = spark.range(n - 1)
      .select(xxhash64(col("id")).as("id_a"), xxhash64(col("id") + 1).as("id_b"))
    val strPairs = pairs.select(col("id_a").cast("string").as("id_a"),
      col("id_b").cast("string").as("id_b"))
    for ((name, in) <- Seq("BIGINT" -> pairs, "STRING" -> strPairs)) {
      val (rdds, entries) = (sc.getPersistentRDDs.keySet, CachedEntries(spark))
      val e = intercept[IllegalStateException](Dedup.connectedComponents(in, maxIters = 1))
      assert(e.getMessage.contains("did not converge after 1 rounds"), s"$name: $e")
      val left = (sc.getPersistentRDDs.keySet -- rdds).size
      assert(left == 0 && CachedEntries(spark) == entries,
        s"$name: $left persisted RDDs left behind")
    }
  }

  test("simhash banded pairs equal brute-force all-pairs at the pigeonhole-complete threshold") {
    // pigeonhole (bands = 4 > maxHamming = 3) makes the banded join
    // EXACT, not approximate — assert full equality with the quadratic
    // reference on the real corpus sample
    val docs = Tables.documents(spark, sf).limit(200)
    val got = Dedup.simhashNearDupPairs(docs, "doc_id", "text", maxHamming = 3, bands = 4)
      .as[(Long, Long, Int)].collect().toSet
    val h = docs.select($"doc_id".as("id"),
      graft.functions.SimHash64.simhash64(split(trim($"text"), "\\s+")).as("h"))
    val want = h.as("a").join(h.as("b"), $"a.id" < $"b.id")
      .select($"a.id", $"b.id",
        graft.functions.SimHash64.hamming64($"a.h", $"b.h").as("d"))
      .filter($"d" <= 3)
      .as[(Long, Long, Int)].collect().toSet
    assert(got == want, "banded candidate generation must find every pair within maxHamming")
    assert(want.nonEmpty, "fixture should contain simhash-close pairs")
  }

  test("decontaminate drops exactly the corpus docs sharing an n-gram with the eval set") {
    val eval = Seq((100L, "the quick brown fox jumps high")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "something about the quick brown fox here"), // shares "the quick brown fox"
      (2L, "completely unrelated words in this doc"),
      (3L, "quick brown fox jumps away")                // shares "quick brown fox jumps"
    ).toDF("doc_id", "text")
    val bad = Dedup.contaminatedIds(corpus, "doc_id", "text", eval, "text", n = 4)
      .as[Long].collect().toSet
    assert(bad == Set(1L, 3L))
    val surv = Dedup.decontaminate(corpus, "doc_id", "text", eval, "text", n = 4)
      .select($"doc_id").as[Long].collect().toSet
    assert(surv == Set(2L))
    // docs with < n words have no n-grams and always survive
    val short = Seq((4L, "quick brown fox")).toDF("doc_id", "text")
    assert(Dedup.decontaminate(short, "doc_id", "text", eval, "text", n = 4).count() == 1)
  }

  test("jaccard_sorted is SQL-registered") {
    graft.functions.SetFunctions.register(spark)
    val r = spark.sql(
      """SELECT jaccard_sorted(array_sort(array('a','b','c')),
        |                      array_sort(array('b','c','d'))) AS j""".stripMargin)
      .head().getDouble(0)
    assert(r == 0.5)
  }

  test("jaccard_sorted merge scan equals the intersect/union composition, codegen ≡ interpreted") {
    val rnd = new scala.util.Random(3)
    val vocab = (0 until 40).map(i => s"w$i")
    val rows = (0 until 300).map { _ =>
      (rnd.shuffle(vocab).take(rnd.nextInt(vocab.size)),
        rnd.shuffle(vocab).take(rnd.nextInt(vocab.size)))
    } :+ ((Seq("x"), Seq.empty[String]))
    val df = rows.toDF("a0", "b0")
      .select(array_sort($"a0").as("a"), array_sort($"b0").as("b"))
    def values(): Seq[(Double, Double)] = df.select(
        graft.functions.SetFunctions.jaccardSorted($"a", $"b"),
        size(array_intersect($"a", $"b")).cast("double") / size(array_union($"a", $"b")))
      .collect().map(r => (r.getDouble(0), r.getDouble(1))).toSeq
    def same(x: Double, y: Double): Boolean = x == y || (x.isNaN && y.isNaN)
    val gen = values()
    gen.foreach { case (x, y) => assert(same(x, y), s"$x != $y") }
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val interp = values()
      gen.zip(interp).foreach { case ((x, _), (ix, _)) =>
        assert(same(x, ix), "doGenCode must match nullSafeEval")
      }
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    // empty ∩ empty: the kernel yields NaN (total function; the ANSI
    // built-in composition would throw DIVIDE_BY_ZERO) — dropped by any
    // `>= t` filter, as the verify step applies
    val nan = Seq((Seq.empty[String], Seq.empty[String])).toDF("a", "b")
      .select(graft.functions.SetFunctions.jaccardSorted($"a", $"b"))
      .head().getDouble(0)
    assert(nan.isNaN)
  }

  test("simhash: identical tokens → identical hash; near-identical → small hamming distance") {
    val df = Seq(
      (1L, "spark catalyst optimizes declarative query plans for distributed execution engines"),
      (2L, "spark catalyst optimizes declarative query plans for distributed execution engines"),
      (3L, "spark catalyst optimizes declarative query plans for distributed storage engines"),
      (4L, "entirely unrelated content about cooking pasta with garlic and fresh basil leaves")
    ).toDF("id", "text")
      .select($"id", SimHash64.simhash64(split($"text", "\\s+")).as("h"))
    val h = df.as[(Long, Long)].collect().toMap
    assert(h(1L) == h(2L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(h(1L), h(3L)) <= 16, s"near-dup hamming ${ham(h(1L), h(3L))}")
    assert(ham(h(1L), h(4L)) > ham(h(1L), h(3L)))
  }

  test("semantic decontamination: near-copies of eval vectors leak, orthogonal survive, no shuffle, bounded collect") {
    import org.apache.spark.sql.functions.col
    // eval: two unit axes; corpus: a near-copy of each (leaks), an
    // orthogonal axis and an opposite vector (survive at 0.8)
    val ev = Seq((0L, Seq(1f, 0f, 0f, 0f)), (1L, Seq(0f, 1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val corpus = Seq(
      (10L, Seq(0.9f, 0.1f, 0f, 0f)),   // ~eval 0
      (11L, Seq(0.05f, 1f, 0f, 0f)),    // ~eval 1
      (12L, Seq(0f, 0f, 1f, 0f)),       // orthogonal
      (13L, Seq(-1f, 0f, 0f, 0f)),      // anti-aligned
      (14L, null.asInstanceOf[Seq[Float]]) // no embedding — cannot leak
    ).toDF("vec_id", "embedding")
    val vecs = Dedup.collectEvalVectors(ev, "embedding")
    val rep = Dedup.semanticContamination(corpus, "embedding", vecs, 0.8)
    val leaked = rep.filter(col("leaked")).select($"vec_id").as[Long].collect().toSet
    assert(leaked == Set(10L, 11L))
    // a row with NO embedding cannot be implicated and must SURVIVE
    // (three-valued logic would silently drop it on a bare !leaked)
    val survivors = Dedup.decontaminateSemantic(corpus, "embedding", ev,
      "embedding", 0.8).select($"vec_id").as[Long].collect().toSet
    assert(survivors == Set(12L, 13L, 14L))
    // the report is a pure narrow map — no join, no shuffle in the plan
    val plan = rep.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      s"semantic contamination must not shuffle:\n$plan")
    // the eval collect refuses a corpus-sized argument loudly
    val big = spark.range(100).select($"id".as("vec_id"),
      org.apache.spark.sql.functions.array(
        org.apache.spark.sql.functions.lit(1f)).as("embedding"))
    val e = intercept[IllegalArgumentException] {
      Dedup.collectEvalVectors(big, "embedding", maxRows = 50)
    }
    assert(e.getMessage.contains("exceeds"))
  }

  test("embedding LSH near-dup pairs are a subset of exact pairs") {
    val emb = Tables.embeddings(spark, sf)
    val exact = Dedup.embeddingNearDupPairs(emb, "vec_id", "embedding", 0.3)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.embeddingNearDupLsh(emb, "vec_id", "embedding", 0.3, nTables = 6, nBits = 6)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact))
    assert(lsh.nonEmpty == exact.nonEmpty)
  }

  test("removeDuplicatedSpans strips cross-doc and within-doc k-gram runs, nothing else") {
    val shared = (1 to 10).map(i => s"s$i").mkString(" ") // a 10-token run
    val docs = Seq(
      (1L, s"alpha one two $shared tail1 t1b"),   // shares the run with doc 2
      (2L, s"$shared beta three four five xx"),
      (3L, "totally unique text with eight tokens here ok yes"), // untouched
      (4L, "tiny doc"),                            // < k tokens: untouched
      (5L, s"selfrep $shared middle filler words $shared end")) // within-doc repeat
      .toDF("doc_id", "text")
    val out = Dedup.removeDuplicatedSpans(docs, "doc_id", "text", k = 8)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // the shared 10-token run covers all its 8-gram windows => the whole
    // run goes, in every doc that carries it; neighbors survive
    assert(out(1L)._1 == "alpha one two tail1 t1b")
    assert(out(1L)._3 == 10)
    assert(out(2L)._1 == "beta three four five xx")
    assert(out(3L) == (("totally unique text with eight tokens here ok yes", 9L, 0L)))
    assert(out(4L) == (("tiny doc", 2L, 0L)))
    // within-doc: BOTH occurrences of the run are covered
    assert(out(5L)._1 == "selfrep middle filler words end")
    assert(out(5L)._3 == 20)
    // partitioning invariance
    val b = Dedup.removeDuplicatedSpans(docs.repartition(7), "doc_id", "text", k = 8)
      .collect().map(_.toString).sorted.toSeq
    val a = Dedup.removeDuplicatedSpans(docs, "doc_id", "text", k = 8)
      .collect().map(_.toString).sorted.toSeq
    assert(a == b)
  }

  test("semanticDedup: within-cluster pairs found, cross-cluster blind by design") {
    // two axis-aligned centroids; c/d share centroid 0 and are near-dups
    // (paired); a/b are cosine-similar but straddle the cluster boundary
    // (NOT paired — SemDeDup's documented recall trade); e is null
    val model = graft.ops.Ivf.IvfModel(Array(
      Array(1f, 0f), Array(0f, 1f)))
    val emb = Seq(
      (10L, Some(Seq(0.98f, 0.9f))),  // → cluster 0
      (11L, Some(Seq(0.9f, 0.98f))),  // → cluster 1; cos(10,11) ≈ 0.996
      (12L, Some(Seq(1.0f, 0.1f))),   // → cluster 0
      (13L, Some(Seq(0.95f, 0.12f))), // → cluster 0; cos(12,13) ≈ 0.9997
      (14L, None: Option[Seq[Float]]) // null: no cluster, never pairs
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.semanticDedupPairs(emb, "vec_id", "embedding", model, 0.95)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(pairs == Set((12L, 13L)))
    // the cross-cluster near-dup (10,11) IS a global exact pair at the
    // same threshold — exactly the pair cluster-scoping gives up
    val exact = Dedup.embeddingNearDupPairs(
        emb.filter($"embedding".isNotNull), "vec_id", "embedding", 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(exact.keySet == Set((10L, 11L), (12L, 13L)))
    // every semantic pair is an exact global pair with the identical sim
    val semWithSim = Dedup.semanticDedupPairs(emb, "vec_id", "embedding", model, 0.95)
      .collect().map(r => (r.getLong(1), r.getLong(2)) -> r.getDouble(3)).toMap
    semWithSim.foreach { case (k, s) => assert(exact(k) == s) }
    // survivors: min-id per component kept; unpaired and null untouched
    val surv = Dedup.semanticDedup(emb, "vec_id", "embedding", model, 0.95)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    assert(surv == Set(10L, 11L, 12L, 14L))
    // the standalone auto form is exactly semanticDedup under fitAuto's
    // model (the k ∝ √N entry point for store-less corpora)
    val autoSurv = Dedup.semanticDedupAuto(emb, "vec_id", "embedding", 0.95)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    val (autoModel, _) = graft.ops.Ivf.fitAuto(emb, "vec_id", "embedding")
    val manualSurv = Dedup.semanticDedup(emb, "vec_id", "embedding",
        autoModel, 0.95)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    assert(autoSurv == manualSurv)
  }

  test("lshBandPlan: one row per divisor, capture monotone in bands, sane choice") {
    val plan = Dedup.lshBandPlan(spark, numHashes = 32, threshold = 0.8)
      .orderBy($"bands").collect()
    assert(plan.map(_.getInt(0)).toSeq == Seq(1, 2, 4, 8, 16, 32))
    plan.foreach(r => assert(r.getInt(0) * r.getInt(1) == 32))
    // more bands -> higher capture probability at ANY similarity
    val pAt = plan.map(_.getDouble(3))
    assert(pAt.zip(pAt.tail).forall { case (a, b) => a <= b })
    // a useful plan separates above from below the threshold
    val chosen = plan.filter(_.getBoolean(6))
    assert(chosen.length == 1)
    assert(chosen.head.getDouble(5) > chosen.head.getDouble(4),
      "capture above the threshold must exceed capture below it")
    // inflection of the chosen plan is the closest to the target
    val gaps = plan.map(r => math.abs(r.getDouble(2) - 0.8))
    assert(math.abs(chosen.head.getDouble(2) - 0.8) == gaps.min)
  }

  test("optimalBands: pinned optima, divisor contract, monotone in threshold") {
    // independently recomputed values (1024-pt midpoint integral)
    assert(Dedup.optimalBands(128, 0.9) == 8)
    assert(Dedup.optimalBands(128, 0.5) == 32)
    assert(Dedup.optimalBands(64, 0.8) == 8)
    assert(Dedup.optimalBands(32, 0.2) == 16)
    assert(Dedup.optimalBands(32, 0.9) == 2)
    // the shipped default (numHashes=32, bands=8) IS the auto choice
    // for mid thresholds
    assert(Dedup.optimalBands(32, 0.5) == 8 && Dedup.optimalBands(32, 0.6) == 8)
    for (n <- Seq(16, 32, 64, 128); t <- Seq(0.2, 0.5, 0.8)) {
      val b = Dedup.optimalBands(n, t)
      assert(n % b == 0, s"bands=$b must divide numHashes=$n")
    }
    // tighter thresholds need steeper curves: b non-increasing in t
    val bs = Seq(0.1, 0.3, 0.5, 0.7, 0.9).map(Dedup.optimalBands(128, _))
    assert(bs.zip(bs.tail).forall { case (a, b) => a >= b }, bs.toString)
  }

  test("minhashNearDupPairsAuto: auto banding never loses exact-verified recall vs hand default") {
    val docs = Tables.documents(spark, sf).limit(400)
    val auto = Dedup.minhashNearDupPairsAuto(docs, "doc_id", "text", threshold = 0.2)
      .select($"id_a", $"id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hand = Dedup.minhashNearDupPairs(docs, "doc_id", "text", threshold = 0.2)
      .select($"id_a", $"id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // at t=0.2 the auto rule picks b=16 (r=2) — a higher-recall curve
    // than the hand default b=8 (r=4); both verify exact Jaccard, so
    // auto must dominate
    assert(hand.subsetOf(auto), s"auto lost ${(hand -- auto).size} verified pairs")
    // and every auto pair is a TRUE pair of the exact path
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.2)
      .select($"id_a", $"id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto.subsetOf(exact))
  }
}
