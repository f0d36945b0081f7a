package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.CachedEntries
import org.apache.spark.sql.types.{LongType, StringType}
import org.scalatest.funsuite.AnyFunSuite

import graft.embed.HashEmbedder
import graft.ops.{Chat, Ingest, Keyword}

/** Reads of the "boom" row in the release-on-failure case below: a
  * module, so every task of the local session counts into one value.
  */
private object BoomReads {
  val n = new java.util.concurrent.atomic.AtomicInteger
}

/** The two shapes of reciprocal-rank fusion agree, and the single-question
  * hybrid path stays within its Spark job budget. Job counts do not depend
  * on the machine, so the budget is exact, not a timing.
  */
class HybridFusionSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("rrfFuseRanked equals rrfFuse on the same legs; ties fall in Spark's id order") {
    // 9 and 10 swap ranks between the legs, so they tie on micros:
    // numeric order puts 9 first, string order would put "10" first
    val vecL = Seq(9L, 10L, 3L, 7L)
    val lexL = Seq(10L, 9L, 12L)
    // U+FF61 sorts before U+1F600 by UTF-8 bytes (Spark's string order)
    // but after it by UTF-16 units (java.lang.String.compareTo)
    val (hi, emoji) = ("｡", "😀")
    val vecS = Seq(hi, emoji, "b")
    val lexS = Seq(emoji, hi, "a")
    def frame[K](ids: Seq[K])(implicit enc: org.apache.spark.sql.Encoder[(K, Int)]) =
      ids.zipWithIndex.map { case (id, i) => (id, i + 1) }.toDF("id", "rank")
    for (c <- Seq(0, 1, 60); topK <- Seq(1, 2, 5, 10)) {
      val plan = Keyword.rrfFuse(Seq(frame(vecL), frame(lexL)), "id", "rank", c, topK)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val driver = Keyword.rrfFuseRanked(Seq(vecL, lexL), c, topK)
      assert(driver == plan, s"BIGINT c=$c topK=$topK")
      val planS = Keyword.rrfFuse(Seq(frame(vecS), frame(lexS)), "id", "rank", c, topK)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      val driverS = Keyword.rrfFuseRanked[Any](Seq(vecS, lexS), c, topK)(
        Keyword.sparkOrder(StringType))
      assert(driverS == planS, s"STRING c=$c topK=$topK")
    }
    val top2 = Keyword.rrfFuseRanked[Any](Seq(vecL, lexL), 60, 2)(Keyword.sparkOrder(LongType))
    assert(top2.map(_._1) == Seq(9L, 10L) && top2(0)._2 == top2(1)._2,
      s"the tied pair must fall in numeric order: $top2")
    assert(Keyword.rrfFuseRanked[Any](Seq(vecS, lexS), 60, 2)(Keyword.sparkOrder(StringType))
      .map(_._1) == Seq(hi, emoji), "the tied pair must fall in UTF-8 byte order")
    // nulls sort first, as orderBy(col) puts them
    assert(Seq[Any](2L, null, 1L).sorted(Keyword.sparkOrder(LongType)) == Seq(null, 1L, 2L))
  }

  test("postings schema comes from one footer, equal to Spark's inferred schema") {
    val idx = Files.createTempDirectory("footer-idx").toString
    val docs = Seq((1L, "spark plans queries"), (2L, "parquet stores columns"))
      .toDF("doc_id", "text")
    Keyword.buildLexicalIndex(docs, "doc_id", "text", idx)
    val dir = s"$idx/postings"
    val footer = ParquetFooters.sparkSchema(spark, dir)
      .getOrElse(fail("a Spark-written postings file carries its schema"))
    val inferred = spark.read.parquet(dir).schema
    assert(spark.read.schema(footer.add("bucket", "int")).parquet(dir).schema == inferred)
    // no data file: no footer to read; the reader falls back to Spark's
    // inference, which refuses loudly
    val empty = Files.createTempDirectory("footer-empty").toString
    assert(ParquetFooters.sparkSchema(spark, empty).isEmpty)
    assert(ParquetFooters.sparkSchema(spark, s"$empty/missing").isEmpty)
    Files.createDirectories(java.nio.file.Paths.get(s"$empty/postings"))
    Fs.writeString(spark, s"$empty/_stats", "2 6 8 -")
    val err = intercept[Exception] {
      Keyword.bm25Indexed(spark, empty, Seq("spark"), topK = 2)
    }
    assert(err.getMessage.toLowerCase.contains("infer schema"), err.getMessage)
  }

  test("job budget: indexed hybrid answer runs at most 5 jobs; bm25Indexed plans without a job") {
    val embedder = HashEmbedder(dim = 32)
    val dir = Files.createTempDirectory("graft-jobs").toString
    val cfg = Ingest.StoreConfig("jobs", "hash-32", 200, 0)
    val docs = Seq(
      (1L, "spark catalyst optimizer plans queries"),
      (2L, "spark catalyst rules rewrite plans"),
      (3L, "parquet files store columnar data"),
      (4L, "cooking pasta requires boiling water"),
      (5L, "streaming watermarks bound state growth")
    ).toDF("doc_id", "text")
    Ingest.ingest(spark, docs, "doc_id", "text", dir, cfg, embedder)
    val store = Ingest.readStore(spark, dir, cfg).get
    val table = s"$dir/${cfg.tableName}"
    val idx = Files.createTempDirectory("graft-jobs-lex").toString
    Keyword.buildLexicalIndexForStore(spark, table, "id", "text", idx)
    val st = Chat.SearchType.Hybrid(lexicalIndexPath = Some(idx))
    def ask(q: String) = Chat.answer(spark, q, store, "id", "text", "embedding",
      embedder, topK = 2, searchType = st, indexStorePath = Some(table))
    ask("boiling pasta water") // warm: the first use of a plan may differ
    val (hit, hitJobs) = jobsOf(ask("boiling pasta water"))
    assert(hit.context.contains("pasta") && hit.retrievedIds.size == 2)
    assert(hitJobs <= 5, s"an answerable hybrid question ran $hitJobs jobs (budget 5)")
    // the plan of the lexical leg is built with no job at all: no
    // bucket-lookup job, no postings schema inference
    val (_, planJobs) = jobsOf(Keyword.bm25Indexed(spark, idx, Seq("pasta", "spark"),
      topK = 5, store = Some(table)))
    assert(planJobs == 0, s"building the bm25Indexed plan ran $planJobs jobs")
  }

  test("term buckets hash on the driver exactly as Spark's pmod(xxhash64(t), b)") {
    val terms = Seq("spark", "a", "", "café", "naïve", "東京", "データ", "😀", "a😀b𝄞",
      "x" * 10240)
    for (b <- Seq(1, 7, 4096)) {
      val sql = terms.toDF("t").select(pmod(xxhash64(col("t")), lit(b)).cast("int"))
        .as[Int].collect().toSeq
      assert(Keyword.bucketsOfTerms(terms, b) == sql.distinct, s"buckets = $b")
      assert(terms.map(t => Keyword.bucketsOfTerms(Seq(t), b).head) == sql, s"buckets = $b")
    }
  }

  /** A second driver rewriting the index at `to`, which this process
    * never hears about: the files of `from` replace those of `to`. The
    * rewrite is repeated until `to`'s `_stats` carries a modification
    * time other than the one it had, since on a filesystem whose mtime
    * grain is coarse (one second on some) a rewrite within the grain
    * keeps the old time, and `_stats`'s text and time are all a reader
    * can tell states apart by.
    */
  private def replaceIndex(from: String, to: String): Unit = {
    import java.nio.file.{Path, Paths}
    def walk(p: Path): Seq[Path] = {
      val s = Files.walk(p)
      try { import scala.jdk.CollectionConverters._; s.iterator().asScala.toList } finally s.close()
    }
    def stamp = Fs.modTime(spark, s"$to/_stats")
    val before = stamp
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    do {
      Thread.sleep(5)
      walk(Paths.get(to)).reverse.foreach(Files.delete)
      walk(Paths.get(from)).foreach(p =>
        Files.copy(p, Paths.get(to).resolve(Paths.get(from).relativize(p).toString)))
    } while (stamp == before && System.nanoTime() < deadline)
    assert(stamp != before, s"$to/_stats kept its modification time for 10 s")
  }

  /** A versioned table of four docs and a lexical index builder stamped
    * at its current version; `lex` and `ask` are the lexical leg and a
    * hybrid question over the index at a path.
    */
  private def lexicalFixture(name: String) = {
    import graft.ops.VersionedStore
    val embedder = HashEmbedder(dim = 32)
    val table = Files.createTempDirectory(s"graft-lexstate-$name").toString + "/T"
    val docs = Seq(
      (1L, "spark catalyst optimizer plans queries"),
      (2L, "parquet files store columnar data"),
      (3L, "cooking pasta requires boiling water"),
      (4L, "streaming watermarks bound state growth"))
    def append(rows: Seq[(Long, String)]) = VersionedStore.append(spark, table,
      rows.toDF("doc_id", "text")
        .withColumn("embedding", graft.embed.EmbedText.embedText(col("text"), embedder)))
    append(docs)
    def index(rows: Seq[(Long, String)]): String = {
      val p = Files.createTempDirectory(s"graft-lexstate-$name-idx").toString
      Keyword.buildLexicalIndex(rows.toDF("doc_id", "text"), "doc_id", "text", p,
        buckets = 8, store = Some(table))
      p
    }
    def lex(idx: String) = Keyword.bm25Indexed(spark, idx, Seq("boiling", "pasta"),
      topK = 3, idName = "doc_id", store = Some(table)).as[(Long, Double)].collect().toSeq
    def ask(idx: String) = Chat.answer(spark, "boiling pasta",
      VersionedStore.read(spark, table).get, "doc_id", "text", "embedding", embedder,
      topK = 1, searchType = Chat.SearchType.Hybrid(fetchKPerLeg = 1,
        lexicalIndexPath = Some(idx)), indexStorePath = Some(table))
    (table, docs, append _, index _, lex _, ask _)
  }

  test("prepared lexical plans follow the index: a rebuild in place at the same store version") {
    val (_, docs, _, index, lex, ask) = lexicalFixture("rebuild")
    // the same doc count and lengths as the store's docs, so both builds
    // write the same _stats text: only its modification time tells the
    // two states apart
    val pizza = docs.map { case (i, t) => (i, t.replace("pasta", "pizza")) }
    val (reference, served, fresh) = (index(pizza), index(pizza), index(docs))
    assert(Fs.readString(spark, s"$served/_stats") == Fs.readString(spark, s"$fresh/_stats"))
    assert(lex(served) == lex(reference) && ask(served) == ask(reference))
    assert(lex(served) != lex(fresh), "pasta scores only in the fresh build")
    replaceIndex(fresh, served)
    assert(lex(served) == lex(fresh) && ask(served) == ask(fresh))
  }

  test("prepared lexical plans follow the index: one incremental append") {
    val (table, docs, append, index, lex, ask) = lexicalFixture("append")
    val (served, maintained) = (index(docs), index(docs))
    assert(lex(served) == lex(maintained) && ask(served) == ask(maintained))
    append(Seq((5L, "fresh pasta with boiling broth")))
    Keyword.appendToLexicalIndexForStore(spark, table, "doc_id", "text", maintained)
    replaceIndex(maintained, served)
    assert(lex(maintained).map(_._1).contains(5L))
    assert(lex(served) == lex(maintained) && ask(served) == ask(maintained))
  }

  test("a second question at the same store and index state runs no analysis rule") {
    import graft.ops.{Ivf, VersionedStore}
    import graft.ops.Chat.SearchType
    val embedder = HashEmbedder(dim = 32)
    val dir = Files.createTempDirectory("graft-noanalysis").toString
    val cfg = Ingest.StoreConfig("noan", "hash-32", 200, 0)
    Ingest.ingest(spark, Seq(
      (1L, "spark catalyst optimizer plans queries"),
      (2L, "parquet files store columnar data"),
      (3L, "cooking pasta requires boiling water")).toDF("doc_id", "text"),
      "doc_id", "text", dir, cfg, embedder)
    val table = s"$dir/${cfg.tableName}"
    val model = Ivf.indexStore(spark, table, "id", "embedding", k = 2)
    val idx = Files.createTempDirectory("graft-noanalysis-lex").toString
    Keyword.buildLexicalIndexForStore(spark, table, "id", "text", idx)
    def analysisRules(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.queryExecution.tracker.rules.keySet
        .filter(_.startsWith("org.apache.spark.sql.catalyst.analysis")).toSet
    for (st <- Seq(SearchType.Similarity, SearchType.ScoreThreshold(0.5), SearchType.Mmr(),
                   SearchType.Hybrid())) {
      def leg(q: String) = Chat.vectorLeg(VersionedStore.read(spark, table).get,
        "id", "text", "embedding", Some((model, 1)), embedder.embed(q), st, 2, "COSINE")
      val first = leg(s"$st first question about spark")
      val second = leg("a second question about pasta water")
      assert(analysisRules(first).nonEmpty, s"$st: the first question analyzes its plan")
      assert(analysisRules(second).isEmpty, s"$st: ${analysisRules(second)}")
      assert(second.collect().nonEmpty)
    }
    def lex(terms: Seq[String]) =
      Keyword.bm25Indexed(spark, idx, terms, topK = 3, store = Some(table))
    // questions of 1 to 8 terms share one plan
    assert(analysisRules(lex(Seq("spark", "plans"))).nonEmpty)
    val second = lex(Seq("pasta", "boiling", "water"))
    assert(analysisRules(second).isEmpty, analysisRules(second))
    assert(second.collect().nonEmpty)
  }

  test("bm25, bm25BatchRank, prfExpandTerms and buildLexicalIndex release persisted data when a job fails") {
    val sc = spark.sparkContext
    val boom = udf((s: String) => if (s == "boom") throw new IllegalStateException("boom") else s)
    // prfExpandTerms runs bm25 first: its "boom" row throws on the
    // second read only, so that bm25 pass succeeds and the failure
    // lands on prfExpandTerms' own pin
    val boomOnReread = udf((s: String) =>
      if (s == "boom" && BoomReads.n.incrementAndGet() > 1) throw new IllegalStateException("boom")
      else s)
    val texts = array(lit("a b c d"), lit("boom"), lit("a b c e"))
    // over a range, not a local relation, so the job that materializes
    // the pin is the one that fails; each call gets its own ids
    def docs(from: Long, f: org.apache.spark.sql.expressions.UserDefinedFunction = boom) =
      spark.range(from, from + 3).select(col("id"),
        f(element_at(texts, (col("id") - from + 1).cast("int"))).as("text"))
    val idx = Files.createTempDirectory("graft-leak-lex").toString
    val calls = Seq[(String, () => Any)](
      "bm25" -> (() => Keyword.bm25(docs(10), "id", "text", Seq("a"))),
      "bm25BatchRank" -> (() => Keyword.bm25BatchRank(docs(20), "id", "text",
        Seq((1L, "a")).toDF("qid", "term"))),
      "prfExpandTerms" -> { () =>
        BoomReads.n.set(0)
        val e = intercept[Exception](Keyword.prfExpandTerms(docs(30, boomOnReread), "id", "text", Seq("a")))
        assert(e.getStackTrace.exists(_.getMethodName.contains("rocchioSelect")), e)
        throw e
      },
      "buildLexicalIndex" -> (() => Keyword.buildLexicalIndex(docs(40), "id", "text", idx)))
    // the persisted RDDs but materialized local checkpoints: the result
    // of prfExpandTerms' bm25 pass is one, freed by Spark's ContextCleaner
    def pins = sc.getPersistentRDDs.filterNot(_._2.isCheckpointed).keySet
    val leaks = calls.map { case (name, call) =>
      val (rdds, entries) = (pins, CachedEntries(spark))
      val e = intercept[Exception](call())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => Option(t.getMessage).exists(_.contains("boom"))), s"$name: $e")
      (name, (pins -- rdds).size, CachedEntries(spark) - entries)
    }
    assert(leaks.forall(l => l._2 == 0 && l._3 == 0),
      s"(call, persisted RDDs, cached Datasets) left behind: $leaks")
  }
}
