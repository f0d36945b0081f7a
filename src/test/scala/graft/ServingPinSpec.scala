package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftshim.CachedEntries
import org.scalatest.funsuite.AnyFunSuite

import graft.embed.HashEmbedder
import graft.ops.{Chat, Ingest, Ivf, Keyword, VersionedStore}
import graft.ops.Chat.SearchType

/** From a store state's second question on, the legs of a chat question
  * read a pinned in-memory copy of the state ([[VersionedStore.pin]]):
  * same answers as the parquet path, same jobs, and the pin's lifetime
  * follows the state.
  */
class ServingPinSpec extends AnyFunSuite {
  import TestSpark._

  private val embedder = HashEmbedder(dim = 32)
  private val Threshold = "spark.sql.autoBroadcastJoinThreshold"

  /** `body` with pins switched off: a threshold of -1 pins nothing. */
  private def unpinned[T](body: => T): T = {
    val prev = spark.conf.get(Threshold)
    spark.conf.set(Threshold, "-1")
    try body finally spark.conf.set(Threshold, prev)
  }

  /** A store of two segments over the sf0.001 documents; `clustered`
    * indexes it (IVF, k = 4) before the second upload, so both segments
    * carry `cluster_id`.
    */
  private def store(name: String, clustered: Boolean): (String, Ingest.StoreConfig, Option[Ivf.IvfModel]) = {
    val dir = Files.createTempDirectory(s"graft-pin-$name").toString
    val cfg = Ingest.StoreConfig(name, "hash-32", 120, 20)
    def upload(n: Int) = Ingest.ingest(spark, Tables.documents(spark, sf).limit(n), "doc_id",
      "text", dir, cfg, embedder)
    upload(30)
    val table = s"$dir/${cfg.tableName}"
    val model = if (clustered) Some(Ivf.indexStore(spark, table, "id", "embedding", k = 4)) else None
    upload(45)
    assert(VersionedStore.liveSegments(spark, table).size == 2)
    (dir, cfg, model)
  }

  private val questions = Seq("the quick brown fox", "market prices rose sharply",
    "quokka marsupials hop across rottnest island")

  private def inMemory(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("InMemoryTableScan")

  test("pinned answers equal parquet answers on every leg, metric and index path") {
    val (flatDir, flatCfg, _) = store("parflat", clustered = false)
    val (ivfDir, ivfCfg, ivfModel) = store("parivf", clustered = true)
    val flat = s"$flatDir/${flatCfg.tableName}"
    val ivf = s"$ivfDir/${ivfCfg.tableName}"
    val lexIdx = Files.createTempDirectory("graft-pin-lex").toString
    Keyword.buildLexicalIndexForStore(spark, ivf, "id", "text", lexIdx)
    val onTheFly = Ivf.fit(VersionedStore.read(spark, flat).get, "id", "embedding", k = 4)
    // (table, index, index store path, extra search types)
    val paths = Seq(
      ("no index", flat, None, None),
      ("on-the-fly assign", flat, Some((onTheFly, 2)), None),
      ("indexed", ivf, Some((ivfModel.get, 2)), Some(ivf)))
    val types = Seq(SearchType.Similarity, SearchType.ScoreThreshold(0.5),
      SearchType.Mmr(fetchK = 8, lambdaMult = 0.5), SearchType.Hybrid(fetchKPerLeg = 8))
    def all(): Seq[(String, Chat.RagAnswer)] = for {
      (path, table, index, storePath) <- paths
      st <- types ++ storePath.map(_ => SearchType.Hybrid(fetchKPerLeg = 8,
        lexicalIndexPath = Some(lexIdx)))
      metric <- Seq("COSINE", "EUCLIDEAN_DISTANCE")
      q <- questions
    } yield s"$path / $st / $metric / $q" -> Chat.answer(spark, q,
      VersionedStore.read(spark, table).get, "id", "text", "embedding", embedder, topK = 3,
      metric = metric, index = index, searchType = st, indexStorePath = storePath)
    def leg(table: String) = Chat.vectorLeg(VersionedStore.read(spark, table).get, "id",
      "text", "embedding", None, embedder.embed(questions.head), SearchType.Similarity, 3,
      "COSINE")

    val before = CachedEntries(spark)
    val off = unpinned(all())
    assert(CachedEntries(spark) == before, "a threshold of -1 pins nothing")
    assert(!inMemory(unpinned(leg(flat))))
    val on = all()
    assert(CachedEntries(spark) - before == 2, "one pin per store state")
    assert(inMemory(leg(flat)) && inMemory(leg(ivf)))
    assert(off.exists(_._2.retrievedIds.nonEmpty))
    on.zip(off).foreach { case ((k, a), (_, b)) =>
      assert(a.answer == b.answer && a.context == b.context && a.retrievedIds == b.retrievedIds, k)
    }
    // switching pins off releases them at the next question
    unpinned(Seq(flat, ivf).foreach(leg(_).collect()))
    assert(CachedEntries(spark) == before)
  }

  test("a state's first, filling and later questions run the jobs of the parquet path") {
    val (dir, cfg, model) = store("jobs", clustered = true)
    val table = s"$dir/${cfg.tableName}"
    val lexIdx = Files.createTempDirectory("graft-pin-jobs-lex").toString
    Keyword.buildLexicalIndexForStore(spark, table, "id", "text", lexIdx)
    val types = Seq(SearchType.Similarity, SearchType.Mmr(),
      SearchType.Hybrid(lexicalIndexPath = Some(lexIdx)))
    def jobs(frame: () => DataFrame): Seq[Int] = types.flatMap { st =>
      questions.take(2).map(q => jobsOf(Chat.answer(spark, q, frame(), "id", "text",
        "embedding", embedder, topK = 4, index = Some((model.get, 2)), searchType = st,
        indexStorePath = Some(table)))._2)
    }
    // time travel to the current version builds the same union frame,
    // never pinned: the parquet path, asked before anything is pinned
    // (Spark's cache would serve an equal frame from a pin)
    val version = VersionedStore.currentState(spark, table).get.version
    val unpinnedFrame = VersionedStore.readAt(spark, table, version).get
    val parquet = jobs(() => unpinnedFrame)
    val before = CachedEntries(spark)
    // the first similarity question reads parquet, the second fills the
    // pin, the rest read it
    val pinned = jobs(() => VersionedStore.read(spark, table).get)
    assert(CachedEntries(spark) - before == 1)
    assert(pinned == parquet, s"jobs per question, pinned $pinned, parquet $parquet")
  }

  test("an append releases the previous state's pin; the next question serves the new state") {
    val (dir, cfg, _) = store("append", clustered = false)
    val table = s"$dir/${cfg.tableName}"
    val quokka = questions.last
    def ask() = Chat.answer(spark, quokka, VersionedStore.read(spark, table).get, "id", "text",
      "embedding", embedder, topK = 1)
    val before = CachedEntries(spark)
    assert(!ask().context.contains("quokka"))
    assert(CachedEntries(spark) == before, "a state's first question pins nothing")
    ask()
    assert(CachedEntries(spark) - before == 1)
    import spark.implicits._
    Ingest.ingest(spark, Seq((999999L, quokka)).toDF("doc_id", "text"), "doc_id", "text", dir,
      cfg, embedder)
    VersionedStore.read(spark, table)
    assert(CachedEntries(spark) == before, "reading the new state releases the old one's pin")
    assert(ask().context == quokka)
    assert(ask().context == quokka)
    assert(CachedEntries(spark) - before == 1)
  }

  test("a pin dropped by a release of an equal plan comes back at the next question") {
    val (dir, cfg, _) = store("shared", clustered = false)
    val table = s"$dir/${cfg.tableName}"
    def ask() = Chat.answer(spark, questions.head, VersionedStore.read(spark, table).get, "id",
      "text", "embedding", embedder, topK = 3)
    val before = CachedEntries(spark)
    val answered = ask()
    ask()
    assert(CachedEntries(spark) - before == 1)
    // Spark's cache matches plans by result: unpersisting an equal frame
    // (time travel to the same version) drops the state's pin
    val version = VersionedStore.currentState(spark, table).get.version
    VersionedStore.readAt(spark, table, version).get.unpersist(blocking = true)
    assert(CachedEntries(spark) == before)
    assert(ask() == answered)
    assert(CachedEntries(spark) - before == 1)
    assert(inMemory(Chat.vectorLeg(VersionedStore.read(spark, table).get, "id", "text",
      "embedding", None, embedder.embed(questions.head), SearchType.Similarity, 3, "COSINE")))
  }

  test("vacuum releases the pin of a state whose segments it reclaims") {
    val (dir, cfg, _) = store("vacuum", clustered = false)
    val table = s"$dir/${cfg.tableName}"
    def ask() = Chat.answer(spark, questions.head, VersionedStore.read(spark, table).get, "id",
      "text", "embedding", embedder, topK = 3)
    val before = CachedEntries(spark)
    val answered = ask()
    ask()
    assert(CachedEntries(spark) - before == 1)
    VersionedStore.compact(spark, table)
    assert(CachedEntries(spark) - before == 1, "the compacted state is not read yet")
    assert(VersionedStore.vacuum(spark, table, graceMs = 0L).nonEmpty)
    assert(CachedEntries(spark) == before, "vacuum releases the reclaimed state's pin")
    assert(ask() == answered)
  }

  test("a caller's own parquet frame is never pinned") {
    val (dir, cfg, _) = store("plain", clustered = false)
    val table = s"$dir/${cfg.tableName}"
    val plain = Files.createTempDirectory("graft-pin-plain").toString + "/store"
    VersionedStore.read(spark, table).get.write.parquet(plain)
    val before = CachedEntries(spark)
    // one frame asked again, and a caller that reads the store per question
    val kept = spark.read.parquet(plain)
    val answers = Seq(kept, kept, kept, spark.read.parquet(plain), spark.read.parquet(plain))
      .map(frame => Chat.answer(spark, questions.head, frame, "id", "text", "embedding",
        embedder, topK = 3, searchType = SearchType.Hybrid()))
    assert(answers.head.retrievedIds.nonEmpty && answers.distinct.size == 1)
    assert(CachedEntries(spark) == before)
  }

  test("questions whose jobs fail, filling the pin too, leave a store that answers the next one") {
    val (dir, cfg, _) = store("fail", clustered = false)
    val table = s"$dir/${cfg.tableName}"
    val seg = VersionedStore.liveSegments(spark, table).head
    val file = Files.list(Paths.get(s"$table/$seg")).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .find(_.getFileName.toString.endsWith(".parquet")).get
    val aside = file.resolveSibling("moved-aside")
    def ask(frame: DataFrame) = Chat.answer(spark, questions.head, frame, "id", "text",
      "embedding", embedder, topK = 3)
    // the parquet answer, asked of an unpinned frame before anything is
    // pinned (Spark's cache would serve an equal frame from the pin)
    val version = VersionedStore.currentState(spark, table).get.version
    val expected = ask(VersionedStore.readAt(spark, table, version).get)
    assert(expected.retrievedIds.size == 3)
    val before = CachedEntries(spark)
    Files.move(file, aside)
    // the state's first question reads parquet, its second fills the pin
    try (1 to 2).foreach(_ => intercept[Exception](ask(VersionedStore.read(spark, table).get)))
    finally Files.move(aside, file): Unit
    assert(CachedEntries(spark) - before == 1, "the pin stays registered")
    assert(ask(VersionedStore.read(spark, table).get) == expected)
    assert(inMemory(Chat.vectorLeg(VersionedStore.read(spark, table).get, "id", "text",
      "embedding", None, embedder.embed(questions.head), SearchType.Similarity, 3, "COSINE")))
  }
}
