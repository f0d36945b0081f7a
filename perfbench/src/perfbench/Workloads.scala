package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.embed.HashEmbedder
import graft.ops._
import Trace.span

/** Input sizes of one run. [[Sizes.full]] is the benchmark; [[Sizes.tiny]]
  * is the self-check.
  */
final case class Sizes(setups: Int, storeDocs: Int, evalQuestions: Int, curateDocs: Int,
                       reasked: Int)

object Sizes {
  val full = Sizes(setups = 2, storeDocs = 1600, evalQuestions = 20, curateDocs = 4000,
    reasked = 4)
  val tiny = Sizes(setups = 1, storeDocs = 400, evalQuestions = 10, curateDocs = 2000,
    reasked = 3)
}

/** One workload: a fixture built by [[setup]] (repeatable, each time from
  * scratch in a new directory), the timed [[op]], and [[check]], which
  * re-derives the recorded outputs through an independent path outside
  * the timed window.
  */
abstract class Workload(val spark: SparkSession, val corpus: IndexedSeq[Doc],
                        val seed: Long, val sizes: Sizes) {
  /** What [[op]] counts: "docs" or "questions". */
  def itemUnit: String
  def setup(dir: String): Unit
  /** Runs op number `i` of the window and returns the items it processed. */
  def op(i: Int): Long
  /** One line per failed check of the recorded outputs. `corrupt` alters
    * one recorded output first, to prove the checks bite.
    */
  def check(corrupt: Boolean): Seq[String]
  /** Per-layer counts the workload measures itself, keyed by metric name. */
  def layerCounts(): Map[String, Double]
  /** Questions answered in the window (for model calls per question). */
  def questionsAsked: Long = 0L
  /** The window ends on a multiple of this many ops, so it holds whole
    * blocks of a mix.
    */
  def opBlock: Int = 1
  /** The window runs at least this many ops, however long they take. */
  def minOps: Int = 1
}

object Workload {
  val names = Seq("chat", "curate")

  def apply(name: String, spark: SparkSession, corpus: IndexedSeq[Doc], seed: Long,
            sizes: Sizes): Workload = name match {
    case "chat"   => new ChatWorkload(spark, corpus, seed, sizes)
    case "curate" => new CurateWorkload(spark, corpus, seed, sizes)
    case other    => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString
}

/** `chat`: a closed loop of single questions from one client. The store is
  * built in set-up by the reference's upload flow: a first upload into a
  * fresh store, its IVF index and registered lexical index, a second
  * upload of new documents with a quarter of the first re-sent (through
  * the append seam that keeps both indexes current).
  * The warm pass is one small test-set evaluation and one block of the
  * question mix. Each op opens the store and answers one question of the
  * seeded mix.
  */
final class ChatWorkload(spark: SparkSession, corpus: IndexedSeq[Doc], seed: Long,
                         sizes: Sizes) extends Workload(spark, corpus, seed, sizes) {
  val itemUnit = "questions"
  private val embedder = CountingEmbedder(HashEmbedder())
  private val model = CountingModel(Chat.TemplateModel)
  private val grader = CountingGrader(Chat.OverlapGrader)
  private val config = Ingest.StoreConfig("bench", "hash64", chunkSize = 256, chunkOverlap = 32)
  // a probe of 16 of the ~50 clusters makes a question's cost depend less
  // on which clusters it lands in
  private val nProbe = 16
  private val sysPrompt = "you are helpful"

  import spark.implicits._

  private def docsFrame(docs: Seq[Doc]): DataFrame =
    docs.map(d => (d.id, d.lang, d.text)).toDF("doc_id", "lang", "text")

  private def searchType(name: String, idx: String): Chat.SearchType = name match {
    case "similarity" => Chat.SearchType.Similarity
    case "mmr"        => Chat.SearchType.Mmr()
    case "hybrid"     => Chat.SearchType.Hybrid(lexicalIndexPath = Some(idx))
  }

  private def ask(table: String, idx: String, ivf: Ivf.IvfModel, store: DataFrame,
          q: Question): Chat.RagAnswer =
    span("Chat.answer", q.searchType)(Chat.answer(spark, q.text, store, "id", "text",
      "embedding", embedder, model, grader, sysPrompt, topK = 4, history = q.history,
      index = Some((ivf, nProbe)), searchType = searchType(q.searchType, idx),
      indexStorePath = Some(table),
      ctxPrompt = if (q.history.nonEmpty) Some("rephrase the question for retrieval") else None))

  /** Store ids read straight from the live segments' parquet files,
    * bypassing the store's own reader and cache.
    */
  private def storeIds(table: String): Seq[String] =
    VersionedStore.currentState(spark, table).get.segments
      .map(s => spark.read.parquet(s"$table/$s").select("id"))
      .reduce(_.union(_)).as[String].collect().toSeq

  private def utf8Bytes(d: Doc): Long = d.text.getBytes("UTF-8").length.toLong

  /** Bytes of every file under `dir` (store segments, manifests, sidecars). */
  private def bytesUnder(dir: String): Long = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      val s = java.nio.file.Files.walk(root)
      try s.filter(p => java.nio.file.Files.isRegularFile(p))
        .mapToLong(p => java.nio.file.Files.size(p)).sum()
      finally s.close()
    }
  }

  // the store is the same for every seed (the leading documents of the
  // corpus, a fixed quarter of the first upload re-sent), so a seed varies
  // what is asked, not the index it is asked against
  private val chosen = corpus.take(sizes.storeDocs)
  private val (first, second) = chosen.splitAt(sizes.storeDocs * 3 / 4)
  private val resent = first.filter(d => Math.floorMod(d.id * 2654435761L, 4L) == 0)
  private val qs = Inputs.questions(chosen, seed, 512)
  private var table, idx, dir = ""
  private var ivf: Ivf.IvfModel = _
  private final case class EvalPass(qa: Array[Row], overall: Row, byTopic: Array[Row])
  private var evalPass: EvalPass = _
  private var appended, deduped, embedded = 0L
  private var segments = 0
  private val asked = ArrayBuffer.empty[(Question, Chat.RagAnswer)]

  def setup(d: String): Unit = {
    dir = d
    val e0 = Counters.embedTexts.get
    val r1 = upload(first)
    table = s"$dir/${config.tableName}"
    ivf = span("Ivf.indexStore")(Ivf.indexStore(spark, table, "id", "embedding"))
    idx = s"$dir/lexidx"
    span("Keyword.registerLexicalIndex")(
      Keyword.registerLexicalIndex(spark, table, "id", "text", idx))
    val r2 = upload(new Random(0).shuffle(second ++ resent))
    embedded = Counters.embedTexts.get - e0
    appended = r1.appended + r2.appended
    deduped = r1.deduped + r2.deduped
    segments = VersionedStore.liveSegments(spark, table).size
    evalPass = evaluate()
    Inputs.questions(chosen, seed + 2, 1).foreach(answer)
    asked.clear()
  }

  private def upload(docs: Seq[Doc]): Ingest.IngestResult =
    span("Ingest.ingest")(Ingest.ingest(spark, docsFrame(docs), "doc_id", "text", dir,
      config, embedder))

  private def answer(q: Question): Chat.RagAnswer = {
    val store = span("VersionedStore.read")(VersionedStore.read(spark, table).get)
    ask(table, idx, ivf, store, q)
  }

  private val qaSchema = org.apache.spark.sql.types.StructType(
    Seq("question", "reference_answer", "reference_context", "topic")
      .map(org.apache.spark.sql.types.StructField(_, org.apache.spark.sql.types.StringType)))

  private def report(qa: Array[Row]): DataFrame = {
    val store = span("VersionedStore.read")(VersionedStore.read(spark, table).get)
    Testbed.evaluateRag(spark.createDataFrame(java.util.Arrays.asList(qa: _*), qaSchema),
      store, "id", "text", "embedding", embedder, model, grader, topK = 4,
      index = Some((ivf, nProbe)))
  }

  /** A test set generated over a seeded half of the stored documents,
    * answered in batch through the IVF index, judged and aggregated. The
    * test set is collected, as a user saves it before evaluating; the
    * lazy evaluation is spanned with the two actions that run it.
    */
  private def evaluate(): EvalPass = {
    val kb = docsFrame(chosen).filter(pmod(xxhash64(col("doc_id"), lit(seed)), lit(2)) === 0)
    val qa = span("Testbed.generateTestset")(
      Testbed.generateTestset(kb, "text", sizes.evalQuestions, Some("lang")).collect())
    span("Testbed.evaluateRag") {
      val r = report(qa)
      EvalPass(qa, Testbed.overall(r).collect().head, Testbed.byTopic(r).collect())
    }
  }

  def op(i: Int): Long = {
    val q = qs(i % qs.length)
    asked += ((q, answer(q)))
    1L
  }

  override def questionsAsked: Long = asked.length.toLong
  override def opBlock: Int = Inputs.QuestionBlock.length

  def check(corrupt: Boolean): Seq[String] = {
    val ids = storeIds(table)
    val idSet = ids.toSet
    val expected = chosen.flatMap(d => Split.recursive(d.text, config.chunkSize,
      config.chunkOverlap).map(c => Workload.md5Hex(c.text))).toSet
    val store =
      (if (ids.length != idSet.size) Seq(s"store repeats ${ids.length - idSet.size} ids") else Nil) ++
        (if (idSet != expected)
          Seq(s"store holds ${idSet.size} ids, expected ${expected.size} distinct chunk keys " +
            s"(${(expected -- idSet).size} missing, ${(idSet -- expected).size} unexpected)")
        else Nil)

    val refs = evalPass.qa.map(r => r.getString(0) -> r.getString(1)).toMap
    val judged = report(evalPass.qa).select("question", "answer").collect()
    val n = evalPass.overall.getLong(0)
    val correct = judged.count(r => Testbed.keywordJudge(r.getString(1), refs(r.getString(0))))
    val eval =
      (if (n != judged.length || n != evalPass.qa.length)
        Seq(s"evaluation: overall counts $n rows, re-judged ${judged.length} of ${evalPass.qa.length}")
      else Nil) ++
        (if (n == 0 || math.abs(evalPass.overall.getDouble(1) - correct.toDouble / n) > 1e-9)
          Seq(s"evaluation: overall correctness ${evalPass.overall.getDouble(1)}, " +
            s"re-judged ${correct.toDouble / n}") else Nil) ++
        (if (evalPass.byTopic.map(_.getLong(1)).sum != n) Seq("evaluation: byTopic counts do not sum to n")
        else Nil)

    val recorded =
      if (corrupt && asked.nonEmpty)
        asked.updated(0, (asked(0)._1, asked(0)._2.copy(answer = "corrupted")))
      else asked
    val perOp = recorded.zipWithIndex.flatMap { case ((q, a), i) =>
      val plain = Chat.TemplateModel.generate(sysPrompt, "", a.rewrittenQuery)
      (if (!a.retrievedIds.forall(idSet)) Seq(s"op $i: retrieved ids outside the store") else Nil) ++
        (if (!q.answerable && (a.relevant || a.answer != plain))
          Seq(s"op $i: off-corpus question was not answered on the plain route") else Nil)
    }
    val again = new Random(seed + 3).shuffle(recorded.indices.toVector).take(sizes.reasked).flatMap { i =>
      val (q, a) = recorded(i)
      val b = answer(q)
      if (b.answer != a.answer || b.retrievedIds != a.retrievedIds || b.context != a.context)
        Seq(s"op $i: asked twice, answered differently") else Nil
    }
    store ++ eval ++ perOp ++ again
  }

  def layerCounts(): Map[String, Double] = Map(
    "Ingest.append_ratio" -> appended.toDouble / deduped,
    "embed.useful_ratio" -> appended.toDouble / embedded,
    "VersionedStore.segments" -> segments.toDouble,
    "store_bytes_per_text_byte" -> bytesUnder(dir).toDouble / (chosen ++ resent).map(utf8Bytes).sum)
}

/** `curate`: one pass per op over a seeded synthetic corpus of 4,000
  * documents: MinHash near-duplicate pairs, connected-component
  * survivors, a logistic-regression quality model fit on the labelled
  * survivors, and scoring that keeps survivors above probability 0.5.
  */
final class CurateWorkload(spark: SparkSession, corpus: IndexedSeq[Doc], seed: Long,
                           sizes: Sizes) extends Workload(spark, corpus, seed, sizes) {
  val itemUnit = "docs"
  val fitIters = 6
  // the first pass of a window is still warming up; a second one halves
  // its weight in the median
  override def minOps: Int = 2
  private var path = ""
  private var n = 0L
  private final case class Pass(pairs: Long, survivors: Long, kept: Long)
  private val passes = ArrayBuffer.empty[Pass]

  def setup(dir: String): Unit = {
    import spark.implicits._
    val docs = Inputs.curateCorpus(corpus, seed, sizes.curateDocs)
    path = s"$dir/corpus"
    docs.map(d => (d.id, d.text, d.label)).toDF("id", "text", "label")
      .repartition(4).write.parquet(path)
    n = docs.length
    // warm pass over a quarter of the corpus
    pass(spark.read.parquet(path).filter(col("id") % 4 === 0))
    passes.clear()
  }

  private def pass(df: DataFrame): Pass = {
    val pairs = span("Dedup.minhashNearDupPairs")(
      Dedup.minhashNearDupPairs(df, "id", "text", threshold = 0.7))
    val survivors = span("Dedup.nearDupSurvivors") {
      val s = Dedup.nearDupSurvivors(df, "id", pairs.select("id_a", "id_b"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      s.count()
      s
    }
    try {
      val weights = span("Classifier.fitLogReg")(Classifier.fitLogReg(
        survivors.filter(col("label").isNotNull), "id", "text", "label", iters = fitIters))
      val kept = span("Classifier.score")(Classifier.score(survivors, "id", "text", weights)
        .filter(col("prob") > 0.5).count())
      Pass(pairs.count(), survivors.count(), kept)
    } finally survivors.unpersist()
  }

  def op(i: Int): Long = {
    passes += pass(spark.read.parquet(path))
    n
  }

  def check(corrupt: Boolean): Seq[String] = {
    import spark.implicits._
    if (passes.isEmpty) return Nil
    val df = spark.read.parquet(path)
    val pairs = Dedup.minhashNearDupPairs(df, "id", "text", threshold = 0.7)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val survivors = Dedup.nearDupSurvivors(df, "id", pairs.toSeq.toDF("id_a", "id_b"))
      .select("id").collect().map(_.getLong(0)).toSet
    val ids = df.select("id").collect().map(_.getLong(0))
    // union-find over the collected pairs: the smallest id of each
    // component survives, as does every id in no pair
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- pairs) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { parent(math.max(ra, rb)) = math.min(ra, rb) }
    }
    val expected = ids.filter(id => find(id) == id).toSet
    val got = if (corrupt) survivors - survivors.head else survivors
    val first = passes.head
    val setFailure =
      if (got != expected)
        Seq(s"survivors: ${got.size}, union-find expects ${expected.size}")
      else Nil
    setFailure ++ passes.zipWithIndex.collect {
      case (p, i) if p.pairs != pairs.length || p.survivors != survivors.size || p != first =>
        s"op $i: pairs ${p.pairs}, survivors ${p.survivors}, kept ${p.kept} differ from the check"
    }
  }

  def layerCounts(): Map[String, Double] =
    if (passes.isEmpty) Map.empty
    else Map(
      "Dedup.pairs" -> passes.map(_.pairs).sum.toDouble / passes.length,
      "Dedup.survivor_ratio" -> passes.head.survivors.toDouble / n)
}
