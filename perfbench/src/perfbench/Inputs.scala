package perfbench

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.util.zip.GZIPInputStream

import scala.util.Random

final case class Doc(id: Long, lang: String, text: String)

/** What a question in the `chat` mix asks and how. */
final case class Question(text: String, answerable: Boolean, history: Seq[String],
                          searchType: String)

/** Seeded inputs. Everything derives from the 5,000 documents in
  * `perfbench/data/documents.tsv.gz` (the sf0.1 `documents.parquet`:
  * doc_id, lang, source, text; the source is not used) and the seed; the engine sees only what
  * these functions return.
  */
object Inputs {
  /** Reserved for confirming a claimed gain on inputs nobody tuned against:
    * do not use it while a change is being written.
    */
  val HeldOutSeed = 424242L

  def corpus(path: String): IndexedSeq[Doc] = {
    val in = new BufferedReader(new InputStreamReader(
      new GZIPInputStream(new java.io.FileInputStream(path)), StandardCharsets.UTF_8))
    try {
      val header = in.readLine()
      require(header == "doc_id\tlang\tsource\ttext", s"unexpected corpus header: $header")
      Iterator.continually(in.readLine()).takeWhile(_ != null).map { line =>
        val f = line.split("\t", 4)
        Doc(f(0).toLong, f(1), f(3))
      }.toIndexedSeq
    } finally in.close()
  }

  def words(text: String): Array[String] = text.split(" ").filter(_.nonEmpty)

  /** Replace about one word in `every` (at least one) by another corpus
    * word: a near-duplicate that keeps most word 3-shingles.
    */
  def nearDup(text: String, vocab: IndexedSeq[String], every: Int, rnd: Random): String = {
    val w = words(text)
    val edits = math.max(1, w.length / every)
    for (_ <- 1 to edits) w(rnd.nextInt(w.length)) = vocab(rnd.nextInt(vocab.length))
    w.mkString(" ")
  }

  def vocabulary(docs: Seq[Doc]): IndexedSeq[String] =
    docs.iterator.flatMap(d => words(d.text)).toSet.toIndexedSeq.sorted

  /** A distinct text made from `text`: its words in a seeded order, so it
    * shares almost no word 3-shingles with `text`.
    */
  def reshuffled(text: String, rnd: Random): String = rnd.shuffle(words(text).toSeq).mkString(" ")

  /** Words no corpus document uses, so a question made of them shares no
    * token with any retrieved context.
    */
  val OffCorpusWords: IndexedSeq[String] = IndexedSeq("zebra", "quasar", "violin", "glacier",
    "orbit", "meadow", "lantern", "harbor", "comet", "pepper", "falcon", "tundra", "opal",
    "canyon", "ember", "willow")

  /** The `chat` mix, in blocks of eight whose composition never varies:
    * 75% answerable (the leading tokens of a document), 25% off-corpus;
    * half with a one-turn history; search types 50% similarity, 25% mmr,
    * 25% hybrid. Within a block the eight (type, answerable, history)
    * combinations come in a seeded order, so any whole number of blocks
    * asks the same mix of work.
    */
  val QuestionBlock: Seq[(String, Boolean, Boolean)] = Seq(
    ("similarity", true, true), ("similarity", true, false), ("similarity", false, true),
    ("similarity", true, false), ("mmr", true, true), ("mmr", true, false),
    ("hybrid", true, true), ("hybrid", false, false))

  def questions(docs: IndexedSeq[Doc], seed: Long, blocks: Int): IndexedSeq[Question] = {
    val rnd = new Random(seed)
    def offCorpus(): String = OffCorpusWords(rnd.nextInt(OffCorpusWords.length))
    (0 until blocks).flatMap { _ =>
      rnd.shuffle(QuestionBlock).map { case (searchType, answerable, history) =>
        val text =
          if (answerable) words(docs(rnd.nextInt(docs.length)).text).take(5).mkString(" ")
          else Seq.fill(4)(offCorpus()).mkString(" ")
        val turns = if (history) Seq(s"earlier I asked about ${offCorpus()}") else Seq.empty
        Question(text, answerable, turns, searchType)
      }
    }
  }

  /** The `curate` corpus: `n` documents. About 80% are reshuffled
    * id-shifted copies of corpus documents; the rest are near-duplicates
    * of earlier documents picked with a cubic skew, so a few clusters are
    * large and most are small. One planted chain of `chain` documents
    * each edits the previous one, so its ends are far apart but joined.
    * About 30% carry spam tokens; a seeded 20% are labelled (1 = clean).
    */
  final case class CurateDoc(id: Long, text: String, label: Option[Int])

  val SpamWords: IndexedSeq[String] = IndexedSeq("cheap", "click", "winner", "prize", "bonus", "free")

  def curateCorpus(corpus: IndexedSeq[Doc], seed: Long, n: Int, chain: Int = 30): IndexedSeq[CurateDoc] = {
    val rnd = new Random(seed)
    val vocab = vocabulary(corpus)
    val texts = new Array[String](n)
    for (i <- 0 until n - chain) {
      texts(i) =
        if (i < 50 || rnd.nextDouble() < 0.8)
          reshuffled(corpus(rnd.nextInt(corpus.length)).text, rnd)
        else {
          val u = rnd.nextDouble()
          nearDup(texts((u * u * u * i).toInt), vocab, 25, rnd)
        }
    }
    val long = corpus.filter(d => words(d.text).length >= 60)
    texts(n - chain) = long(rnd.nextInt(long.length)).text
    for (i <- n - chain + 1 until n) texts(i) = nearDup(texts(i - 1), vocab, 60, rnd)
    val ids = rnd.shuffle((0 until n).map(1000000L + _))
    IndexedSeq.tabulate(n) { i =>
      val spam = rnd.nextDouble() < 0.3
      val text =
        if (!spam) texts(i)
        else (words(texts(i)) ++ Seq.fill(3)(SpamWords(rnd.nextInt(SpamWords.length)))).mkString(" ")
      val label = if (rnd.nextDouble() < 0.2) Some(if (spam) 0 else 1) else None
      CurateDoc(ids(i), text, label)
    }
  }
}
