package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.PreparedPlans
import graft.embed.Embedder
import graft.functions.VectorFunctions

/** The RAG chat pipeline (SURVEY.md §3.1) with the model calls behind
  * deterministic interfaces, exactly as the reference's own tests mock
  * them. The orchestration — history cleaning, use-RAG routing, retrieval,
  * grading, grounded generation, provenance — is fully testable.
  */
object Chat {

  /** Pluggable LLM surface (V5 rewrite, V7/V8 generation). The identity /
    * template implementations mirror the reference's mocked tests.
    */
  trait ChatModel extends Serializable {
    def rewrite(question: String, history: Seq[String]): String
    def generate(sysPrompt: String, context: String, question: String): String
  }

  /** Deterministic default: identity rewrite; template-filled answer
    * (the V7 prompt-fill shape, `src/server/agents/chatbot.py:290-313`).
    */
  object TemplateModel extends ChatModel {
    def rewrite(question: String, history: Seq[String]): String = question
    def generate(sysPrompt: String, context: String, question: String): String =
      s"[$sysPrompt] Q: $question | grounded on ${context.split("\n\n").count(_.nonEmpty)} chunks"
  }

  /** V6 relevance grading: binary judge of (question, context). */
  trait Grader extends Serializable {
    def relevant(question: String, context: String): Boolean
  }

  /** grading=false ⇒ constant yes (`chatbot.py:272-287`). */
  object AlwaysRelevant extends Grader {
    def relevant(q: String, c: String): Boolean = true
  }

  /** Token-overlap grader: relevant iff any question token appears in the
    * context — deterministic stand-in for the LLM judge.
    */
  object OverlapGrader extends Grader {
    def relevant(q: String, c: String): Boolean = {
      val toks = q.toLowerCase.split("\\s+").filter(_.nonEmpty).toSet
      val ctx = c.toLowerCase.split("\\s+").toSet
      toks.exists(ctx.contains)
    }
  }

  /** P8 message-stream cleaning (`src/server/agents/chatbot.py:50-73`)
    * over a message table `(session, seq, role, content)` with the
    * reference's exact sequential pop semantics:
    *   - system messages are skipped;
    *   - each tool message pops the last *surviving* message (so
    *     consecutive tool messages pop repeatedly — a window lead/lag
    *     cannot express this);
    *   - if `useHistory` is false keep only the last surviving message
    *     per session;
    *   - prepend `sysPrompt` as a fresh system message per session.
    *
    * Implemented as `groupByKey(session).flatMapGroups`: the per-session
    * replay is inherently sequential, but sessions distribute across
    * executors and a chat history is small by construction.
    */
  def cleanHistory(messages: DataFrame, useHistory: Boolean, sysPrompt: String): DataFrame = {
    val spark = messages.sparkSession
    import spark.implicits._
    messages.select(col("session"), col("seq").cast("long"), col("role"), col("content"))
      .as[(String, Long, String, String)]
      .groupByKey(_._1)
      .flatMapGroups { (session, it) =>
        val buf = scala.collection.mutable.ArrayBuffer[(String, Long, String, String)]()
        it.toSeq.sortBy(_._2).foreach { m =>
          m._3 match {
            case "system" =>                                       // skip
            case "tool"   => if (buf.nonEmpty) buf.remove(buf.length - 1)
            case _        => buf += m
          }
        }
        val kept = if (useHistory) buf.toSeq else buf.toSeq.takeRight(1)
        (session, -1L, "system", sysPrompt) +: kept
      }
      .toDF("session", "seq", "role", "content")
      .orderBy(col("session"), col("seq"))
  }

  /** Mirror of the reference's per-request retrieval dispatch
    * (`RagSettings.search_type`, `src/common/schema.py:168-183`; routed
    * at `src/server/agents/chatbot.py:188-210`): `Similarity` = plain
    * top-k (V2); `ScoreThreshold` = top-k among rows whose NORMALIZED
    * relevance ([[Similarity.relevance]], in [0,1] like the reference's
    * `score_threshold` field) clears the bound (V3); `Mmr` = maximal
    * marginal relevance with the reference's `fetch_k`/`lambda_mult`
    * knobs (V4). The MMR legs fetch and diversify on COSINE regardless
    * of the configured metric — the reference's LangChain MMR likewise
    * computes cosine over raw embeddings whatever the store metric.
    */
  sealed trait SearchType extends Serializable
  object SearchType {
    case object Similarity extends SearchType
    final case class ScoreThreshold(scoreThreshold: Double) extends SearchType {
      require(scoreThreshold >= 0.0 && scoreThreshold <= 1.0,
        "score_threshold is a relevance in [0,1] (reference schema.py:176-178)")
    }
    final case class Mmr(fetchK: Int = 20, lambdaMult: Double = 0.5) extends SearchType {
      require(fetchK >= 1 && fetchK <= 10000, "fetch_k in [1,10000] (schema.py:180)")
      require(lambdaMult >= 0.0 && lambdaMult <= 1.0, "lambda_mult in [0,1] (schema.py:181)")
    }
    /** Hybrid retrieval: a vector leg and a BM25 lexical leg, each top
      * `fetchKPerLeg`, fused by reciprocal rank (constant `c`) — the
      * production retrieval shape the reference's vector-only dispatch
      * lacks. The per-question path ([[answer]]) collects the two
      * bounded legs and fuses them on the driver
      * ([[Keyword.rrfFuseRanked]]), taking text from the vector leg's
      * rows and reading the store only for ids the lexical leg alone
      * found; the batch path ([[answerBatch]]) fuses every question in
      * one plan. `terms` derives the lexical leg's term set from the
      * REWRITTEN query (default: case-preserved
      * whitespace tokens — see [[Hybrid.whitespaceTerms]]); a
      * question yielding no terms degrades to the vector leg
      * alone. Without `lexicalIndexPath` the lexical leg scans the
      * store once per request batch ([[Keyword.bm25BatchRank]] in the
      * batch path); with it, the leg ranks from the maintained
      * [[Keyword.buildLexicalIndex]] sidecar instead — zero corpus
      * touch, same scores/ranks — and inherits its staleness contract:
      * when the chat call also knows the store table
      * (`indexStorePath`), a stale index fails the request loudly
      * rather than serving rankings that cannot see appended rows.
      */
    final case class Hybrid(terms: String => Seq[String] = Hybrid.whitespaceTerms,
                            c: Int = 60, fetchKPerLeg: Int = 50,
                            lexicalIndexPath: Option[String] = None) extends SearchType {
      require(c >= 0, "rrf constant must be non-negative")
      require(fetchKPerLeg >= 1 && fetchKPerLeg <= 10000, "fetchKPerLeg in [1,10000]")
    }
    object Hybrid {
      /** Default term derivation: whitespace tokens, CASE-PRESERVED —
        * the BM25 legs tokenize documents with the engine tokenizer
        * (`TextAnalysis.tokens`, case-sensitive), so lowercasing here
        * would silently unmatch every capitalized occurrence. Supply a
        * custom function (and a matching normalization at index/corpus
        * build) for case-insensitive retrieval.
        */
      val whitespaceTerms: String => Seq[String] =
        q => q.split("\\s+").filter(_.nonEmpty).distinct.toSeq
    }
  }

  case class RagAnswer(question: String, rewrittenQuery: String, answer: String,
                       context: String, retrievedIds: Seq[String], relevant: Boolean)

  /** V5 contextualization POLICY — the reference's rewrite gating
    * (`src/server/agents/chatbot.py:144-175`; duplicated at
    * `src/server/agents/tools/oraclevs_retriever.py:33-66`), ported
    * around the pluggable model: the query is rewritten ONLY when
    *
    *   1. history is enabled (`use_history`),
    *   2. a contextualization prompt is configured (non-empty
    *      `ctx_prompt.prompt`), and
    *   3. there is actual prior conversation. The reference checks
    *      `len(history) > 1` AFTER popping the question, counting the
    *      system message [[cleanHistory]] prepends; `history` here
    *      carries only prior TURNS (no system message, no question), so
    *      the equivalent gate is `history.nonEmpty`.
    *
    * and the model's output REPLACES the query only if it differs
    * (`result.content != retrieve_question` — value-inert, mirrored for
    * fidelity with the reference's replace-only-if-changed log point).
    * Outside the gate the question flows through untouched — the
    * reference never invokes the rewrite model at all.
    */
  def contextualize(question: String, history: Seq[String], useHistory: Boolean,
                    ctxPrompt: Option[String], model: ChatModel): String =
    if (useHistory && ctxPrompt.exists(_.nonEmpty) && history.nonEmpty) {
      val r = model.rewrite(question, history)
      if (r != question) r else question
    } else question

  /** V9: OpenAI-shape response assembly (`src/server/agents/chatbot.py:
    * 93-133`; schema `src/common/schema.py:213-257`): wrap the final
    * answer with id/created/usage/choices, normalizing the finish reason
    * (`COMPLETE→stop`, `MAX_TOKENS→length`).
    */
  case class Usage(prompt_tokens: Long, completion_tokens: Long, total_tokens: Long)
  case class Choice(index: Int, role: String, content: String, finish_reason: String)
  case class ChatResponse(id: String, created: Long, model: String,
                          usage: Usage, choices: Seq[Choice])

  /** [[toResponse]] as pure columns — V9 at corpus scale (a batch-eval
    * run assembles millions of wire responses; the per-row case-class
    * path would be a collect). Same id derivation (UUIDv3 =
    * `nameUUIDFromBytes(question+answer)`: md5 with the version nibble
    * forced to 3 and the variant nibble to `(x & 0x3) | 0x8` — both
    * replayed as hex-string surgery so any SQL engine lands on the
    * identical id), same whitespace token accounting, same finish-reason
    * normalization. Returns the wire JSON assembled by explicit concat
    * (NOT `to_json`) so the byte layout is engine-formatter-independent;
    * string fields are expected JSON-safe (no quotes/backslashes — the
    * template-model answers are).
    */
  def responseJson(question: org.apache.spark.sql.Column,
                   context: org.apache.spark.sql.Column,
                   answer: org.apache.spark.sql.Column,
                   model: String, createdEpoch: Long,
                   rawFinishReason: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val finish = when(rawFinishReason === "COMPLETE", "stop")
      .when(rawFinishReason === "MAX_TOKENS", "length")
      .otherwise(lower(rawFinishReason))
    def tok(c: org.apache.spark.sql.Column) =
      size(filter(split(trim(c), "\\s+"), t => length(t) > 0)).cast("long")
    val prompt = tok(question) + tok(context)
    val completion = tok(answer)
    val h = md5(concat(question, answer).cast("binary"))
    val variant = when(substring(h, 17, 1).isin("0", "4", "8", "c"), "8")
      .when(substring(h, 17, 1).isin("1", "5", "9", "d"), "9")
      .when(substring(h, 17, 1).isin("2", "6", "a", "e"), "a")
      .otherwise("b")
    val id = concat(lit("chatcmpl-"),
      substring(h, 1, 8), lit("-"), substring(h, 9, 4), lit("-"),
      lit("3"), substring(h, 14, 3), lit("-"),
      variant, substring(h, 18, 3), lit("-"), substring(h, 21, 12))
    concat(
      lit("{\"id\":\""), id,
      lit(s"""","created":$createdEpoch,"model":"$model","usage":{"prompt_tokens":"""),
      prompt, lit(",\"completion_tokens\":"), completion,
      lit(",\"total_tokens\":"), prompt + completion,
      lit("},\"choices\":[{\"index\":0,\"role\":\"assistant\",\"content\":\""),
      answer, lit("\",\"finish_reason\":\""), finish, lit("\"}]}"))
  }

  def toResponse(ans: RagAnswer, model: String, createdEpoch: Long,
                 rawFinishReason: String = "COMPLETE"): ChatResponse = {
    val finish = rawFinishReason match {
      case "COMPLETE"   => "stop"
      case "MAX_TOKENS" => "length"
      case other        => other.toLowerCase
    }
    def tok(s: String): Long = s.split("\\s+").count(_.nonEmpty).toLong
    val prompt = tok(ans.question) + tok(ans.context)
    val completion = tok(ans.answer)
    ChatResponse(
      id = "chatcmpl-" + java.util.UUID.nameUUIDFromBytes(
        (ans.question + ans.answer).getBytes).toString,
      created = createdEpoch,
      model = model,
      usage = Usage(prompt, completion, prompt + completion),
      choices = Seq(Choice(0, "assistant", ans.answer, finish)))
  }

  /** The 3.1 pipeline for one question: rewrite → embed → top-k retrieve
    * → grade → grounded or plain generation, with provenance (V10) in the
    * result. The retrieval is pure Spark ([[Similarity.knn]]); the model
    * calls are the injected deterministic interfaces.
    *
    * Reuse per state: the Datasets a question collects are prepared
    * plans ([[graft.PreparedPlans]]). The vector leg ([[vectorLeg]]) is
    * analyzed once per (`store` frame, columns, search type, k, metric,
    * IVF model); each question binds its query vector and probe list
    * (one array literal each) into it. The indexed lexical leg reuses its
    * plan per index state ([[Keyword.bm25Indexed]]). The `store` frame
    * is matched by identity, not by plan equality: a frame keeps the
    * file listing it was read with, so a frame read again (say, over a
    * directory appended to since) is a new plan, and a frame passed
    * again answers as it did before plans were kept.
    * [[VersionedStore.read]] returns one frame per committed state. The
    * IVF model guard and the lexical staleness check still run on every
    * question.
    *
    * Reuse of data: such a state frame is pinned in Spark's columnar
    * cache from its second question on, while it fits the session's
    * broadcast threshold ([[VersionedStore.pin]]), so a question opens
    * no segment file.
    */
  def answer(spark: SparkSession, question: String, store: DataFrame,
             idCol: String, textCol: String, embCol: String,
             embedder: Embedder, model: ChatModel = TemplateModel,
             grader: Grader = OverlapGrader, sysPrompt: String = "you are helpful",
             topK: Int = 4, metric: String = "COSINE",
             history: Seq[String] = Seq.empty, useRag: Boolean = true,
             index: Option[(Ivf.IvfModel, Int)] = None,
             searchType: SearchType = SearchType.Similarity,
             indexStorePath: Option[String] = None,
             useHistory: Boolean = true,
             ctxPrompt: Option[String] = None): RagAnswer = {
    if (!useRag) {
      val ans = model.generate(sysPrompt, "", question)
      return RagAnswer(question, question, ans, "", Seq.empty, relevant = false)
    }
    // V5: the rewrite runs only inside the reference's gate — see
    // [[contextualize]]; without a ctx prompt the model is never invoked
    val q = contextualize(question, history, useHistory, ctxPrompt, model)
    val qv = embedder.embed(q)
    // the probe guard runs on every question, whatever the plans reuse
    index.foreach { case (ivfModel, _) =>
      indexStorePath.foreach(Ivf.requireModelMatch(spark, _, ivfModel)) }
    val leg = vectorLeg(store, idCol, textCol, embCol, index, qv, searchType, topK, metric)
    def idText(rows: Array[org.apache.spark.sql.Row]): Seq[(String, String)] =
      rows.map(r => (r.getString(0), r.getString(1))).toSeq
    val hits: Seq[(String, String)] = searchType match {
      case SearchType.Similarity | SearchType.ScoreThreshold(_) => idText(leg.collect())
      case SearchType.Mmr(_, lm) =>
        val cand = leg.collect()
        val textOf = cand.map(r => r.getString(0) -> r.getString(1)).toMap
        Similarity
          .mmrGreedy(cand.map(r => (r.getString(0), r.getSeq[Float](2).toArray, r.getDouble(3))),
            topK, lm)
          .map { case (id, _, _) => (id, textOf(id)) }
      case SearchType.Hybrid(termsOf, c, fetchK, lexIdx) =>
        // (id, (id as string, text)) rows, in the order they come back
        def byId(df: DataFrame): Array[(Any, (String, String))] =
          df.collect().map(r => r.get(0) -> (r.getString(1), r.getString(2)))
        // both legs come back in rank order: knn sorts by the metric (a
        // EUCLIDEAN distance ascending, nearest first) then by its first
        // column, the id; the BM25 legs by rounded score desc, then id
        val vec = byId(leg)
        val terms = termsOf(q)
        val lex =
          if (terms.isEmpty) Array.empty[Any]
          else (lexIdx match {
            // maintained index: no corpus touch, staleness-guarded
            // against the store table when the caller names it
            case Some(idx) => Keyword.bm25Indexed(spark, idx, terms,
              topK = fetchK, idName = idCol, store = indexStorePath)
            case None => Keyword.bm25(store.select(col(idCol), col(textCol)),
              idCol, textCol, terms, topK = fetchK).select(col(idCol))
          }).collect().map(_.get(0)) // the id is column 0 of both legs
        // a null id, or one the store no longer holds, keeps its fused
        // slot but names no chunk to return
        val idOrder = Keyword.sparkOrder(leg.schema.head.dataType)
        val fused = Keyword.rrfFuseRanked(Seq(vec.map(_._1).toSeq, lex.toSeq), c, topK)(idOrder)
          .map(_._1).filter(_ != null)
        // text rides on the vector leg's rows; only ids the lexical leg
        // alone found are looked up, in one filtered read of the store
        // (a prepared plan too, whose literals are those ids)
        val vecHits = vec.toMap
        val lexOnly = fused.filterNot(vecHits.contains)
        val lexHits =
          if (lexOnly.isEmpty) Map.empty[Any, (String, String)]
          else byId(PreparedPlans.dataset(spark, "",
            (PreparedPlans.frameKey(store), idCol, textCol, "lookup"),
            PreparedPlans.inList(lexOnly.map(Literal(_)))) { ids =>
            withText(store.filter(col(idCol).isin(ids: _*)), idCol, textCol)
          }).toMap
        fused.flatMap(id => vecHits.get(id).orElse(lexHits.get(id)))
    }
    // A9 context concat (chatbot.py:76-81)
    val context = hits.map(_._2).mkString("\n\n")
    val rel = grader.relevant(q, context)
    val ans =
      if (rel) model.generate(sysPrompt, context, q)
      else model.generate(sysPrompt, "", q)
    RagAnswer(question, q, ans, context, hits.map(_._1), rel)
  }

  private def withText(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), col(idCol).cast("string").as("__sid"), col(textCol))

  /** The Dataset the vector leg of [[answer]] collects for one question:
    * the top rows of `store` nearest to `qv`, shaped for `searchType`
    * — (id as string, text) for similarity and score threshold, plus
    * the embedding and score for MMR's candidates, (id, id as string,
    * text) for the hybrid vector leg. With an index, only the question's
    * `nProbe` nearest clusters are probed. The pruning is real I/O
    * savings ONLY on a writePartitioned store that carries cluster_id;
    * assigning on the fly is semantics-preserving but strictly extra
    * work for a single question — prefer the plain path unless the
    * store is partitioned. Runs no guard: [[answer]] does.
    *
    * A prepared plan: analyzed once per key, which is the `store` frame
    * itself ([[graft.PreparedPlans.frameKey]]: a new manifest state or a
    * frame read again is a new key), the columns, the leg's shape, k,
    * the metric and the IVF model; the query vector and the probe list
    * are its literals.
    *
    * Every call [[VersionedStore.pin]]s `store`: for a store state that
    * fits the pin's size guard, from its second question on, Spark's
    * cache manager swaps the in-memory relation in when the bound
    * question executes (that question fills it); otherwise the leg
    * reads the segments' parquet files.
    */
  private[graft] def vectorLeg(store: DataFrame, idCol: String, textCol: String,
                               embCol: String, index: Option[(Ivf.IvfModel, Int)],
                               qv: Array[Float], searchType: SearchType, topK: Int,
                               metric: String): DataFrame = {
    val (shape, n, m, finish) = searchType match {
      case SearchType.Similarity =>
        ("similarity", topK, metric,
          (df: DataFrame) => df.select(col(idCol).cast("string"), col(textCol)))
      case SearchType.ScoreThreshold(t) =>
        // top-k then threshold ≡ threshold then top-k: relevance is
        // monotone in the score ordering, so any kept prefix agrees
        (s"threshold $t", topK, metric,
          (df: DataFrame) => df.filter(Similarity.relevance(metric, col("score")) >= t)
            .select(col(idCol).cast("string"), col(textCol)))
      case SearchType.Mmr(fetchK, _) =>
        ("mmr", fetchK, "COSINE",
          (df: DataFrame) => df.select(col(idCol).cast("string"), col(textCol), col(embCol),
            col("score")))
      case SearchType.Hybrid(_, _, fetchK, _) =>
        ("hybrid", fetchK, metric, (df: DataFrame) => withText(df, idCol, textCol))
    }
    // the probed cluster ids as one array literal, not an IN list: an
    // IN list's values are inlined into the generated code of a filter
    // over an in-memory scan, so every probe set would compile a class
    val probes = index.map { case (ivfModel, nProbe) =>
      Literal(ivfModel.probeOrder(qv).take(math.max(1, nProbe))) }
    VersionedStore.pin(store)
    PreparedPlans.dataset(store.sparkSession, "",
      (PreparedPlans.frameKey(store), idCol, textCol, embCol, shape, n, m,
        index.map(_._1.fingerprint)),
      VectorFunctions.vectorLiteral(qv) +: probes.toSeq) { slots =>
      finish(index match {
        case Some((ivfModel, _)) =>
          val clustered =
            if (store.columns.contains("cluster_id"))
              store.select(col(idCol), col(textCol), col(embCol), col("cluster_id"))
            else Ivf.assign(store.select(col(idCol), col(textCol), col(embCol)), embCol, ivfModel)
          Similarity.knnOf(clustered.filter(array_contains(slots(1), col("cluster_id"))),
            embCol, slots.head, n, m)
        case None =>
          Similarity.knnOf(store.select(col(idCol), col(textCol), col(embCol)),
            embCol, slots.head, n, m)
      })
    }
  }

  /** Batch counterpart of [[answer]] for a whole question set: ONE
    * distributed [[Similarity.similarityJoin]] retrieves top-k for every
    * question at once (the corpus is scanned once, not once per
    * question), then rewrite/grade/generate run as per-row expressions
    * over the joined result. This is the shape evaluation pipelines must
    * use — calling [[answer]] from a per-row UDF would launch Spark jobs
    * from inside executors, which Spark forbids.
    *
    * Semantics match [[answer]] per row (same rewrite → retrieve → A9
    * context concat → grade → grounded/plain generation; per-question
    * history for the rewrite via the optional ARRAY<STRING> `historyCol`);
    * returns `(qid, question, rewritten_query, answer, context,
    * retrieved_ids, relevant)`. A question with no retrievable context
    * (empty store) keeps its row with an empty context, like the
    * reference's no-context turn.
    *
    * `index = Some((ivfModel, nProbe))` routes retrieval through
    * [[Ivf.searchBatch]] instead of the exhaustive join — the
    * reference's real serving shape (retrieval against the HNSW/IVF-
    * indexed store, `src/server/utils/embedding.py:348-368`): on a
    * cluster-partitioned store each question scans only its probed
    * partitions. If the store lacks a `cluster_id` column it is assigned
    * on the fly (correct, but without the partition pruning a written
    * [[Ivf.writePartitioned]] store gives). At `nProbe = model.k` the
    * answers equal the exhaustive path bit-for-bit — PROVIDED an existing
    * `cluster_id` column was assigned by THIS model: a store partitioned
    * by a different/stale model puts rows in clusters the probe union
    * never selects, silently losing them (the probe predicate prunes at
    * the scan, so no runtime check can see the missing rows — keep the
    * model artifact with the store it wrote).
    */
  def answerBatch(questions: DataFrame, qidCol: String, questionCol: String,
                  store: DataFrame, idCol: String, textCol: String, embCol: String,
                  embedder: Embedder, model: ChatModel = TemplateModel,
                  grader: Grader = OverlapGrader, sysPrompt: String = "you are helpful",
                  topK: Int = 4, metric: String = "COSINE",
                  historyCol: Option[String] = None,
                  index: Option[(Ivf.IvfModel, Int)] = None,
                  searchType: SearchType = SearchType.Similarity,
                  indexStorePath: Option[String] = None,
                  useHistory: Boolean = true,
                  ctxPrompt: Option[String] = None): DataFrame = {
    // per-question chat history (ARRAY<STRING>) feeds the rewrite, as in
    // the single-question path, under the SAME V5 gate ([[contextualize]]):
    // the static conditions (useHistory ∧ ctx prompt set) are evaluated
    // once, the per-question one (non-empty history) per row
    val rewriteUdf = udf((q: String, h: Seq[String]) =>
      contextualize(q, Option(h).getOrElse(Seq.empty), useHistory, ctxPrompt,
        model))
    val hist = historyCol.map(col).getOrElse(typedlit(Seq.empty[String]))
    // materialized eagerly: q feeds two subtrees of the final plan (the
    // broadcast retrieval side and the output join), and Catalyst would
    // re-evaluate the rewrite UDF — a model call per question — in each;
    // the question batch is small by construction, like MMR's candidates
    val q = questions
      .select(col(qidCol).as("__qid2"), col(questionCol).as("question"),
        hist.as("__hist"))
      .withColumn("rewritten_query", rewriteUdf(col("question"), col("__hist")))
      .drop("__hist")
      .withColumn("__emb", graft.embed.EmbedText.embedText(col("rewritten_query"), embedder))
      .localCheckpoint()
    def fetch(n: Int, m: String): DataFrame = index match {
      case Some((ivfModel, nProbe)) =>
        val clustered =
          if (store.columns.contains("cluster_id"))
            store.select(col(idCol), col(embCol), col("cluster_id"))
          else Ivf.assign(store.select(col(idCol), col(embCol)), embCol, ivfModel)
        Ivf.searchBatch(q, clustered, "__qid2", "__emb", idCol, embCol,
          ivfModel, n, nProbe, m, storePath = indexStorePath)
      case None => Similarity.similarityJoin(
        q, store.select(col(idCol), col(embCol)),
        "__qid2", "__emb", idCol, embCol, k = n, metric = m)
    }
    val hits = searchType match {
      case SearchType.Similarity => fetch(topK, metric)
      case SearchType.ScoreThreshold(t) =>
        // kept rows are a rank prefix (relevance is monotone in the
        // score ordering), matching the single-question leg exactly
        fetch(topK, metric).filter(Similarity.relevance(metric, col("score")) >= t)
      case SearchType.Mmr(fetchK, lm) =>
        // fetch (exhaustive join or IVF-probed) feeds the shared
        // distributed greedy; COSINE throughout, like the reference's
        // LangChain MMR (cosine over raw embeddings whatever the metric)
        val fetched = fetch(fetchK, "COSINE")
          .join(store.select(col(idCol), col(embCol).as("__cemb")), idCol)
          .select(col("__qid2").as("__qid"), col("rank"),
            col(idCol).as("__cid"), col("score"), col("__cemb"))
        Similarity.mmrRerankFetched(fetched, "__qid2", idCol, topK, lm)
          .withColumnRenamed("mmr_rank", "rank")
      case SearchType.Hybrid(termsOf, cRrf, fetchK, lexIdx) =>
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.types.{StringType, StructField, StructType}
        // per-question term sets come from the REWRITTEN queries —
        // driver-side, bounded by the same contract that broadcasts the
        // question batch; distinct pairs so no term double-counts
        val pairs = new java.util.ArrayList[Row]()
        q.select(col("__qid2"), col("rewritten_query")).collect().foreach { r =>
          termsOf(r.getString(1)).distinct.foreach(t => pairs.add(Row(r.get(0), t)))
        }
        val vec = fetch(fetchK, metric).select(col("__qid2"), col(idCol), col("rank"))
        val contrib = lit(1.0) / (lit(cRrf) + col("rank"))
        val legs =
          if (pairs.isEmpty) vec.select(col("__qid2"), col(idCol), contrib.as("__c"))
          else {
            val qt = questions.sparkSession.createDataFrame(pairs, StructType(Seq(
              q.schema("__qid2").copy(name = "__qid2"),
              StructField("__term", StringType, nullable = false))))
            // ONE pruned postings read (maintained index) or ONE corpus
            // scan ranks every question's term set — never a per-question
            // loop; questions with no terms simply have no lexical rows,
            // so their fusion degrades to the vector leg, like `answer`
            val kw = lexIdx match {
              case Some(idx) => Keyword.bm25IndexedBatchRank(
                  questions.sparkSession, idx, qt, topKPerQuery = fetchK,
                  store = indexStorePath)
                .withColumnRenamed("id", idCol)
              case None => Keyword.bm25BatchRank(store.select(col(idCol), col(textCol)),
                idCol, textCol, qt, topKPerQuery = fetchK)
            }
            vec.select(col("__qid2"), col(idCol), contrib.as("__c"))
              .unionByName(kw.select(col("__qid2"), col(idCol), contrib.as("__c")))
          }
        // per-question reciprocal-rank fusion — the [[Keyword.rrfFuse]]
        // arithmetic with the qid added to every key: the same
        // contributions, ranked on the same `Tables.micros` of their sum
        // with the same id tiebreak as `rrfFuse` and the per-question
        // path's `rrfFuseRanked`. An id's sum has at most two terms, one
        // per leg, and a two-term double sum does not depend on order,
        // so batch ≡ per-question bit for bit
        legs.groupBy(col("__qid2"), col(idCol))
          .agg(sum(col("__c")).as("__raw"))
          .select(col("__qid2"), col(idCol), graft.Tables.micros(col("__raw")).as("__rrf"))
          .withColumn("rank", row_number().over(
            Window.partitionBy(col("__qid2")).orderBy(col("__rrf").desc, col(idCol))))
          .filter(col("rank") <= topK)
          .select(col("__qid2"), col(idCol), col("rank"))
    }
    // rank-ordered context + provenance per question (A9/V10); the hits
    // side is k×|questions| rows — AQE broadcasts it against the store
    val perQ = hits
      .join(store.select(col(idCol), col(textCol)), Seq(idCol))
      .groupBy(col("__qid2"))
      .agg(concat_ws("\n\n", transform(
          array_sort(collect_list(struct(col("rank"), col(textCol).as("t")))),
          x => x.getField("t"))).as("context"),
        transform(
          array_sort(collect_list(struct(col("rank"), col(idCol).cast("string").as("i")))),
          x => x.getField("i")).as("retrieved_ids"))
    val gradeUdf = udf((rq: String, c: String) => grader.relevant(rq, c))
    val genUdf = udf((c: String, rq: String) => model.generate(sysPrompt, c, rq))
    q.join(perQ, Seq("__qid2"), "left")
      .withColumn("context", coalesce(col("context"), lit("")))
      .withColumn("retrieved_ids",
        coalesce(col("retrieved_ids"), array().cast("array<string>")))
      .withColumn("relevant", gradeUdf(col("rewritten_query"), col("context")))
      .withColumn("answer",
        when(col("relevant"), genUdf(col("context"), col("rewritten_query")))
          .otherwise(genUdf(lit(""), col("rewritten_query"))))
      .select(col("__qid2").as(qidCol), col("question"), col("rewritten_query"),
        col("answer"), col("context"), col("retrieved_ids"), col("relevant"))
  }

  /** SFT training-pair extraction — the chat-log-to-training-data prep
    * step: one example per ASSISTANT turn, pairing its `response` with
    * the formatted conversation `context` before it (most recent
    * `maxContextTurns` turns as `"role: content"` lines, oldest first).
    * Returns `(sessionCol, seqCol, n_context_turns, context, response)`
    * ordered within session; an assistant turn opening its session
    * gets an empty context over 0 turns.
    *
    * Scale shape: one per-SESSION window (conversations are bounded —
    * tens of turns, never corpus-sized), so the exchange keys on
    * session and no global ordering exists anywhere; the context
    * assembly is a frame-ordered collect_list sliced to the turn cap,
    * all map-side after the one partition exchange.
    */
  def sftPairs(messages: DataFrame, sessionCol: String, seqCol: String,
               roleCol: String, contentCol: String,
               maxContextTurns: Int = 4): DataFrame = {
    require(maxContextTurns >= 0, s"maxContextTurns must be >= 0 (got $maxContextTurns)")
    val w = Window.partitionBy(col(sessionCol)).orderBy(col(seqCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    messages
      .withColumn("__turn", concat(col(roleCol), lit(": "), col(contentCol)))
      .withColumn("__ctx", collect_list(col("__turn")).over(w))
      .filter(col(roleCol) === "assistant")
      .select(col(sessionCol), col(seqCol),
        least(size(col("__ctx")), lit(maxContextTurns)).cast("long")
          .as("n_context_turns"),
        concat_ws("\n", slice(col("__ctx"),
          greatest(size(col("__ctx")) - maxContextTurns + 1, lit(1)),
          lit(maxContextTurns))).as("context"),
        col(contentCol).as("response"))
  }
}
