package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.ops.{Chat, Ingest, Ivf, Keyword, Testbed, VersionedStore}

/** The reference's FULL §3.1+§3.3 lifecycle — ingest → index → serve →
  * evaluate — composed as ONE oracle-checked query. Every leg is
  * individually hash-green elsewhere; this entry pins the COMPOSITION a
  * real user runs: S14/S15 versioned-store merge ingestion, S16 IVF
  * clustering + the lexical sidecar, hybrid-dispatch [[Chat.answerBatch]]
  * over a QA set, V6 grading, and the A2-A4 correctness aggregates, all
  * in one plan whose DuckDB oracle recomputes the retrieval rankings,
  * fusion, routing (grounded vs plain generation) and aggregates
  * relationally from the same parquet tables.
  */
object RagPipeline {
  type Q = (SparkSession, String) => DataFrame

  private val K1 = 1.2
  private val B = 0.75
  private val RrfC = 60
  private val FetchK = 50
  private val TopK = 4

  /** Deterministic embedding service stand-in: a lookup table from
    * question text to its precomputed vector (the reference's embed API
    * returns server-side vectors the engine never computes — this is
    * that contract with the vectors sourced from the embeddings table,
    * so the DuckDB oracle can recompute retrieval exactly). Question
    * texts are unique by construction (qid-prefixed).
    */
  private final case class LookupEmbedder(vectors: Map[String, Seq[Float]])
      extends graft.embed.Embedder {
    val dim: Int = vectors.valuesIterator.next().length
    def embed(text: String): Array[Float] = vectors.get(text) match {
      case Some(v) => v.toArray
      case None => throw new IllegalArgumentException(
        s"LookupEmbedder has no vector for: $text")
    }
  }

  /** Deterministic rewrite model shared by the provenance rows and the
    * e2e pipeline: rewritten = question + last history turn (value the
    * oracle recomputes as a string concat).
    */
  private object CtxRewriteModel extends Chat.ChatModel {
    def rewrite(q: String, h: Seq[String]): String = s"$q ${h.last}"
    def generate(sys: String, c: String, q: String): String =
      Chat.TemplateModel.generate(sys, c, q)
  }

  /** Shared fixture for the V6/V7/V8/V10 seam rows (each seam gets its
    * OWN oracle row so a regression names the seam instead of failing
    * `rag_e2e_pipeline` opaquely — reference `chatbot.py:223-287`
    * grading, `:290-313` grounded generation, `:330-341` plain
    * generation, `:272-284` provenance): corpus = docs ≥ 20; 20
    * questions from docs < 20. `qid % 4 == 0` questions are synthetic
    * non-words (no token overlap with any corpus text ⇒ the grading NO
    * branch / plain generation); the rest carry the doc's first 5
    * tokens (YES branch / grounded). Even qids carry a one-turn
    * history for the V5 rewrite gate. The embedder is the
    * deterministic lookup contract, primed for both the raw and
    * rewritten spelling of every question with the SAME vector. Even
    * if a synthetic token ever did appear in a corpus text, both
    * engines replay the identical overlap arithmetic — branch
    * diversity is test power, not a correctness dependency.
    */
  private def seamFixture(s: SparkSession, d: String)
      : (DataFrame, DataFrame, LookupEmbedder) = {
    import s.implicits._
    val joined = documents(s, d).join(embeddings(s, d), $"doc_id" === $"vec_id")
    val corpus = joined.filter($"doc_id" >= 20)
      .select($"doc_id", $"text", $"embedding")
    val qa = joined.filter($"doc_id" < 20)
      .select($"doc_id".as("qid"),
        when($"doc_id" % 4 === 0,
          concat(lit("q"), $"doc_id".cast("string"), lit(" zzqx7kq vvkw9jx")))
          .otherwise(concat(lit("q"), $"doc_id".cast("string"), lit(" "),
            concat_ws(" ", slice(split(trim($"text"), "\\s+"), 1, 5))))
          .as("question"),
        $"lang".as("topic"), $"embedding")
      .withColumn("hist",
        when($"qid" % 2 === 0,
          array(concat(lit("prior turn about "), $"topic")))
          .otherwise(array().cast("array<string>")))
    val qvecs = qa
      .select($"question", $"embedding",
        concat($"question", lit(" prior turn about "), $"topic").as("rw"))
      .collect()
      .flatMap(r => Seq(r.getString(0) -> r.getSeq[Float](1),
                        r.getString(2) -> r.getSeq[Float](1))).toMap
    (corpus, qa, LookupEmbedder(qvecs))
  }

  val queries: Map[String, Q] = Map(
    // V6 as its own row: per-question grading branch + routing decision
    // + suite-level branch counts, all replayed relationally by the
    // oracle from the overlap arithmetic (reference chatbot.py:223-287:
    // the binary relevance judge routes grounded vs plain generation).
    // No history/rewrite here — the grade runs on the raw question, so
    // a failure isolates OverlapGrader, not the V5 gate.
    "rag_grading_branches" -> ((s, d) => {
      import s.implicits._
      val (corpus, qa, emb) = seamFixture(s, d)
      Chat.answerBatch(
          qa.select($"qid", $"question"), "qid", "question",
          corpus, "doc_id", "text", "embedding",
          emb, Chat.TemplateModel, Chat.OverlapGrader,
          topK = TopK, useHistory = false)
        .select($"qid", $"relevant",
          when($"relevant", "grounded").otherwise("plain").as("route"),
          sum(when($"relevant", 1L).otherwise(0L))
            .over(Window.partitionBy(lit(1))).as("n_grounded"),
          sum(when($"relevant", 0L).otherwise(1L))
            .over(Window.partitionBy(lit(1))).as("n_plain"))
        .orderBy($"qid")
    }),

    // V7/V8 as their own row: the template answer string (grounded
    // fill chatbot.py:290-313, plain fill :330-341) plus the chunk
    // count it embeds, both recomputed byte-for-byte by the oracle.
    // The grounded branch counts non-empty \n\n chunks of the REAL
    // retrieved context; the plain branch must say 0 chunks.
    "rag_generation_template" -> ((s, d) => {
      import s.implicits._
      val (corpus, qa, emb) = seamFixture(s, d)
      Chat.answerBatch(
          qa.select($"qid", $"question"), "qid", "question",
          corpus, "doc_id", "text", "embedding",
          emb, Chat.TemplateModel, Chat.OverlapGrader,
          topK = TopK, useHistory = false)
        .select($"qid", $"relevant",
          when($"relevant",
            size(filter(split($"context", "\n\n"), x => length(x) > 0)))
            .otherwise(0).cast("long").as("n_chunks"),
          $"answer")
        .orderBy($"qid")
    }),

    // V10 + V5 as their own row: provenance (`retrieved_ids` in rank
    // order, chatbot.py:272-284) and the rewrite gate (history-on ∧
    // ctx-prompt-set ∧ prior turns ⇒ rewritten = question + last turn;
    // odd qids decline the gate and flow through untouched) — the
    // oracle pins the rewritten string as a concat and re-derives the
    // id list from the cosine ranking.
    "rag_provenance_rewrite" -> ((s, d) => {
      import s.implicits._
      val (corpus, qa, emb) = seamFixture(s, d)
      Chat.answerBatch(
          qa.select($"qid", $"question", $"hist"), "qid", "question",
          corpus, "doc_id", "text", "embedding",
          emb, CtxRewriteModel, Chat.OverlapGrader,
          topK = TopK, historyCol = Some("hist"),
          useHistory = true, ctxPrompt = Some("rephrase for retrieval"))
        .select($"qid", $"question", $"rewritten_query",
          concat_ws(",", $"retrieved_ids").as("retrieved"),
          size($"retrieved_ids").cast("long").as("n_retrieved"))
        .orderBy($"qid")
    }),

    // End-to-end: even-id corpus rows land first (S14), then the FULL
    // corpus merge-appends through the S15 anti-join (evens contribute
    // zero rows), the store is IVF-clustered (S16) and lexically
    // indexed, and a 20-question QA set (question = qid tag + the doc's
    // first 5 tokens; reference answer = the doc) is answered by the
    // hybrid-dispatch batch path at FULL probe — vector leg ≡ exhaustive
    // cosine, lexical leg from the maintained index (staleness-guarded
    // against the store), RRF-fused — then graded (V6 overlap grader
    // routes grounded vs plain generation) and keyword-judged, with the
    // A2/A3 correctness aggregates as window columns. Everything is
    // relationally recomputable: the oracle re-derives both retrieval
    // legs, the fusion, the routing decision, the template answer, the
    // judge, and the aggregates from the same tables.
    "rag_e2e_pipeline" -> ((s, d) => {
      import s.implicits._
      val root = java.nio.file.Files.createTempDirectory("rag-e2e").toString
      val store = s"$root/store"
      val idx = s"$root/lexidx"
      // pin the docs⨝embeddings join once: it feeds BOTH ingest legs and
      // the QA fixture — without the pin each append re-executes the
      // join (two scans + one shuffle per consumer); eager count so the
      // concurrent consumers can't race the cache population
      // leg labels (guide §1.5): the composed lifecycle is opaque in the
      // UI/OptProbe without them — each setJobDescription below names the
      // leg the subsequent jobs belong to
      def leg(name: String): Unit =
        s.sparkContext.setJobDescription(s"rag_e2e: $name")
      val joined = documents(s, d)
        .join(embeddings(s, d), $"doc_id" === $"vec_id")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // V5 provenance leg: EVEN qids carry a one-turn history, so the
      // contextualization gate (history-on ∧ ctx-prompt-set ∧ prior
      // turns) rewrites their query — deterministically (question +
      // last turn), so the oracle recomputes the rewritten string, the
      // lexical-leg terms it feeds, the grading, and the template
      // answer; ODD qids have no history and the gate declines
      val qa = joined.filter($"doc_id" < 20)
        .select($"doc_id".as("qid"),
          concat(lit("q"), $"doc_id".cast("string"), lit(" "),
            concat_ws(" ", slice(split(trim($"text"), "\\s+"), 1, 5))).as("question"),
          $"text".as("reference_answer"), $"lang".as("topic"), $"embedding")
        .withColumn("hist",
          when($"qid" % 2 === 0,
            array(concat(lit("prior turn about "), $"topic")))
          .otherwise(array().cast("array<string>")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // both pins are released and the leg label cleared however the
      // body ends: an exception mid-lifecycle must not leak cached
      // blocks or label the thread's later jobs as rag_e2e legs
      try {
        leg("pin docs⨝embeddings")
        joined.count(): Unit
        val corpus = joined.filter($"doc_id" >= 20)
          .select($"doc_id", $"text", $"embedding")
        // S14 + S15: half the corpus lands, then the full set merge-appends
        // through the anti-join — re-ingested rows contribute nothing
        leg("S14 first append")
        VersionedStore.append(s, store, corpus.filter($"doc_id" % 2 === 0))
        val existing = VersionedStore.read(s, store).get.select("doc_id")
        leg("S15 anti-join merge append")
        Ingest.appendRespectingLayout(s, store,
          corpus.join(existing.hint("SHUFFLE_HASH"), Seq("doc_id"), "left_anti")): Unit
        // S16: cluster-partition + model sidecar, THEN the lexical sidecar
        // (stamped at the post-compaction version — no staleness window)
        leg("S16 IVF indexStore")
        val model = Ivf.indexStore(s, store, "doc_id", "embedding", k = 8)
        leg("lexical index build")
        Keyword.buildLexicalIndexForStore(s, store, "doc_id", "text", idx)
        val stored = VersionedStore.read(s, store).get
        // the embedding lookup is primed for BOTH spellings of each
        // question (raw and rewritten) with the SAME vector — the embed
        // service contract: one semantic query, one vector
        leg("QA fixture collect")
        val qvecs = qa
          .select($"question", $"embedding",
            concat($"question", lit(" prior turn about "), $"topic").as("rw"))
          .collect()
          .flatMap(r => Seq(r.getString(0) -> r.getSeq[Float](1),
                            r.getString(2) -> r.getSeq[Float](1))).toMap
        object CtxRewriteModel extends Chat.ChatModel {
          def rewrite(q: String, h: Seq[String]): String = s"$q ${h.last}"
          def generate(sys: String, c: String, q: String): String =
            Chat.TemplateModel.generate(sys, c, q)
        }
        val answered = Chat.answerBatch(
          qa.select($"qid", $"question", $"hist"), "qid", "question",
          stored, "doc_id", "text", "embedding",
          LookupEmbedder(qvecs), CtxRewriteModel, Chat.OverlapGrader,
          topK = TopK, historyCol = Some("hist"), index = Some((model, 8)),
          searchType = Chat.SearchType.Hybrid(
            c = RrfC, fetchKPerLeg = FetchK, lexicalIndexPath = Some(idx)),
          indexStorePath = Some(store),
          useHistory = true, ctxPrompt = Some("rephrase for retrieval"))
        leg("answer + grade + aggregate")
        val wTopic = Window.partitionBy($"topic")
        val wAll = Window.partitionBy(lit(1))
        qa.select($"qid", $"reference_answer", $"topic")
          .join(answered, Seq("qid"))
          .withColumn("correct", Testbed.keywordJudgeCol($"answer", $"reference_answer"))
          .select($"qid", $"topic", $"rewritten_query",
            concat_ws(",", $"retrieved_ids").as("retrieved"),
            $"relevant", $"correct", $"answer",
            count(lit(1)).over(wTopic).as("n_topic"),
            // k/n ratios with n ≤ 20: provably tie-free at round(·, 6) —
            // a tie needs frac(k·10⁶/n) = ½, i.e. n | 2k·10⁶ with an odd
            // quotient, impossible for every n ≤ 20 (all even n ≤ 20
            // divide 10⁶ exactly), and the nearest boundary sits ≥
            // 1/(2n)·10⁻⁶ away, 8 orders above double error — so these
            // may keep round() (the Tables.micros convention's safe case)
            round(avg($"correct".cast("int")).over(wTopic), 6).as("topic_correctness"),
            round(avg($"correct".cast("int")).over(wAll), 6).as("overall_correctness"))
          .orderBy($"qid")
          .localCheckpoint() // 20 rows, eager: materialized before the release
      } finally {
        qa.unpersist()
        joined.unpersist()
        s.sparkContext.setJobDescription(null)
      }
    }),

    // S12/S17: the catalog scan over store manifests — two ingests with
    // distinct configs land their JSON sidecar manifests (the reference's
    // GENAI table-comment registry, src/server/utils/embedding.py:43-58),
    // and listStores reads the catalog back. The oracle pins the configs
    // as literals: the engine must round-trip every field through the
    // manifest write + JSON parse.
    // V9 as a hash-exact query: the OpenAI-wire response assembly
    // (id = UUIDv3 over question+answer replayed as md5 hex surgery,
    // whitespace token usage accounting, finish-reason normalization
    // incl. the unknown-reason lowercase path, the full wire JSON by
    // explicit concat) over per-doc synthetic QA rows. The oracle
    // rebuilds the identical byte string.
    "chat_response_shape" -> ((s, d) => {
      import s.implicits._
      val id = $"doc_id".cast("string")
      val q = concat(lit("what does document "), id, lit(" describe"))
      val ctx = concat(lit("context tokens for doc "), id)
      val ans = concat(lit("document "), id, lit(" covers topic "),
        pmod($"doc_id", lit(7)).cast("string"))
      val raw = when(pmod($"doc_id", lit(3)) === 0, "COMPLETE")
        .when(pmod($"doc_id", lit(3)) === 1, "MAX_TOKENS")
        .otherwise(lit("SAFETY"))
      documents(s, d).select($"doc_id",
        graft.ops.Chat.responseJson(q, ctx, ans, "graft-chat",
          1754006400L, raw).as("response_json"))
        .orderBy($"doc_id")
    }),

    "store_catalog_scan" -> ((s, d) => {
      import s.implicits._
      val root = java.lang.System.getProperty("java.io.tmpdir") +
        s"/graft-catalog-${d.replaceAll("[^A-Za-z0-9]", "_")}-" +
        s"${java.lang.ProcessHandle.current().pid()}"
      graft.Fs.delete(s, root)
      val docs = documents(s, d).filter($"doc_id" < 10).select($"doc_id", $"text")
      Ingest.ingest(s, docs, "doc_id", "text", root,
        Ingest.StoreConfig("alpha", "hash64", 200, 40),
        graft.embed.HashEmbedder(64))
      Ingest.ingest(s, docs, "doc_id", "text", root,
        Ingest.StoreConfig("beta", "hash32", 300, 0, "EUCLIDEAN_DISTANCE", "IVF"),
        graft.embed.HashEmbedder(32))
      Ingest.listStores(s, root).orderBy($"alias")
    }),

    // S17 graduated to a full oracle row: the manifest/table-comment
    // metadata SHAPE itself. Two stores ingest through the real
    // pipeline, then the raw manifest sidecars read back as
    // (file, json) — the oracle pins BOTH the reference table-name
    // derivation (upper, non-alnum -> '_') and the exact JSON field
    // order/spelling of StoreConfig.toJson as literals.
    "store_manifest_roundtrip" -> ((s, d) => {
      import s.implicits._
      val root = java.lang.System.getProperty("java.io.tmpdir") +
        s"/graft-manifest-${d.replaceAll("[^A-Za-z0-9]", "_")}-" +
        s"${java.lang.ProcessHandle.current().pid()}"
      graft.Fs.delete(s, root)
      val docs = documents(s, d).filter($"doc_id" < 10).select($"doc_id", $"text")
      Ingest.ingest(s, docs, "doc_id", "text", root,
        Ingest.StoreConfig("alpha", "hash64", 200, 40),
        graft.embed.HashEmbedder(64))
      Ingest.ingest(s, docs, "doc_id", "text", root,
        Ingest.StoreConfig("beta", "hash32", 300, 0, "EUCLIDEAN_DISTANCE", "IVF"),
        graft.embed.HashEmbedder(32))
      Ingest.listManifests(s, root).orderBy($"file")
    }),
  )

  /** Shared oracle prefix for the seam rows: the [[seamFixture]]
    * corpus/questions, the cosine top-4 retrieval replay (same
    * `score DESC, doc_id` tiebreak as [[graft.ops.Similarity
    * .similarityJoin]]), rank-ordered provenance + context concat, and
    * the overlap grade recomputed relationally.
    */
  private val SeamCte: String =
    s"""WITH corpus AS (
       |  SELECT d.doc_id, d.text, e.embedding
       |  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
       |  WHERE d.doc_id >= 20),
       |qa AS (
       |  SELECT d.doc_id AS qid,
       |    CASE WHEN d.doc_id % 4 = 0
       |      THEN 'q' || d.doc_id || ' zzqx7kq vvkw9jx'
       |      ELSE 'q' || d.doc_id || ' ' ||
       |        array_to_string(regexp_split_to_array(trim(d.text), '\\s+')[1:5], ' ')
       |    END AS question,
       |    d.lang AS topic, e.embedding AS qemb
       |  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
       |  WHERE d.doc_id < 20),
       |top4 AS (
       |  SELECT qid, doc_id, rank FROM (
       |    SELECT q.qid, c.doc_id, row_number() OVER (PARTITION BY q.qid
       |      ORDER BY list_cosine_similarity(c.embedding::DOUBLE[], q.qemb::DOUBLE[]) DESC,
       |      c.doc_id) AS rank
       |    FROM qa q, corpus c)
       |  WHERE rank <= $TopK),
       |perq AS (
       |  SELECT t.qid,
       |    string_agg(c.doc_id::VARCHAR, ',' ORDER BY t.rank) AS retrieved,
       |    string_agg(c.text, chr(10) || chr(10) ORDER BY t.rank) AS context
       |  FROM top4 t JOIN corpus c ON t.doc_id = c.doc_id
       |  GROUP BY t.qid),
       |graded AS (
       |  SELECT q.qid, q.question, q.topic, p.retrieved, p.context,
       |    list_has_any(
       |      list_filter(regexp_split_to_array(lower(q.question), '\\s+'), t -> t <> ''),
       |      regexp_split_to_array(lower(p.context), '\\s+')) AS relevant
       |  FROM qa q JOIN perq p ON p.qid = q.qid)""".stripMargin

  val oracles: Map[String, String] = Map(
    "rag_grading_branches" ->
      s"""$SeamCte
         |SELECT qid, relevant,
         |  CASE WHEN relevant THEN 'grounded' ELSE 'plain' END AS route,
         |  CAST(sum(CASE WHEN relevant THEN 1 ELSE 0 END) OVER () AS BIGINT) AS n_grounded,
         |  CAST(sum(CASE WHEN relevant THEN 0 ELSE 1 END) OVER () AS BIGINT) AS n_plain
         |FROM graded ORDER BY qid""".stripMargin,
    "rag_generation_template" ->
      s"""$SeamCte
         |SELECT qid, relevant,
         |  CAST(CASE WHEN relevant THEN len(list_filter(
         |      string_split(context, chr(10) || chr(10)), x -> x <> ''))
         |    ELSE 0 END AS BIGINT) AS n_chunks,
         |  '[you are helpful] Q: ' || question || ' | grounded on ' ||
         |    len(list_filter(string_split(
         |      CASE WHEN relevant THEN context ELSE '' END, chr(10) || chr(10)),
         |      x -> x <> '')) || ' chunks' AS answer
         |FROM graded ORDER BY qid""".stripMargin,
    "rag_provenance_rewrite" ->
      s"""$SeamCte
         |SELECT g.qid, g.question,
         |  CASE WHEN g.qid % 2 = 0
         |    THEN g.question || ' prior turn about ' || g.topic
         |    ELSE g.question END AS rewritten_query,
         |  g.retrieved,
         |  CAST(len(string_split(g.retrieved, ',')) AS BIGINT) AS n_retrieved
         |FROM graded g ORDER BY g.qid""".stripMargin,
    // The whole lifecycle recomputed relationally: store contents ≡ the
    // joined corpus (the merge is idempotent by construction), vector
    // leg = cosine rank, lexical leg = the BM25 CTE with per-question
    // terms, RRF fusion, rank-ordered context, the overlap-grader
    // routing, the template answer, the keyword judge, and the window
    // aggregates — all from the same parquet tables.
    // the two ingested configs as literals — every field must round-trip
    // the manifest write + JSON parse
    "chat_response_shape" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    'what does document ' || doc_id::VARCHAR || ' describe' AS q,
        |    'context tokens for doc ' || doc_id::VARCHAR AS ctx,
        |    'document ' || doc_id::VARCHAR || ' covers topic ' ||
        |      (doc_id % 7)::VARCHAR AS ans,
        |    CASE doc_id % 3 WHEN 0 THEN 'COMPLETE' WHEN 1 THEN 'MAX_TOKENS'
        |      ELSE 'SAFETY' END AS raw
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, ans,
        |    CASE raw WHEN 'COMPLETE' THEN 'stop' WHEN 'MAX_TOKENS' THEN 'length'
        |      ELSE lower(raw) END AS finish,
        |    md5(q || ans) AS h,
        |    len(list_filter(regexp_split_to_array(trim(q), '\s+'),
        |        x -> len(x) > 0)) +
        |    len(list_filter(regexp_split_to_array(trim(ctx), '\s+'),
        |        x -> len(x) > 0)) AS prompt,
        |    len(list_filter(regexp_split_to_array(trim(ans), '\s+'),
        |        x -> len(x) > 0)) AS completion
        |  FROM t)
        |SELECT doc_id,
        |  '{"id":"chatcmpl-' || substr(h, 1, 8) || '-' || substr(h, 9, 4) ||
        |  '-3' || substr(h, 14, 3) || '-' ||
        |  CASE WHEN substr(h, 17, 1) IN ('0', '4', '8', 'c') THEN '8'
        |       WHEN substr(h, 17, 1) IN ('1', '5', '9', 'd') THEN '9'
        |       WHEN substr(h, 17, 1) IN ('2', '6', 'a', 'e') THEN 'a'
        |       ELSE 'b' END ||
        |  substr(h, 18, 3) || '-' || substr(h, 21, 12) ||
        |  '","created":1754006400,"model":"graft-chat","usage":{"prompt_tokens":'
        |  || prompt::VARCHAR || ',"completion_tokens":' || completion::VARCHAR ||
        |  ',"total_tokens":' || (prompt + completion)::VARCHAR ||
        |  '},"choices":[{"index":0,"role":"assistant","content":"' || ans ||
        |  '","finish_reason":"' || finish || '"}]}' AS response_json
        |FROM c ORDER BY doc_id""".stripMargin,
    "store_catalog_scan" ->
      """SELECT alias, model, chunk_size, chunk_overlap, distance_metric,
        |  index_type FROM (VALUES
        |  ('alpha', 'hash64', 200::INTEGER, 40::INTEGER, 'COSINE', 'HNSW'),
        |  ('beta', 'hash32', 300::INTEGER, 0::INTEGER, 'EUCLIDEAN_DISTANCE', 'IVF')
        |) t(alias, model, chunk_size, chunk_overlap, distance_metric, index_type)
        |ORDER BY alias""".stripMargin,
    "store_manifest_roundtrip" ->
      """SELECT * FROM (VALUES
        |  ('ALPHA_HASH64_200_40_COSINE_HNSW.manifest.json',
        |   '{"alias":"alpha","model":"hash64","chunk_size":200,"chunk_overlap":40,"distance_metric":"COSINE","index_type":"HNSW"}'),
        |  ('BETA_HASH32_300_0_EUCLIDEAN_DISTANCE_IVF.manifest.json',
        |   '{"alias":"beta","model":"hash32","chunk_size":300,"chunk_overlap":0,"distance_metric":"EUCLIDEAN_DISTANCE","index_type":"IVF"}')
        |) t(file, json) ORDER BY file""".stripMargin,
    "rag_e2e_pipeline" ->
      s"""WITH corpus AS (
         |  SELECT d.doc_id, d.text, e.embedding
         |  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
         |  WHERE d.doc_id >= 20),
         |qa0 AS (
         |  SELECT d.doc_id AS qid,
         |    'q' || d.doc_id || ' ' ||
         |      array_to_string(regexp_split_to_array(trim(d.text), '\\s+')[1:5], ' ') AS question,
         |    d.text AS reference_answer, d.lang AS topic, e.embedding AS qemb
         |  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
         |  WHERE d.doc_id < 20),
         |qa AS (
         |  SELECT qid, question, reference_answer, topic, qemb,
         |    CASE WHEN qid % 2 = 0
         |      THEN question || ' prior turn about ' || topic
         |      ELSE question END AS rewritten
         |  FROM qa0),
         |vecleg AS (
         |  SELECT qid, doc_id, rank FROM (
         |    SELECT q.qid, c.doc_id, row_number() OVER (PARTITION BY q.qid
         |      ORDER BY list_cosine_similarity(c.embedding::DOUBLE[], q.qemb::DOUBLE[]) DESC,
         |      c.doc_id) AS rank
         |    FROM qa q, corpus c)
         |  WHERE rank <= $FetchK),
         |qterms AS (
         |  SELECT DISTINCT qid, term FROM (
         |    SELECT qid, unnest(regexp_split_to_array(rewritten, '\\s+')) AS term FROM qa)
         |  WHERE term <> ''),
         |tf AS (
         |  SELECT doc_id, dl, term, count(*) AS tf FROM (
         |    SELECT doc_id, len(regexp_split_to_array(trim(text), '\\s+')) AS dl,
         |      unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
         |    FROM corpus)
         |  WHERE term IN (SELECT term FROM qterms)
         |  GROUP BY doc_id, dl, term),
         |stats AS (
         |  SELECT count(*) AS n,
         |    sum(len(regexp_split_to_array(trim(text), '\\s+'))) AS sumdl
         |  FROM corpus),
         |dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |kwscore AS (
         |  SELECT qt.qid, tf.doc_id, round(sum(
         |      ln(1.0 + (n - df + 0.5) / (df + 0.5)) * (tf * ${K1 + 1.0}) /
         |      (tf + $K1 * (1.0 - $B + $B * dl / (sumdl::DOUBLE / n)))), 6) AS bm25
         |  FROM tf JOIN dfx USING (term) JOIN qterms qt USING (term), stats
         |  GROUP BY qt.qid, tf.doc_id),
         |kwleg AS (
         |  SELECT qid, doc_id, rank FROM (
         |    SELECT qid, doc_id,
         |      row_number() OVER (PARTITION BY qid ORDER BY bm25 DESC, doc_id) AS rank
         |    FROM kwscore)
         |  WHERE rank <= $FetchK),
         |fused AS (
         |  SELECT qid, doc_id,
         |    CAST(floor(sum(c) * 1000000 + 0.5) AS BIGINT) AS rrf FROM (
         |    SELECT qid, doc_id, 1.0 / ($RrfC + rank) AS c FROM vecleg
         |    UNION ALL
         |    SELECT qid, doc_id, 1.0 / ($RrfC + rank) AS c FROM kwleg)
         |  GROUP BY qid, doc_id),
         |top4 AS (
         |  SELECT qid, doc_id, rank FROM (
         |    SELECT qid, doc_id,
         |      row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, doc_id) AS rank
         |    FROM fused)
         |  WHERE rank <= $TopK),
         |perq AS (
         |  SELECT t.qid,
         |    string_agg(c.doc_id::VARCHAR, ',' ORDER BY t.rank) AS retrieved,
         |    string_agg(c.text, chr(10) || chr(10) ORDER BY t.rank) AS context
         |  FROM top4 t JOIN corpus c ON t.doc_id = c.doc_id
         |  GROUP BY t.qid),
         |routed AS (
         |  SELECT q.qid, q.topic, q.rewritten, q.reference_answer, p.retrieved,
         |    list_has_any(
         |      list_filter(regexp_split_to_array(lower(q.rewritten), '\\s+'), t -> t <> ''),
         |      regexp_split_to_array(lower(p.context), '\\s+')) AS relevant,
         |    p.context
         |  FROM qa q JOIN perq p ON p.qid = q.qid),
         |ans AS (
         |  SELECT qid, topic, rewritten, retrieved, relevant, reference_answer,
         |    '[you are helpful] Q: ' || rewritten || ' | grounded on ' ||
         |      len(list_filter(
         |        string_split(CASE WHEN relevant THEN context ELSE '' END,
         |          chr(10) || chr(10)), x -> x <> '')) || ' chunks' AS answer
         |  FROM routed),
         |judged AS (
         |  SELECT qid, topic, rewritten, retrieved, relevant, answer,
         |    coalesce(
         |      len(regexp_split_to_array(reference_answer, '\\s+')[1]) > 0 AND
         |      contains(lower(answer), lower(regexp_split_to_array(reference_answer, '\\s+')[1])),
         |      false) AS correct
         |  FROM ans)
         |SELECT qid, topic, rewritten AS rewritten_query, retrieved, relevant,
         |  correct, answer,
         |  count(*) OVER (PARTITION BY topic) AS n_topic,
         |  round(avg(correct::INT) OVER (PARTITION BY topic), 6) AS topic_correctness,
         |  round(avg(correct::INT) OVER (), 6) AS overall_correctness
         |FROM judged ORDER BY qid""".stripMargin,
  )
}
