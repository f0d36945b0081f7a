package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Checkout
import graft.Tables._
import graft.ops.{Dedup, Split, TextAnalysis}

/** Text-analysis + splitter parity queries over `documents`. Ratios are
  * exact integer divisions (hash-stable); counts cast to BIGINT on both
  * sides.
  */
object TextQueries {
  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // Token counting (whitespace tokenizer).
    "text_token_count" -> ((s, d) => {
      import s.implicits._
      documents(s, d)
        .select($"doc_id",
          TextAnalysis.tokenCount($"text").as("n_tokens"),
          length($"text").cast("long").as("n_chars"))
        .orderBy($"doc_id")
    }),

    // Quality scoring: vocabulary richness, stopword ratio, length —
    // every component an exact integer division.
    "text_quality_score" -> ((s, d) => {
      import s.implicits._
      val t = TextAnalysis.tokens($"text")
      documents(s, d)
        .select($"doc_id",
          TextAnalysis.tokenCount($"text").as("n_tokens"),
          TextAnalysis.distinctRatio(t).as("distinct_ratio"),
          (TextAnalysis.stopwordHits(t, TextAnalysis.StopwordsEn).cast("double") / size(t)).as("stop_ratio"),
          TextAnalysis.avgWordLen($"text", t).as("avg_word_len"),
          TextAnalysis.qualityScore($"text", TextAnalysis.StopwordsEn).as("quality"))
        .orderBy($"doc_id")
    }),

    // End-to-end corpus curation — the composition a training-data
    // pipeline actually runs before a corpus ships: exact-dedup
    // representative ∧ quality gate ∧ language gate. All three legs are
    // independently oracle-checked (dedup_exact, text_quality_score);
    // this checks their composition.
    "curation_pipeline" -> ((s, d) => {
      import s.implicits._
      val docs = documents(s, d)
      val reps = Dedup.exact(docs, "doc_id", "text").select($"doc_id")
      docs.join(reps, Seq("doc_id"))
        .select($"doc_id", $"lang",
          TextAnalysis.qualityScore($"text", TextAnalysis.StopwordsEn).as("quality"))
        .filter($"quality" >= 0.38 && ($"lang" === "en" || $"lang" === "de"))
        .orderBy($"doc_id")
    }),

    // The WHOLE corpus-prep pipeline as one oracle-checked plan — what a
    // training-data run actually ships: exact-dedup representative ∧
    // repetition gate ∧ quality gate ∧ test-set decontamination, then a
    // stratified per-language quota sample of the survivors. Every leg
    // is independently oracle-green; this checks their composition.
    "corpus_prep_pipeline" -> ((s, d) => {
      import s.implicits._
      val docs = documents(s, d)
      val reps = Dedup.exact(docs, "doc_id", "text").select($"doc_id")
      val notRep = TextAnalysis.repetitionStats(docs, "doc_id", "text")
        .filter(!$"repetitive").select($"doc_id")
      val pool = docs.join(reps, Seq("doc_id")).join(notRep, Seq("doc_id"))
        .withColumn("quality", TextAnalysis.qualityScore($"text", TextAnalysis.StopwordsEn))
        .filter($"quality" >= 0.3 && $"doc_id" >= 20)
      val clean = Dedup.decontaminate(pool, "doc_id", "text",
        docs.filter($"doc_id" < 20), "text", n = 4)
      graft.ops.Sampling.stratifiedQuota(clean.select($"doc_id", $"lang"), "lang", "doc_id",
          Map("en" -> 30, "de" -> 15), defaultQuota = 5)
        .orderBy($"doc_id")
    }),

    // PII redaction over deterministic planted PII: the synthetic corpus
    // text is clean by construction, so both engines append the same
    // derived email/URL/IP/phone per doc and the scrubber must replace
    // all four with typed placeholders — value-exact vs the oracle.
    "text_pii_redaction" -> ((s, d) => {
      import s.implicits._
      documents(s, d)
        .withColumn("dirty", concat($"text",
          lit(" contact user"), $"doc_id", lit("@example.com see http://ex.org/p?i="),
          $"doc_id", lit(" ip 10.0."), $"doc_id" % 256, lit(".7 tel +1 555 01"),
          ($"doc_id" % 90) + 10))
        .select($"doc_id", TextAnalysis.redactPii($"dirty").as("clean"))
        .orderBy($"doc_id")
    }),

    // Gopher-style repetition gate: fraction of 2-gram slots covered by
    // the most frequent 2-gram — the boilerplate/degenerate-text filter
    // in standard corpus-quality rule sets. Exact integer ratios.
    "quality_repetition" -> ((s, d) => {
      import s.implicits._
      TextAnalysis.repetitionStats(documents(s, d), "doc_id", "text", n = 2, maxRatio = 0.2)
        .orderBy($"doc_id")
    }),

    // Stratified quota sampling (domain mixing): per-language targets,
    // md5-of-id rank — the deterministic, engine-portable "sample the
    // corpus to these proportions" step, with the bounded per-partition
    // pre-prune keeping the shuffle corpus-size-independent.
    "sample_stratified_quota" -> ((s, d) => {
      import s.implicits._
      graft.ops.Sampling.stratifiedQuota(
          documents(s, d).select($"doc_id", $"lang"), "lang", "doc_id",
          Map("en" -> 40, "de" -> 25, "fr" -> 15), defaultQuota = 10)
        .orderBy($"doc_id")
    }),

    // Temperature-scaled mixing quotas (XLM-R/mT5 sampling, alpha=0.5):
    // share ∝ count^0.5 flattens the en-heavy corpus; integer quotas by
    // largest-remainder allocation — pure arithmetic on the counts, so
    // the oracle replays every step (pow, shares, floors, remainder
    // ranking) and the quotas must sum to exactly 200.
    "mix_temperature_quotas" -> ((s, d) => {
      import s.implicits._
      graft.ops.Sampling.temperatureQuotas(
          documents(s, d).select($"doc_id", $"lang"), "lang",
          alpha = 0.5, total = 200L)
        .orderBy($"lang")
    }),

    // Declarative data-quality gate: the five expectation kinds over
    // documents with three planted violations (null text + negative
    // n_chars, malformed lang, duplicate key). One scan for all
    // row-level rules; the oracle recomputes every report row.
    "validate_expectations" -> ((s, d) => {
      import s.implicits._
      import graft.ops.Validate
      val planted = Seq(
        (100000L, Option.empty[String], "xx", "srcP", -5L),
        (100001L, Some("ok text"), "GER", "srcP", 12L),
        (100001L, Some("dup id"), "en", "srcP", 7L)
      ).toDF("doc_id", "text", "lang", "source", "n_chars")
      val t = documents(s, d)
        .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
        .unionByName(planted)
      Validate.validate(t, Seq(
          Validate.NotNull("text"),
          Validate.Unique(Seq("doc_id")),
          Validate.InRange("n_chars", 0, 100000),
          Validate.MatchesRegex("lang", "^[a-z]{2}$"),
          Validate.MinRows(100)))
        .orderBy($"rule", $"column")
    }),

    // Sentence-level BLEU-2 (Papineni et al. 2002): each doc's text as
    // the reference, the NEXT doc's first-25-token prefix as the
    // candidate — partial vocabulary overlap exercises clipping, the
    // brevity penalty, and the zero-precision cutoff. The oracle
    // replays gram counts, clip, and the exact closed form.
    "eval_bleu" -> ((s, d) => {
      import s.implicits._
      val docs = documents(s, d).filter($"doc_id" < 20).select($"doc_id", $"text")
      val ref = docs.select($"doc_id", $"text".as("ref_text"))
      val cand = docs.select((($"doc_id" + lit(19L)) % 20).as("doc_id"),
        array_join(slice(filter(graft.ops.TextAnalysis.tokens($"text"),
          t => length(t) > 0), 1, 25), " ").as("cand_text"))
      // p1/p2 are ratio-of-integers doubles → Tables.micros (the exact
      // cross-engine pin); bleu passes through exp/log (the brevity
      // penalty and geometric mean) so it keeps round(·, 6)
      graft.ops.Testbed.bleu(ref.join(cand, "doc_id"),
          "doc_id", "cand_text", "ref_text", maxN = 2)
        .select($"doc_id", $"n_cand", $"n_ref",
          graft.Tables.micros($"p1").as("p1_micros"),
          graft.Tables.micros($"p2").as("p2_micros"),
          round($"bleu", 6).as("bleu"))
        .orderBy($"doc_id")
    }),

    // Character edit distance (CER) over the same pairing as eval_bleu:
    // exact unit-cost Levenshtein integers plus the max-length-
    // normalized rate — the OCR/ASR-style complement of the n-gram
    // metrics, bit-identical across engines.
    "eval_edit_distance" -> ((s, d) => {
      import s.implicits._
      val docs = documents(s, d).filter($"doc_id" < 20).select($"doc_id", $"text")
      val ref = docs.select($"doc_id", $"text".as("ref_text"))
      val cand = docs.select((($"doc_id" + lit(19L)) % 20).as("doc_id"),
        array_join(slice(filter(graft.ops.TextAnalysis.tokens($"text"),
          t => length(t) > 0), 1, 25), " ").as("cand_text"))
      graft.ops.Testbed.editDistance(ref.join(cand, "doc_id"),
          "doc_id", "cand_text", "ref_text")
        .orderBy($"doc_id")
    }),

    // ROUGE-2 over the same candidate/reference pairing as eval_bleu:
    // clipped bigram overlap as recall/precision/F1. The oracle replays
    // counts, clip, and the identical F1 arithmetic.
    "eval_rouge2" -> ((s, d) => {
      import s.implicits._
      val docs = documents(s, d).filter($"doc_id" < 20).select($"doc_id", $"text")
      val ref = docs.select($"doc_id", $"text".as("ref_text"))
      val cand = docs.select((($"doc_id" + lit(19L)) % 20).as("doc_id"),
        array_join(slice(filter(graft.ops.TextAnalysis.tokens($"text"),
          t => length(t) > 0), 1, 25), " ").as("cand_text"))
      // P = o/c, R = o/r and F1 = 2PR/(P+R) = 2o/(c+r) are EXACT
      // integer ratios — leave as pure-Long micros (round-half-up)
      // computed from the integer columns, never round(double, 6)
      graft.ops.Testbed.rougeN(ref.join(cand, "doc_id"),
          "doc_id", "cand_text", "ref_text", n = 2)
        .select($"doc_id", $"n_cand_grams", $"n_ref_grams", $"overlap")
        .withColumn("precision_micros", expr("IF(n_cand_grams = 0, 0L, " +
          "CAST((2*1000000*overlap + n_cand_grams) DIV (2*n_cand_grams) AS BIGINT))"))
        .withColumn("recall_micros", expr("IF(n_ref_grams = 0, 0L, " +
          "CAST((2*1000000*overlap + n_ref_grams) DIV (2*n_ref_grams) AS BIGINT))"))
        .withColumn("f1_micros", expr("IF(n_cand_grams + n_ref_grams = 0, 0L, " +
          "CAST((2*1000000*2*overlap + n_cand_grams + n_ref_grams) " +
          "DIV (2*(n_cand_grams + n_ref_grams)) AS BIGINT))"))
        .orderBy($"doc_id")
    }),

    // ROUGE-L over the same pairing: LCS computed BIT-PARALLEL
    // (Allison-Dix — the whole DP row is one BIGINT folded over the
    // candidate tokens; no UDF, no O(n·m) cell relation), reference
    // truncated to 60 tokens so the row fits the word. The oracle
    // replays the identical fold with list_reduce.
    "eval_rouge_l" -> ((s, d) => {
      import s.implicits._
      val docs = documents(s, d).filter($"doc_id" < 20).select($"doc_id", $"text")
      val ref = docs.select($"doc_id", $"text".as("ref_text"))
      val cand = docs.select((($"doc_id" + lit(19L)) % 20).as("doc_id"),
        array_join(slice(filter(graft.ops.TextAnalysis.tokens($"text"),
          t => length(t) > 0), 1, 25), " ").as("cand_text"))
      // same exact-ratio micros convention as eval_rouge2 (lcs is the
      // overlap integer here)
      graft.ops.Testbed.rougeL(ref.join(cand, "doc_id"),
          "doc_id", "cand_text", "ref_text")
        .select($"doc_id", $"n_cand_tokens", $"n_ref_tokens", $"lcs")
        .withColumn("precision_micros", expr("IF(n_cand_tokens = 0, 0L, " +
          "CAST((2*1000000*lcs + n_cand_tokens) DIV (2*n_cand_tokens) AS BIGINT))"))
        .withColumn("recall_micros", expr("IF(n_ref_tokens = 0, 0L, " +
          "CAST((2*1000000*lcs + n_ref_tokens) DIV (2*n_ref_tokens) AS BIGINT))"))
        .withColumn("f1_micros", expr("IF(n_cand_tokens + n_ref_tokens = 0, 0L, " +
          "CAST((2*1000000*2*lcs + n_cand_tokens + n_ref_tokens) " +
          "DIV (2*(n_cand_tokens + n_ref_tokens)) AS BIGINT))"))
        .orderBy($"doc_id")
    }),

    // chrF2 over the same candidate/reference pairing: whitespace
    // stripped, char-gram orders 1..6, per-order F2 macro-averaged.
    // The oracle regenerates every order's grams and replays the
    // identical F arithmetic.
    "eval_chrf" -> ((s, d) => {
      import s.implicits._
      val docs = documents(s, d).filter($"doc_id" < 20).select($"doc_id", $"text")
      val ref = docs.select($"doc_id", $"text".as("ref_text"))
      val cand = docs.select((($"doc_id" + lit(19L)) % 20).as("doc_id"),
        array_join(slice(filter(graft.ops.TextAnalysis.tokens($"text"),
          t => length(t) > 0), 1, 25), " ").as("cand_text"))
      graft.ops.Testbed.chrF(ref.join(cand, "doc_id"),
          "doc_id", "cand_text", "ref_text", maxN = 6, beta = 2.0)
        .select($"doc_id", $"n_cand_chars", $"n_ref_chars",
          round($"chrf", 6).as("chrf"))
        .orderBy($"doc_id")
    }),

    // Stupid Backoff trigram LM (Brants et al. 2007): counts from the
    // held-out corpus (doc_id >= 10), scores for the first ten docs —
    // genuine unseen grams exercise every backoff branch. The oracle
    // rebuilds the count table and replays the exact backoff CASE
    // (parenthesized to Spark's multiplication order).
    "ngram_lm_score" -> ((s, d) => {
      import s.implicits._
      val docs = documents(s, d)
      val counts = graft.ops.NgramLm.gramCounts(
        docs.filter($"doc_id" >= 10), "text", maxN = 3)
      graft.ops.NgramLm.scoreStupidBackoff(
          docs.filter($"doc_id" < 10), "doc_id", "text", counts)
        .select($"doc_id", $"n_tokens", $"n_zero",
          round($"logprob", 6).as("logprob"))
        .orderBy($"doc_id")
    }),

    // The LM as a quality gate: score EVERY doc against the held-out
    // model, keep fluent ones (no OOV chain, ppl ≤ 20). Training docs
    // self-score low; the unseen first ten survive or fall on their
    // n-gram overlap — both regimes exercised in one filter.
    "lm_perplexity_filter" -> ((s, d) => {
      import s.implicits._
      val docs = documents(s, d)
      val counts = graft.ops.NgramLm.gramCounts(
        docs.filter($"doc_id" >= 10), "text", maxN = 3)
      graft.ops.NgramLm.perplexityFilter(docs, "doc_id", "text", counts,
          maxPpl = 20.0)
        .orderBy($"doc_id")
    }),

    // BPE vocabulary training (Sennrich et al. 2016): 3 merge rounds
    // learned from the corpus word-count table. The oracle unrolls the
    // SAME three rounds relationally — weighted overlapping pair
    // counts, argmax with (count desc, pair asc) tiebreak, and the
    // left-to-right non-overlapping greedy application expressed as
    // candidate runs with even offsets active. All-integer outputs.
    "bpe_learn_merges" -> ((s, d) => {
      import s.implicits._
      val words = graft.ops.Bpe.wordCounts(documents(s, d), "text")
      val (merges, _) = graft.ops.Bpe.learnMerges(words, nMerges = 3)
      merges.toDF()
        .select($"iteration", $"a".as("pair_a"), $"b".as("pair_b"), $"freq")
        .orderBy($"iteration")
    }),

    // The learned tokenizer applied to every DOCUMENT: per-doc subword
    // counts — what sequence budgeting and packing actually consume.
    // The oracle replays the same 3 merge rounds and joins each doc's
    // words to the resulting symbol table.
    "bpe_encode_docs" -> ((s, d) => {
      import s.implicits._
      val docs = documents(s, d)
      val (merges, _) = graft.ops.Bpe.learnMerges(
        graft.ops.Bpe.wordCounts(docs, "text"), nMerges = 3)
      graft.ops.Bpe.encodeStats(docs, "doc_id", "text", merges)
        .orderBy($"doc_id")
    }),

    // The training-data shape end to end: learn the tokenizer, encode
    // the corpus, pack the SUBWORD stream into 512-token windows — the
    // pipeline a pretraining run actually budgets (packing on
    // whitespace words, `pack_sequence_windows`, is the approximation
    // this replaces).
    "pack_bpe_windows" -> ((s, d) => {
      import s.implicits._
      val docs = documents(s, d)
      val (merges, _) = graft.ops.Bpe.learnMerges(
        graft.ops.Bpe.wordCounts(docs, "text"), nMerges = 3)
      val enc = graft.ops.Bpe.encodeStats(docs, "doc_id", "text", merges)
      graft.ops.Sampling.packWindows(
          enc.select($"doc_id", $"n_bpe_tokens".as("tokens")),
          "doc_id", "tokens", budget = 512, seed = "b0")
        .select($"doc_id", $"position", $"offset", $"first_window", $"last_window")
        .orderBy($"position")
    }),

    // The learned BPE merges APPLIED: vocabulary-level segmentation
    // stats (fertility = symbol occurrences per word occurrence — the
    // number a tokenizer change is judged by). The oracle replays the
    // same 3 merge rounds and aggregates the resulting symbol table.
    "bpe_segmentation_stats" -> ((s, d) => {
      import s.implicits._
      val words = graft.ops.Bpe.wordCounts(documents(s, d), "text")
      val (_, syms) = graft.ops.Bpe.learnMerges(words, nMerges = 3)
      val agg = syms.agg(
        count(lit(1)).as("n_distinct_words"),
        sum($"cnt").as("n_word_occurrences"),
        sum($"cnt" * size($"syms")).as("n_symbol_occurrences"))
      val vocab = syms.select(explode($"syms").as("s"))
        .agg(count_distinct($"s").as("n_vocab_symbols"))
      agg.crossJoin(vocab)
        .select($"n_distinct_words", $"n_word_occurrences",
          $"n_symbol_occurrences",
          // exact-integer ratio → bit-identical floor pin, not round
          micros($"n_symbol_occurrences".cast("double") /
            $"n_word_occurrences").as("fertility_micros"),
          $"n_vocab_symbols")
    }),

    // The corpus health dashboard: one row summarizing what a data
    // owner checks daily — volume, language spread, exact-dup mass,
    // Gopher pass rate, token volume. One documents scan feeding the
    // gopher projection, one tiny distinct-text agg, both collapsing
    // into a single summary row.
    "corpus_health_report" -> ((s, d) => {
      import s.implicits._
      val docs = documents(s, d)
      val g = graft.ops.TextAnalysis.gopherRules(docs, "doc_id", "text")
      val base = g.agg(
        count(lit(1)).as("n_docs"),
        sum(when($"passed", 1L).otherwise(0L)).as("n_gopher_pass"),
        sum($"n_words").as("n_tokens"))
      val langs = docs.agg(count_distinct($"lang").as("n_langs"))
      val dups = docs.agg(
        (count(lit(1)) - count_distinct($"text")).as("n_exact_dup_docs"))
      base.crossJoin(langs).crossJoin(dups)
        .select($"n_docs", $"n_langs", $"n_tokens", $"n_exact_dup_docs",
          $"n_gopher_pass",
          micros($"n_gopher_pass".cast("double") / $"n_docs")
            .as("gopher_pass_rate_micros"))
    }),

    // The health dashboard faceted by language — where the mixing
    // decisions actually happen: per-lang volume, token mass, share,
    // gopher pass rate from the same single gopher projection, and the
    // trained-lang-ID `und` share: documents whose classifyTop2 margin
    // over the head (first 200 chars — Cavnar-Trenkle profiles
    // saturate early, and the bounded head keeps the replay cheap)
    // falls under one full out-of-place unit (K=300) are routed "und"
    // (mixed or out-of-model text the mixing step must not trust).
    "corpus_health_by_lang" -> ((s, d) => {
      import s.implicits._
      val docs = documents(s, d)
      val g = graft.ops.TextAnalysis.gopherRules(docs, "doc_id", "text")
        .join(docs.select($"doc_id", $"lang"), "doc_id")
      val total = docs.count()
      val profiles = graft.ops.LangId.trainProfiles(
        graft.ops.LangId.readTraining(s, Checkout.fixture("langid/train.jsonl")),
        "lang", "text")
      val heads = docs.select($"doc_id", substring($"text", 1, 200).as("head"))
      val und = graft.ops.LangId.classifyTop2(heads, "doc_id", "head", profiles)
        .select($"doc_id", ($"margin" < 300).as("is_und"))
      g.join(und, Seq("doc_id"), "left")
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_words").as("n_tokens"),
          sum(when($"passed", 1L).otherwise(0L)).as("n_gopher_pass"),
          sum(when(coalesce($"is_und", lit(true)), 1L).otherwise(0L))
            .as("n_und"))
        .select($"lang", $"n_docs", $"n_tokens",
          micros($"n_docs".cast("double") / total).as("doc_share_micros"),
          micros($"n_gopher_pass".cast("double") / $"n_docs")
            .as("gopher_pass_rate_micros"),
          micros($"n_und".cast("double") / $"n_docs").as("und_share_micros"))
        .orderBy($"lang")
    }),

    // The Gopher rule battery (Rae et al. 2021): every word-level
    // document filter as exact integer comparisons — no float boundary
    // can flip a rule between engines. Counts + per-rule booleans +
    // the conjunction, one row per doc.
    "quality_gopher_rules" -> ((s, d) => {
      import s.implicits._
      graft.ops.TextAnalysis.gopherRules(documents(s, d), "doc_id", "text")
        .orderBy($"doc_id")
    }),

    // DSIR importance selection (Xie et al. 2023): rank the corpus by
    // hashed-unigram log-likelihood ratio toward a target domain (the
    // English slice stands in for "docs like my target") and keep the
    // 100 most target-like. Buckets, both distributions, and every
    // document weight are md5-derived, so the oracle replays the whole
    // model relationally.
    "dsir_importance_select" -> ((s, d) => {
      import s.implicits._
      val docs = documents(s, d)
      graft.ops.Importance.dsirTopK(docs, docs.filter($"lang" === "en"),
          "doc_id", "text", quota = 100)
        .orderBy($"logweight".desc, $"doc_id")
    }),

    // Generation-diversity metrics: distinct-n ratios per slice
    // (distinct n-grams / total n-grams, n = 1..3) — the standard
    // corpus-diversity panel for synthetic/generated data (low
    // distinct-2 = mode collapse). One explode per n, two-stage aggs.
    "corpus_distinct_ngrams" -> ((s, d) => {
      import s.implicits._
      val docs = documents(s, d)
      val toks = graft.ops.TextAnalysis.tokens($"text")
      val grams = (1 to 3).map { n =>
        docs.select($"lang", lit(n).as("n"),
          explode(graft.ops.TextAnalysis.wordGrams(toks, n)).as("g"))
      }.reduce(_ unionByName _)
      grams.groupBy($"lang", $"n")
        .agg(count(lit(1)).as("total_grams"),
          countDistinct($"g").as("distinct_grams"))
        .withColumn("distinct_ratio_micros",
          micros($"distinct_grams".cast("double") / $"total_grams"))
        .orderBy($"lang", $"n")
    }),

    // Packing-efficiency report: per slice, the padding waste of
    // naive ceil-to-context batching at ctx=512 — the number sequence
    // packing (pack_sequence_windows / pack_bpe_windows) exists to
    // reclaim. Pure integer arithmetic, one scan.
    "padding_waste_report" -> ((s, d) => {
      import s.implicits._
      val ctx = 512L
      documents(s, d)
        .select($"lang",
          graft.ops.TextAnalysis.tokenCount($"text").as("__l"))
        .withColumn("__padded", expr(s"((__l + ${ctx - 1}) div $ctx) * $ctx"))
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          sum($"__l").as("total_tokens"),
          sum($"__padded").as("padded_tokens"))
        .withColumn("waste_ratio_micros",
          micros(($"padded_tokens" - $"total_tokens").cast("double") /
            $"padded_tokens"))
        .orderBy($"lang")
    }),

    // Quality-aware dedup: within each near-dup cluster keep the
    // HIGHEST-quality document (ties to smallest id) — "of these
    // near-identical crawls, keep the cleanest", the refinement of
    // dedup_survivors' min-id convention production pipelines want.
    "dedup_survivors_quality" -> ((s, d) => {
      import s.implicits._
      // deterministic md5 slice (50%): the exact-pair leg is
      // verification ballast — sampled per the minhash_recall_probe
      // convention (VERDICT r13 task 5)
      val docs = documents(s, d).filter(
        substring(md5($"doc_id".cast("string")), 1, 1).isin("0", "1", "2", "3", "4", "5", "6", "7"))
      val scored = docs.withColumn("q",
        TextAnalysis.qualityScore($"text", TextAnalysis.StopwordsEn))
      graft.ops.Dedup.nearDupSurvivorsByQuality(scored, "doc_id", "q",
          graft.ops.Dedup.ngramJaccardPairs(docs, "doc_id", "text",
            threshold = 0.2))
        .select($"doc_id").orderBy($"doc_id")
    }),

    // Corpus drift monitor: pairwise Jensen-Shannon divergence between
    // lang slices' hashed-unigram distributions (4096 md5 buckets,
    // additive smoothing over the full support). Complements
    // corpus_bottomk_jaccard: Jaccard sees shared vocabulary SETS, JSD
    // sees shifted WEIGHTS over a shared vocabulary.
    "vocab_jsd_drift" -> ((s, d) => {
      import s.implicits._
      graft.ops.TextAnalysis.vocabJsDivergence(documents(s, d), "lang", "text")
        .orderBy($"slice_a", $"slice_b")
    }),

    // Trained quality gate: hashed-logreg fit INSIDE the engine (12
    // full-batch GD steps, weights rounded per step so the whole
    // training trajectory replays in any engine), then scored over the
    // corpus. Labels: en vs rest — the classic "looks like the target
    // distribution" discriminator.
    "classifier_quality_gate" -> ((s, d) => {
      import s.implicits._
      val docs = documents(s, d)
      val labeled = docs.withColumn("y",
        when($"lang" === "en", 1.0).otherwise(0.0))
      val w = graft.ops.Classifier.fitLogReg(labeled, "doc_id", "text", "y",
        iters = 12, lr = 2.0)
      graft.ops.Classifier.score(docs, "doc_id", "text", w)
        .join(docs.select($"doc_id", $"lang"), Seq("doc_id"))
        .select($"doc_id", $"lang", $"prob")
        .orderBy($"prob".desc, $"doc_id")
        .limit(100)
    }),

    // Calibration check for the trained gate: probs binned into a
    // 10-bin reliability table (count, mean prob, observed positive
    // fraction, gap) with the global ECE — whether the classifier's
    // probabilities mean what they say before anyone thresholds on
    // them. Fewer GD steps than the gate query: calibration is about
    // the prob distribution, not the ranking tail.
    "classifier_calibration" -> ((s, d) => {
      import s.implicits._
      val docs = documents(s, d)
      val labeled = docs.withColumn("y",
        when($"lang" === "en", 1.0).otherwise(0.0))
      val w = graft.ops.Classifier.fitLogReg(labeled, "doc_id", "text", "y",
        iters = 4, lr = 2.0)
      val scored = graft.ops.Classifier.score(docs, "doc_id", "text", w)
        .join(labeled.select($"doc_id", $"y"), Seq("doc_id"))
      graft.ops.Classifier.calibrationTable(scored, "prob", "y", bins = 10)
        .orderBy($"bin")
    }),

    // The allocated quotas applied as the md5-rank stratified take: the
    // end-to-end "mix the corpus to temperature-τ proportions" step.
    "mix_temperature_sample" -> ((s, d) => {
      import s.implicits._
      graft.ops.Sampling.temperatureMix(
          documents(s, d).select($"doc_id", $"lang"), "lang", "doc_id",
          alpha = 0.5, total = 200L)
        .orderBy($"doc_id")
    }),

    // Deterministic epoch shuffle: seeded md5 permutation of the corpus
    // with a contiguous 1-based position — reproducible across engines
    // and partition layouts (df.orderBy(rand(seed)) is neither).
    "shuffle_deterministic" -> ((s, d) => {
      import s.implicits._
      graft.ops.Sampling.deterministicShuffle(
          documents(s, d).select($"doc_id"), "doc_id", seed = "epoch0")
        .orderBy($"position")
    }),

    // Hash-based train/val/test assignment: 80/10/10 by md5 interval —
    // membership is per-key deterministic, so backfills and re-runs
    // never migrate a row between splits. Pure map-side expression.
    "split_train_assign" -> ((s, d) => {
      import s.implicits._
      graft.ops.Sampling.hashSplit(
          documents(s, d).select($"doc_id"), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), seed = "s1")
        .orderBy($"doc_id")
    }),

    // Per-domain epoch upsampling: en×3, de×2, fr dropped, others ×1 —
    // the "k epochs of domain X" training-mix recipe as a map-side
    // explode (no shuffle; expansion is local to each row).
    "mix_upsample" -> ((s, d) => {
      import s.implicits._
      graft.ops.Sampling.upsampleByStratum(
          documents(s, d).select($"doc_id", $"lang"), "lang",
          Map("en" -> 3, "de" -> 2, "fr" -> 0), defaultFactor = 1)
        .orderBy($"doc_id", $"epoch")
    }),

    // GPT-style sequence packing: concatenate the corpus in seeded
    // shuffle order, cut into 512-token training windows — per doc its
    // stream offset and first/last window (docs straddle windows, as
    // pretraining packing does). Offsets via the two-pass prefix sum,
    // no global window in the plan.
    "pack_sequence_windows" -> ((s, d) => {
      import s.implicits._
      val docs = documents(s, d).select($"doc_id",
        size(split($"text", "\\s+")).cast("long").as("tokens"))
      graft.ops.Sampling.packWindows(docs, "doc_id", "tokens",
          budget = 512, seed = "e0")
        .select($"doc_id", $"position", $"offset", $"first_window", $"last_window")
        .orderBy($"position")
    }),

    // Tokenizer-change impact — the report a team reads before swapping
    // tokenizer versions: the SAME corpus encoded under v1 (3 merges)
    // and v2 (5 merges — a strict extension, since greedy merge
    // learning is deterministic), per-lang token sums, how many docs
    // re-tokenize differently, and the relative token savings (exact
    // integer ratio → micros pin). More merges only ever shrink a
    // segmentation, so savings is non-negative by construction.
    "tokenizer_drift_report" -> ((s, d) => {
      import s.implicits._
      val docs = documents(s, d)
      val wc = graft.ops.Bpe.wordCounts(docs, "text")
      val (m1, _) = graft.ops.Bpe.learnMerges(wc, nMerges = 3)
      val (m2, _) = graft.ops.Bpe.learnMerges(wc, nMerges = 5)
      val v1 = graft.ops.Bpe.encodeStats(docs, "doc_id", "text", m1)
        .select($"doc_id", $"n_bpe_tokens".as("v1"))
      val v2 = graft.ops.Bpe.encodeStats(docs, "doc_id", "text", m2)
        .select($"doc_id", $"n_bpe_tokens".as("v2"))
      docs.select($"doc_id", $"lang").join(v1, "doc_id").join(v2, "doc_id")
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          sum($"v1").as("sum_tokens_v1"),
          sum($"v2").as("sum_tokens_v2"),
          sum(when($"v1" =!= $"v2", 1L).otherwise(0L)).as("n_docs_changed"))
        .withColumn("savings_micros",
          when($"sum_tokens_v1" > 0,
            micros(($"sum_tokens_v1" - $"sum_tokens_v2").cast("double") /
              $"sum_tokens_v1"))
            .otherwise(0L))
        .orderBy($"lang")
    }),

    // Pad-to-bucket dynamic batching (the fairseq/eval-harness shape):
    // each doc pads to the least multiple of 64 covering its token
    // count, buckets fill fixed-capacity batches of (4096 div bucket)
    // examples in deterministic seeded order, so every batch costs
    // ≤ 4096 padded tokens. Docs longer than the budget are filtered
    // (the refusal path is spec'd); the oracle replays the bucketing,
    // the per-bucket fill order, and the waste arithmetic exactly.
    "length_bucket_batches" -> ((s, d) => {
      import s.implicits._
      val ex = documents(s, d)
        .select($"doc_id", size(split($"text", "\\s+")).cast("long").as("n_tokens"))
        .filter($"n_tokens" <= 4096)
      graft.ops.Sampling.lengthBucketBatches(ex, "doc_id", "n_tokens",
          quantum = 64, budget = 4096, seed = "b0")
        .select($"doc_id", $"n_tokens", $"bucket_len", $"batch_id",
          $"batch_capacity", $"waste")
        .orderBy($"doc_id")
    }),

    // SFT loss masking over the packed stream: each doc stands in for
    // a prompt+completion example (first half of its tokens = prompt,
    // rest = completion), packed into the SAME 512-token windows as
    // pack_sequence_windows; the output is the per-(example, window)
    // completion span in window-local coordinates — the mask a trainer
    // applies so prompt (and neighbor-example) tokens carry no loss.
    // Prompt-only window touches emit no row. Pure integer arithmetic,
    // fully replayed by the oracle's window prefix sum.
    "pack_loss_mask_spans" -> ((s, d) => {
      import s.implicits._
      val ex = documents(s, d)
        .select($"doc_id", size(split($"text", "\\s+")).cast("long").as("n"))
        .select($"doc_id", expr("n div 2").as("prompt_tokens"),
          expr("n - n div 2").as("completion_tokens"))
      graft.ops.Sampling.packLossMaskSpans(ex, "doc_id",
          "prompt_tokens", "completion_tokens", budget = 512, seed = "e0")
        .orderBy($"position", $"window")
    }),

    // Test-set decontamination: docs doc_id < 20 stand in for the eval
    // set; corpus docs sharing any word 4-gram with them are dropped
    // (the leakage gate before training). Broadcast semi-join — the
    // corpus side never shuffles.
    "decontaminate_survivors" -> ((s, d) => {
      import s.implicits._
      val docs = documents(s, d)
      Dedup.decontaminate(docs.filter($"doc_id" >= 20), "doc_id", "text",
          docs.filter($"doc_id" < 20), "text", n = 4)
        .select($"doc_id").orderBy($"doc_id")
    }),

    // Deterministic subsampling bootstrap: 20 replicates of the mean
    // per-doc token count, each an md5-threshold 80% subset — the CI an
    // eval report carries instead of a bare point estimate. Integer
    // token counts sum exactly, so the replicate means are
    // bit-identical cross-engine before any rounding.
    "eval_bootstrap_ci" -> ((s, d) => {
      import s.implicits._
      val vals = documents(s, d).select($"doc_id",
        graft.ops.TextAnalysis.tokenCount($"text").cast("double").as("value"))
      graft.ops.Testbed.bootstrapCi(vals, "doc_id", "value",
          b = 20, sampleFrac = 0.8, seed = "ci0")
        .orderBy($"replicate")
    }),

    // SFT pair extraction: deterministic synthetic conversations from
    // the documents table (session = doc_id % 10, alternating roles,
    // 8-token contents), one training example per assistant turn with
    // its capped, formatted context. The chat-log-to-training-data step.
    "sft_pair_extraction" -> ((s, d) => {
      import s.implicits._
      val msgs = documents(s, d).select(
        ($"doc_id" % 10).as("session"), $"doc_id".as("seq"),
        // (doc_id div 10) alternates parity WITHIN a session (members
        // are k, k+10, k+20…), so every conversation interleaves roles
        when(expr("doc_id div 10") % 2 === 0, "user")
          .otherwise("assistant").as("role"),
        concat_ws(" ", slice(split(trim($"text"), "\\s+"), 1, 8)).as("content"))
      graft.ops.Chat.sftPairs(msgs, "session", "seq", "role", "content",
          maxContextTurns = 4)
        .orderBy($"session", $"seq")
    }),

    // The memorization audit — decontamination seen from the EVAL side:
    // per eval doc, what fraction of its distinct word 4-grams the
    // training corpus already contains. Same broadcast shape; the
    // corpus never shuffles.
    "memorization_overlap" -> ((s, d) => {
      import s.implicits._
      val docs = documents(s, d)
      Dedup.memorizationOverlap(docs.filter($"doc_id" < 20), "doc_id", "text",
          docs.filter($"doc_id" >= 20), "text", n = 4)
        .orderBy($"doc_id")
    }),

    // Bloom-filter decontamination: SAME contract (and oracle) as
    // decontaminate_survivors, different plan — a broadcast Bloom
    // sketch map-side-cuts the corpus shingle stream, survivors verify
    // against the exact eval shingles in a SHUFFLED semi-join (no
    // broadcast of the raw shingle set anywhere — the scale path for
    // eval suites too big to ship as strings). False negatives are
    // impossible, false positives die in the verify, so the result is
    // exact.
    "decontaminate_bloom" -> ((s, d) => {
      import s.implicits._
      val docs = documents(s, d)
      Dedup.decontaminateBloom(docs.filter($"doc_id" >= 20), "doc_id", "text",
          docs.filter($"doc_id" < 20), "text", n = 4, fpp = 0.01)
        .select($"doc_id").orderBy($"doc_id")
    }),

    // Corpus vocabulary profile: exact top-25 tokens by frequency
    // (count desc, token asc — a total order, so the boundary is
    // deterministic). Map-side partial agg + TakeOrdered.
    "vocab_topk" -> ((s, d) => {
      import s.implicits._
      TextAnalysis.vocabTopK(documents(s, d), "text", 25)
    }),

    // HyperLogLog vocabulary cardinality — the 100 TB distinct-count
    // primitive, FULLY hash-exact (unlike the seed-defined CMS): the
    // registers derive from the md5 hash family, so the oracle
    // regenerates register indices, ranks, the harmonic estimate, and
    // the linear-counting branch bit-for-bit. Register frames merge by
    // groupBy-max, which is what lets per-slice sketches roll up
    // without rescanning the corpus.
    "vocab_hll_registers" -> ((s, d) => {
      import s.implicits._
      val toks = documents(s, d)
        .select(explode(split($"text", "\\s+")).as("t"))
        .filter(length($"t") > 0)
      graft.ops.Sketch.hllRegisters(toks, "t").orderBy($"register")
    }),

    "vocab_hll_estimate" -> ((s, d) => {
      import s.implicits._
      pinned(documents(s, d)
          .select(explode(split($"text", "\\s+")).as("t"))
          .filter(length($"t") > 0)) { toks =>
        graft.ops.Sketch.hllEstimate(graft.ops.Sketch.hllRegisters(toks, "t"))
          .crossJoin(toks.agg(count_distinct($"t").as("exact_distinct")))
          .select($"exact_distinct", $"hll_estimate",
            (abs($"hll_estimate" - $"exact_distinct") <=
              lit(0.195) * $"exact_distinct").as("within_3sigma"))
          .localCheckpoint()
      }
    }),

    // The HLL sidecar lifecycle, FULLY hash-checked: half the corpus
    // into a versioned store + sidecar build, the rest appended through
    // the maintenance seam (registers max-merge at O(batch)), then the
    // estimate served FROM THE SIDECAR — which must equal the oracle's
    // from-scratch estimate over the whole corpus (fold ≡ rebuild is
    // the algebra HLL registers guarantee).
    "incremental_hll_estimate" -> ((s, d) => {
      import s.implicits._
      val root = s"${System.getProperty("java.io.tmpdir")}/graft-hllsc-" +
        s"${Integer.toHexString(d.hashCode)}-${java.lang.ProcessHandle.current().pid()}"
      graft.Fs.delete(s, root)
      val table = s"$root/store"
      val docs = documents(s, d).select($"doc_id", $"text")
      graft.ops.VersionedStore.append(s, table, docs.filter($"doc_id" % 2 === 0))
      graft.ops.Sketch.registerHllSidecar(s, table, "doc_id", "text", s"$root/hll")
      graft.ops.Ingest.appendRespectingLayout(s, table,
        docs.filter($"doc_id" % 2 =!= 0)): Unit
      graft.ops.Sketch.estimateFromSidecar(s, table, s"$root/hll")
    }),

    // Count-min-sketch heavy hitters anchored on the exact counts: the
    // sketch is the 100 TB profiler; per top-token, the CMS estimate
    // must sit in [n, n + eps*N] (overestimate-only). The estimate
    // itself is seed-defined, so it is projected away — the oracle
    // recomputes the exact (token, n) pairs and the bound bit is
    // constant truth.
    "vocab_cms_invariants" -> ((s, d) => {
      import s.implicits._
      TextAnalysis.vocabTopKCmsChecked(documents(s, d), "text", 25,
          eps = 0.001, confidence = 0.99, seed = 42)
        .select($"token", $"n", $"within_bound")
    }),

    // Token-budget mixture allocation: domains taken whole in quality
    // order until the budget runs out, boundary domain partial, rest 0
    // — the greedy waterline as a prefix sum (no loop), replayed
    // exactly by the oracle's window. Budget 50k tokens over the lang
    // domains.
    "budget_fill_mix" -> ((s, d) => {
      import s.implicits._
      val perDomain = documents(s, d).groupBy($"lang")
        .agg(sum(TextAnalysis.tokenCount($"text")).as("n_tokens"),
          round(avg(TextAnalysis.qualityScore($"text", TextAnalysis.StopwordsEn)), 6)
            .as("quality"))
      graft.ops.Curation.budgetFillMix(perDomain, "lang", "n_tokens",
          "quality", budget = 50000L)
        .orderBy($"quality".desc, $"lang")
    }),

    // Quality-quantile gate: keep documents at or above the corpus
    // median quality — the threshold comes from the corpus
    // DISTRIBUTION, not a hand-picked constant. Exact percentile here
    // (oracle parity); approx_percentile is the fixed-memory 100 TB
    // path, spec-checked against the exact threshold's rank bound.
    "quality_quantile_filter" -> ((s, d) => {
      import s.implicits._
      val scored = documents(s, d).select($"doc_id",
        TextAnalysis.qualityScore($"text", TextAnalysis.StopwordsEn).as("quality"))
      graft.ops.Curation.filterByQuantile(scored, "quality", 0.5, exact = true)
        .select($"doc_id").orderBy($"doc_id")
    }),

    // The SKETCH quantile path itself, driver-checked (upgrades the
    // spec-only seam): approx_percentile (Greenwald-Khanna, the
    // fixed-memory 100 TB path) promises a returned ELEMENT whose rank
    // sits within ε·n of the target; the query counts the corpus
    // strictly below / at-or-below the sketch's threshold and rides
    // the rank-bound bits into the hash next to engine-independent
    // replays (n, the exact interpolated median). A broken sketch —
    // or a broken exact percentile — breaks the row.
    "quantile_sketch_checked" -> ((s, d) => {
      import s.implicits._
      val scored = documents(s, d)
        .select($"doc_id", $"n_chars".cast("double").as("v"))
      val eps = 0.01 // accuracy = 100
      val thr = graft.ops.Curation.quantileThreshold(
        scored, "v", 0.5, exact = false, accuracy = 100).get
      scored.agg(
          count(lit(1)).as("n"),
          sum(when($"v" < thr, 1L).otherwise(0L)).as("__below"),
          sum(when($"v" <= thr, 1L).otherwise(0L)).as("__at_or_below"),
          round(expr("percentile(v, 0.5d)"), 4).as("p50_exact"))
        .select($"n", $"p50_exact",
          ($"__below" < ($"n" * (0.5 + eps)) &&
            $"__at_or_below" >= ($"n" * (0.5 - eps)))
            .as("sketch_within_rank_bound"))
    }),

    // Curriculum ordering: long documents (>= 40 tokens) first, seeded
    // shuffle within each phase — the staged data-loader feed. Exact
    // cross-engine position via the md5 permutation + two-pass
    // zipWithIndex (no global window).
    "curriculum_order" -> ((s, d) => {
      import s.implicits._
      val docs = documents(s, d)
        .select($"doc_id", TextAnalysis.tokenCount($"text").as("n_tokens"))
      graft.ops.Curation.curriculumOrder(docs,
          when($"n_tokens" >= 40, 0).otherwise(1), "doc_id", seed = "cur0")
        .select($"doc_id", $"position").orderBy($"position")
    }),

    // n-gram-heuristic language ID: stopword-hit scores + argmax.
    // Character-bigram Shannon entropy — the compressibility quality
    // gate (H = log2 T − Σ n·log2 n / T, one explode + two doc-keyed
    // aggs). Round-6: both engines sum ~200 doubles per doc.
    "text_entropy" -> ((s, d) => {
      import s.implicits._
      TextAnalysis.charBigramEntropy(documents(s, d), "doc_id", "text")
        .select($"doc_id", round($"entropy", 6).as("entropy"))
        .orderBy($"doc_id")
    }),

    // Canonical normalization (NFC + ROOT lowercase + \s-run collapse):
    // the corpus is ASCII, so the query plants the hard cases — a
    // DECOMPOSED e+U+0301 (must compose then lowercase to é), Ω, Ü, and
    // tab/multi-space runs — and both engines must agree byte-for-byte.
    "text_normalize" -> ((s, d) => {
      import s.implicits._
      val planted = concat($"text",
        lit("\tCAFE\u0301  \u03a9MEGA \u00dcBER  end "))
      documents(s, d)
        .select($"doc_id",
          graft.functions.NormalizeText.normalizeText(planted).as("norm_text"))
        .orderBy($"doc_id")
    }),

    "text_lang_id" -> ((s, d) => {
      import s.implicits._
      val (en, es, de) = TextAnalysis.langScores($"text")
      documents(s, d)
        .select($"doc_id", en.as("en_hits"), es.as("es_hits"), de.as("de_hits"))
        .withColumn("lang_pred", TextAnalysis.langPredict($"en_hits", $"es_hits", $"de_hits"))
        .orderBy($"doc_id")
    }),

    // TRAINED multilingual language ID (Cavnar–Trenkle n-gram
    // profiles, ops.LangId): profiles trained inside the engine from
    // the committed ten-language fixture corpus, then ten per-doc test
    // sentences (held out from training, selected by doc_id % 10)
    // classified by integer out-of-place distance. The oracle replays
    // the ENTIRE train+classify pipeline from the same fixture file —
    // every quantity is an integer (counts, ranks, |Δrank|), so there
    // is no float seam between the engines. The 3-language stopword
    // heuristic (text_lang_id) stays as the cheap fallback.
    "text_lang_id_trained" -> ((s, d) => {
      import s.implicits._
      val profiles = graft.ops.LangId.trainProfiles(
        graft.ops.LangId.readTraining(s, Checkout.fixture("langid/train.jsonl")),
        "lang", "text")
      val docs = documents(s, d).select($"doc_id",
        concat(langIdHeldOutPhrase($"doc_id"), lit(" doc "),
          $"doc_id".cast("string")).as("text"))
      // serve through the shuffle-free kernel (classifyMapSide ≡ classify
      // exactly, spec-pinned): the corpus-sized explode → broadcast join →
      // two aggregations become one narrow map with the ≤|langs|·K
      // profile riding the plan — the 1000-executor scoring shape, and
      // 2 exchanges → 0 before the output sort (round-18 opt, measured
      // 3.40 s → 1.66 s at sf0.1)
      graft.ops.LangId.classifyMapSide(docs, "doc_id", "text",
          graft.ops.LangId.collectProfiles(profiles))
        .orderBy($"doc_id")
    }),

    // Language ID with a CONFIDENCE margin: runner-up language and the
    // distance gap to it — the routing number a pipeline thresholds to
    // mark mixed/out-of-model documents "und". Shares the trained
    // query's replay oracle (same CTEs, rank ≤ 2 pivot).
    "text_lang_id_margin" -> ((s, d) => {
      import s.implicits._
      val profiles = graft.ops.LangId.trainProfiles(
        graft.ops.LangId.readTraining(s, Checkout.fixture("langid/train.jsonl")),
        "lang", "text")
      val docs = documents(s, d).select($"doc_id",
        concat(langIdHeldOutPhrase($"doc_id"), lit(" doc "),
          $"doc_id".cast("string")).as("text"))
      // shuffle-free twin of classifyTop2 (≡ exactly, spec-pinned) —
      // see text_lang_id_trained (measured 3.41 s → 1.57 s at sf0.1)
      graft.ops.LangId.classifyMapSideTop2(docs, "doc_id", "text",
          graft.ops.LangId.collectProfiles(profiles))
        .orderBy($"doc_id")
    }),

    // Unicode NFC normalization (UAX #15) over planted decomposed/
    // composed variants — combining marks compose, already-NFC text is
    // a fixpoint, ASCII is the identity; both engines implement the
    // same published algorithm (JDK Normalizer vs DuckDB
    // nfc_normalize), so the comparison is exact, incl. the char
    // counts shrinking where marks compose.
    "text_nfc_normalize" -> ((s, d) => {
      import s.implicits._
      val v = pmod($"doc_id", lit(4))
      val planted = when(v === 0, $"text")
        .when(v === 1, concat($"text", lit(" cafe\u0301 vu")))
        .when(v === 2, concat($"text", lit(" A\u030Angstro\u0308m n\u0303")))
        .otherwise(concat($"text", lit(" caf\u00e9 \u00c5 \u00f1")))
      documents(s, d)
        .select($"doc_id", planted.as("__in"))
        .select($"doc_id",
          length($"__in").cast("long").as("n_chars_in"),
          graft.ops.TextAnalysis.nfcNormalize($"__in").as("norm_text"))
        .withColumn("n_chars_out", length($"norm_text").cast("long"))
        .orderBy($"doc_id")
    }),

    // StarCoder-pipeline code filters (Li et al. 2023): planted
    // variants per doc — as-is prose (single long line), space-stripped
    // "minified" blob, 60-char re-lined, auto-generated-marker — each
    // judged by the exact-integer line/alnum gates. The oracle replays
    // every count and cross-multiplication.
    "code_quality_gate" -> ((s, d) => {
      import s.implicits._
      val t = $"text"
      val v = pmod($"doc_id", lit(4))
      val planted = when(v === 0, t)
        .when(v === 1, regexp_replace(t, " ", ""))
        .when(v === 2, concat_ws("\n", substring(t, 1, 60),
          substring(t, 61, 60), substring(t, 121, 60)))
        .otherwise(concat(lit("# AUTO-GENERATED do not edit\n"), t))
      val docs = documents(s, d).select($"doc_id", planted.as("code"))
      graft.ops.TextAnalysis.codeStats(docs, "doc_id", "code")
        .orderBy($"doc_id")
    }),

    // FIM training transform (Bavarian et al. 2022): PSM rearrangement
    // with md5-derived cut points for a deterministic 50% of docs —
    // exact integer cuts, so the oracle replays every split character
    // for character.
    "fim_transform" -> ((s, d) => {
      import s.implicits._
      graft.ops.Curation.fimTransform(
          documents(s, d).select($"doc_id", $"text"), "doc_id", "text")
        .select($"doc_id", $"fim_applied", $"fim_text")
        .orderBy($"doc_id")
    }),

    // RLHF/DPO preference pairs: candidates grouped by prompt, best vs
    // worst by score (answer-string tie-break), zero-margin pairs
    // dropped; one max/min-struct aggregation, no candidate self-join.
    // qid = doc_id % 100 gives 5 candidates per prompt at oracle scale;
    // scores cycle mod 3 (100 ≡ 1 mod 3, so each prompt sees repeated
    // scores → the answer-string tie-break lands in the OUTPUT), and
    // prompts with qid < 10 get a constant score → every candidate
    // tied → zero margin → the drop path faces the oracle too.
    "preference_pairs" -> ((s, d) => {
      import s.implicits._
      val cand = documents(s, d).select(
        pmod($"doc_id", lit(100)).as("qid"),
        concat(lit("ans "), $"doc_id".cast("string")).as("answer"),
        when(pmod($"doc_id", lit(100)) < 10, lit(0.5))
          .otherwise(pmod($"doc_id", lit(3)).cast("double") / 4.0).as("score"))
      graft.ops.Testbed.preferencePairs(cand, "qid", "answer", "score")
        .orderBy($"qid")
    }),

    // Order-invariant bag-of-words fingerprint.
    "text_fingerprint" -> ((s, d) => {
      import s.implicits._
      documents(s, d)
        .select($"doc_id", TextAnalysis.bagOfWordsFingerprint($"text").as("fp"))
        .orderBy($"doc_id")
    }),

    // Winnowing fingerprints (MOSS): rightmost-min-per-window selection
    // over char 5-gram hashes, w=4 — any shared substring ≥ 8 chars
    // between docs shares a fingerprint. One window pass in the engine;
    // the oracle replays the selection as window-min + w-bounded join.
    "fingerprint_winnowing" -> ((s, d) => {
      import s.implicits._
      TextAnalysis.winnowingFingerprints(
          documents(s, d).filter($"doc_id" < 50), "doc_id", "text")
        .orderBy($"doc_id", $"pos")
    }),

    // The reuse detector on top of winnowing: pairs sharing >= 3
    // rare fingerprints (df <= 20 — MOSS's ubiquitous-match drop, and
    // the hot-posting guard at scale).
    "winnowing_overlap_pairs" -> ((s, d) => {
      import s.implicits._
      TextAnalysis.winnowingOverlapPairs(
          TextAnalysis.winnowingFingerprints(
            documents(s, d).filter($"doc_id" < 250), "doc_id", "text"),
          "doc_id", maxDf = 20, minShared = 3)
        .orderBy($"id_a", $"id_b")
    }),

    // Corpus stats rollup by source.
    "doc_stats_by_source" -> ((s, d) => {
      import s.implicits._
      documents(s, d)
        .groupBy($"source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(length($"text").cast("long")).as("sum_chars"),
          countDistinct($"lang").as("n_langs"))
        .withColumn("avg_chars", $"sum_chars".cast("double") / $"n_docs")
        .orderBy($"source")
    }),

    // Sketch profiling with a constant-truth anchor: HLL++ distinct
    // (approx_count_distinct) and the quantile sketch (percentile_approx)
    // per source, each CHECKED in-plan against the exact value — the
    // booleans and exact columns are what the oracle verifies, so a
    // sketch drifting out of its error bound is a loud CORRECTNESS
    // failure, not a silent profiling lie. At 100 TB the sketches are
    // the only affordable profiling pass (one map-side sketch vs an
    // exact distinct's full shuffle); the fixture pins their contract.
    "sketch_profile_invariants" -> ((s, d) => {
      import s.implicits._
      documents(s, d)
        .withColumn("n_chars", length($"text").cast("long"))
        .groupBy($"source")
        .agg(
          countDistinct($"doc_id").as("exact_distinct"),
          approx_count_distinct($"doc_id", 0.05).as("__approx"),
          expr("percentile_approx(n_chars, 0.5, 10000)").as("__p50"),
          expr("percentile(n_chars, 0.5)").as("__exact_p50"),
          min($"n_chars").as("min_chars"), max($"n_chars").as("max_chars"))
        .select($"source", $"exact_distinct",
          // 0.05 rsd is one std dev — 3x is the robust bound
          (abs($"__approx" - $"exact_distinct").cast("double") <=
            greatest($"exact_distinct" * 0.15, lit(1.0))).as("distinct_ok"),
          // the quantile sketch at accuracy 10000 must land within the
          // group's value range and within 5% of range from the exact
          ($"__p50" >= $"min_chars" && $"__p50" <= $"max_chars" &&
            abs($"__p50" - $"__exact_p50") <=
              greatest(($"max_chars" - $"min_chars") * 0.05, lit(1.0)))
            .as("quantile_ok"),
          $"min_chars", $"max_chars")
        .orderBy($"source")
    }),

    // §2.7 splitter, fixed-window variant (SQL-expressible → oracle).
    "split_fixed_window" -> ((s, d) => {
      import s.implicits._
      Split.chunkDocs(documents(s, d), "doc_id", "text", t => Split.fixedWindow(t, 200, 150))
        .select($"doc_id", $"chunk_idx", $"chunk_start", $"chunk_text")
        .orderBy($"doc_id", $"chunk_idx")
    }),

    // Chunk consolidation — the splitters' inverse half: adjacent
    // 120-char fragments greedily merged back into ≤500-char context
    // units, order preserved, oversized chunks kept whole. The oracle
    // replays the sequential greedy as a recursive CTE.
    "chunk_coalesce" -> ((s, d) => {
      import s.implicits._
      val chunks = Split.chunkDocs(documents(s, d), "doc_id", "text",
        t => Split.fixedWindow(t, 120, 120))
      Split.coalesceChunks(chunks, "doc_id", "chunk_idx", "chunk_text",
          targetChars = 500)
        .orderBy($"doc_id", $"group")
    }),

    // §2.7 token-counted chunking: 40-token windows, 10-token overlap
    // (whitespace tokens stand in for the tokenizer; SQL-expressible via
    // list slicing → oracle).
    "split_token_window" -> ((s, d) => {
      import s.implicits._
      Split.chunkDocs(documents(s, d), "doc_id", "text",
          t => Split.tokenWindows(t, maxTokens = 40, overlapTokens = 10))
        .select($"doc_id", $"chunk_idx", $"chunk_start".as("token_start"), $"chunk_text")
        .orderBy($"doc_id", $"chunk_idx")
    }),

    // §2.7 token-measured packing through the deterministic BPE
    // tokenizer (tiktoken mode). Fully hash-anchored: the oracle
    // re-runs the BPE merge inference itself as a recursive CTE over
    // the distinct vocabulary (fuse the lowest-rank adjacent pair,
    // ties leftmost) and replays the greedy packing + overlap carry
    // via prefix-sum joins and a chunk-boundary chain. The oracle's
    // word/offset arithmetic assumes single-space word separation, so
    // both sides restrict to such documents (the whole corpus today;
    // the unconstrained-whitespace path stays covered by
    // split_token_pack_invariants and SplitSpec).
    "split_token_pack" -> ((s, d) => {
      import s.implicits._
      Split.chunkDocs(singleSpaceDocs(s, d, maxWordLen = 60), "doc_id", "text",
          t => Split.tokenPack(t, maxTokens = 60, overlapTokens = 15))
        .select($"doc_id", $"chunk_idx", $"chunk_start", $"chunk_text")
        .orderBy($"doc_id", $"chunk_idx")
    }),

    // tokenPack's contract as an oracle-checked query, like
    // split_recursive_invariants: BPE boundaries stay engine-defined
    // (split_token_pack is rows-only) but the packing invariants are
    // not — every multi-word chunk fits the token budget under the SAME
    // tokenizer, offsets index the source exactly, coverage spans first
    // to last word, inter-chunk gaps are whitespace only, and chunks
    // strictly advance.
    "split_token_pack_invariants" -> ((s, d) => {
      import s.implicits._
      // rlike("\\S"), not trim: SQL trim strips SPACES only (in Spark
      // AND DuckDB), while tokenPack treats all whitespace as
      // separators — a "\n\n"-only doc must be excluded on both sides
      // or it produces zero chunks against an expected oracle row
      val docs = documents(s, d).filter($"text".rlike("\\S"))
      val chunks = Split.chunkDocs(docs, "doc_id", "text",
        t => Split.tokenPack(t, maxTokens = 60, overlapTokens = 15))
      val tokCost = udf((t: String) =>
        "\\S+".r.findAllIn(t).map(w => math.max(1, Split.BpeTokenizer.count(w))).sum)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"doc_id").orderBy($"chunk_idx")
      chunks
        .join(docs.select($"doc_id", $"text"), "doc_id")
        .withColumn("chunk_end", $"chunk_start" + length($"chunk_text"))
        .withColumn("prev_end", lag($"chunk_end", 1).over(w))
        .withColumn("prev_start", lag($"chunk_start", 1).over(w))
        .groupBy($"doc_id")
        .agg(
          // a single word costing more than the budget legally becomes
          // its own over-budget chunk — exempt exactly that case
          bool_and(tokCost($"chunk_text") <= 60 ||
            size(split(trim($"chunk_text"), "\\s+")) === 1).as("within_budget"),
          bool_and($"chunk_text" ===
            expr("substring(text, chunk_start + 1, length(chunk_text))")).as("offsets_exact"),
          // regexp word boundaries, not ltrim/rtrim (space-only): the
          // first/last \S position is what the packer anchors to
          (min($"chunk_start") ===
            max(length(regexp_extract($"text", "^\\s*", 0)))).as("covers_first_word"),
          (max($"chunk_end") ===
            max(length($"text") - length(regexp_extract($"text", "\\s*$", 0)))).as("covers_last_word"),
          bool_and(coalesce(
            when($"chunk_start" > $"prev_end",
              length(regexp_replace(
                expr("substring(text, prev_end + 1, chunk_start - prev_end)"),
                "\\s", "")) === 0)
              .otherwise(lit(true)),
            lit(true))).as("gaps_whitespace_only"),
          bool_and(coalesce($"chunk_start" > $"prev_start", lit(true))).as("advances"))
        .orderBy($"doc_id")
    }),

    // §2.7 recursive boundary splitter. Fully hash-anchored: on
    // single-space-separated documents the separator descent
    // ("\n\n" -> "\n" -> " ") lands deterministically on space atoms,
    // which the oracle reconstructs from word prefix sums and then
    // replays the engine's exact greedy packing + overlap re-entry as
    // a recursive chunk-boundary chain. Both sides restrict to such
    // documents (the whole corpus today); multi-separator descent on
    // arbitrary whitespace stays covered by split_recursive_invariants
    // and the SplitSpec property tests.
    // The sentence splitter (the testbed KB splitter shape — recursive
    // with sentence-first separators ". ", "! ", "? ", "\n", " ") pinned
    // on a committed inline fixture: boundary-preference order, overlap,
    // and offsets are all engine-defined semantics the oracle pins as
    // literals (the PdfCodec fixture treatment).
    "split_sentences" -> ((s, _) => {
      import s.implicits._
      val texts = Seq(
        (1L, "First sentence here. Second one follows! Third asks? Tail."),
        (2L, "One line\nsecond line runs a bit longer than the cap\nthird"),
        (3L, "Word soup without punctuation keeps splitting on spaces only"),
        (4L, "Short.")
      ).toDF("doc_id", "text")
      Split.chunkDocs(texts, "doc_id", "text",
          t => Split.sentences(t, size = 24, overlap = 0))
        .select($"doc_id", $"chunk_idx", $"chunk_start",
          $"chunk_text")
        .orderBy($"doc_id", $"chunk_idx")
    }),

    "split_recursive" -> ((s, d) => {
      import s.implicits._
      Split.chunkDocs(singleSpaceDocs(s, d, maxWordLen = 199), "doc_id", "text",
          t => Split.recursive(t, 200, 40))
        .select($"doc_id", $"chunk_idx", $"chunk_start",
          length($"chunk_text").cast("long").as("chunk_len"), $"chunk_id")
        .orderBy($"doc_id", $"chunk_idx")
    }),

    // The recursive splitter's contract as an oracle-checked query: the
    // boundaries are engine-defined (split_recursive stays rows-only),
    // but the INVARIANTS every chunking must satisfy are not — the
    // oracle states them as constants per document and the Spark side
    // proves them from the actual chunks: every chunk fits the size cap,
    // offsets index the source text exactly, coverage starts at 0,
    // reaches the end, leaves no gaps, and strictly advances.
    "split_recursive_invariants" -> ((s, d) => {
      import s.implicits._
      val docs = documents(s, d).filter(length($"text") > 0)
      val chunks = Split.chunkDocs(docs, "doc_id", "text",
        t => Split.recursive(t, 200, 40))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"doc_id").orderBy($"chunk_idx")
      chunks
        .join(docs.select($"doc_id", $"text"), "doc_id")
        .withColumn("chunk_end", $"chunk_start" + length($"chunk_text"))
        .withColumn("prev_end", lag($"chunk_end", 1).over(w))
        .withColumn("prev_start", lag($"chunk_start", 1).over(w))
        .groupBy($"doc_id")
        .agg(
          bool_and(length($"chunk_text") <= 200).as("within_size"),
          bool_and($"chunk_text" ===
            expr("substring(text, chunk_start + 1, length(chunk_text))")).as("offsets_exact"),
          (min($"chunk_start") === 0).as("starts_at_zero"),
          (max($"chunk_end") === max(length($"text"))).as("covers_end"),
          bool_and(coalesce($"chunk_start" <= $"prev_end", lit(true))).as("no_gaps"),
          bool_and(coalesce($"chunk_start" > $"prev_start", lit(true))).as("advances"))
        .orderBy($"doc_id")
    }),

    // S15 content-keyed idempotent merge over split chunks: chunks whose
    // md5 content key is NOT already present in the "existing" half
    // (doc_id < 250) — the ingest anti-join as a pure query.
    "ingest_antijoin_chunks" -> ((s, d) => {
      import s.implicits._
      // persisted: the chunk set feeds both sides of the anti-join. The
      // returned frame is lazy, so the pin outlives this body: the
      // declared-query runners release it with catalog.clearCache()
      val chunks = Split.chunkDocs(documents(s, d), "doc_id", "text",
          t => Split.fixedWindow(t, 200, 150))
        .withColumn("ckey", Split.contentKey($"chunk_text"))
        .persist()
      val existing = chunks.filter($"doc_id" < 250).select($"ckey").distinct()
      // SHUFFLE_HASH as in Ingest.ingest: build on the bare keys, never
      // sort the wide chunk rows
      chunks.join(existing.hint("SHUFFLE_HASH"), Seq("ckey"), "left_anti")
        .select($"doc_id", $"chunk_idx")
        .orderBy($"doc_id", $"chunk_idx")
    }),

    // Snapshot reproducibility as a CORRECTNESS fact: two committed
    // appends, then a time-travel read of version 1 — exactly the first
    // commit's rows, byte-for-byte, while the live table serves both.
    // The training-run pin ("train on table@v1") the manifest layout
    // exists for; the oracle recomputes commit 1's contents relationally.
    "store_time_travel" -> ((s, d) => {
      import s.implicits._
      // fixed per-corpus-per-PROCESS dir, recreated per invocation (this
      // entry MEASURES the two-commit + readAt sequence): repeated runs
      // inside one process reuse-and-replace one dir instead of leaking
      // tempdirs, and the pid keeps concurrent drivers (bench racing
      // verify) off each other's store
      val root = java.lang.System.getProperty("java.io.tmpdir") +
        s"/graft-ttravel-${d.replaceAll("[^A-Za-z0-9]", "_")}-" +
        s"${java.lang.ProcessHandle.current().pid()}/t"
      graft.Fs.delete(s, root)
      val docs = documents(s, d).select($"doc_id", $"text")
      graft.ops.VersionedStore.append(s, root, docs.filter($"doc_id" % 2 === 0))
      graft.ops.VersionedStore.append(s, root, docs.filter($"doc_id" % 2 =!= 0))
      val v1 = graft.ops.VersionedStore.readAt(s, root, version = 1).get
      val live = graft.ops.VersionedStore.read(s, root).get
      v1.select($"doc_id", length($"text").as("n_chars"))
        .join(live.select($"doc_id").as("l"), Seq("doc_id"), "semi")
        .orderBy($"doc_id")
    }),

    // Copy-on-write CDC on the versioned store, oracle-checked
    // relationally: three appends (three segments), ONE merge that
    // replaces every doc_id<150 multiple-of-7 (text + " v2") and
    // inserts five shifted new ids, then a predicate delete. The merge's
    // update keys all live in the FIRST segment, so the minimal-rewrite
    // contract says exactly one segment is rewritten — surfaced as a
    // constant column the oracle pins. The final live rows must equal
    // the same upsert+delete computed relationally by DuckDB.
    "store_merge_upsert" -> ((s, d) => {
      import s.implicits._
      val root = java.lang.System.getProperty("java.io.tmpdir") +
        s"/graft-merge-${d.replaceAll("[^A-Za-z0-9]", "_")}-" +
        s"${java.lang.ProcessHandle.current().pid()}/t"
      graft.Fs.delete(s, root)
      val docs = documents(s, d).select($"doc_id", $"text")
      graft.ops.VersionedStore.append(s, root, docs.filter($"doc_id" < 150))
      graft.ops.VersionedStore.append(s, root,
        docs.filter($"doc_id" >= 150 && $"doc_id" < 300))
      graft.ops.VersionedStore.append(s, root, docs.filter($"doc_id" >= 300))
      val updates = docs.filter($"doc_id" < 150 && $"doc_id" % 7 === 0)
        .select($"doc_id", concat($"text", lit(" v2")).as("text"))
        .unionByName(docs.filter($"doc_id" < 5)
          .select(($"doc_id" + 10000).as("doc_id"), $"text"))
      val (_, nRewritten) = graft.ops.VersionedStore.merge(s, root, updates, "doc_id")
      graft.ops.VersionedStore.deleteWhere(s, root, $"doc_id" % 13 === 1)
      graft.ops.VersionedStore.read(s, root).get
        .select($"doc_id", md5($"text".cast("binary")).as("content_key"),
          lit(nRewritten).as("merge_rewrote_segments"))
        .orderBy($"doc_id")
    }),

    // S13 chunk JSON sink round-trip, oracle-anchored: chunks (id,
    // text, metadata map) dump through writeChunksJson (the LangChain
    // Document shape) and re-hydrate through the S9 reader; the final
    // relation must EQUAL the chunk derivation computed directly from
    // documents — pinning that the write→read pair is the identity on
    // ids, page content, and metadata values (JSON escaping, the
    // map→object→struct round trip, the id cast).
    "chunks_json_sink_roundtrip" -> ((s, d) => {
      import s.implicits._
      val root = java.lang.System.getProperty("java.io.tmpdir") +
        s"/graft-cjson-${d.replaceAll("[^A-Za-z0-9]", "_")}-" +
        s"${java.lang.ProcessHandle.current().pid()}/chunks"
      graft.Fs.delete(s, root)
      val chunks = documents(s, d).filter($"text".isNotNull)
        .select(concat($"doc_id", lit("#0")).as("id"), $"text",
          map(lit("lang"), $"lang", lit("source"), lit("documents"))
            .as("metadata"))
      graft.ops.Ingest.writeChunksJson(chunks, root)
      graft.sources.DocumentSources.readChunksJson(s, root)
        .select($"doc_id", $"text", $"metadata.lang".as("lang"),
          $"metadata.source".as("source"))
        .orderBy($"doc_id")
    }),

    // Snapshot diff between two store versions: commit everything (v1),
    // merge-update the %7 docs under 150 + insert five shifted ids,
    // then delete the %13==1 docs — diff(v1, live) must classify every
    // key as added / removed / changed exactly as the oracle recomputes
    // relationally (updated docs that were later deleted are REMOVED,
    // not changed: the diff sees only endpoint states).
    "store_version_diff" -> ((s, d) => {
      import s.implicits._
      val root = java.lang.System.getProperty("java.io.tmpdir") +
        s"/graft-vdiff-${d.replaceAll("[^A-Za-z0-9]", "_")}-" +
        s"${java.lang.ProcessHandle.current().pid()}/t"
      graft.Fs.delete(s, root)
      val docs = documents(s, d).select($"doc_id", $"text")
      graft.ops.VersionedStore.append(s, root, docs)
      val updates = docs.filter($"doc_id" < 150 && $"doc_id" % 7 === 0)
        .select($"doc_id", concat($"text", lit(" v2")).as("text"))
        .unionByName(docs.filter($"doc_id" < 5)
          .select(($"doc_id" + 10000).as("doc_id"), $"text"))
      graft.ops.VersionedStore.merge(s, root, updates, "doc_id"): Unit
      graft.ops.VersionedStore.deleteWhere(s, root, $"doc_id" % 13 === 1): Unit
      val live = graft.ops.VersionedStore.history(s, root).map(_.version).max
      graft.ops.VersionedStore.diffVersions(s, root, 1L, live, Seq("doc_id")).get
        .orderBy($"doc_id", $"change")
    }),

    // Incrementally-maintained rollup: the per-language corpus stats
    // table folded batch by batch (three doc_id ranges stand in for
    // three ingest micro-batches) — history is never re-scanned, yet
    // the final state must EQUAL the direct GROUP BY over the whole
    // corpus, which is exactly what the oracle computes.
    "rollup_incremental" -> ((s, d) => {
      import s.implicits._
      val root = java.lang.System.getProperty("java.io.tmpdir") +
        s"/graft-rollup-${d.replaceAll("[^A-Za-z0-9]", "_")}-" +
        s"${java.lang.ProcessHandle.current().pid()}/agg"
      graft.Fs.delete(s, root)
      val docs = documents(s, d).select($"doc_id", $"lang",
        TextAnalysis.tokenCount($"text").as("n_tokens"))
      Seq(docs.filter($"doc_id" < 150),
          docs.filter($"doc_id" >= 150 && $"doc_id" < 300),
          docs.filter($"doc_id" >= 300))
        .foreach(b => graft.ops.Rollup.maintain(s, root, b,
          Seq("lang"), Seq("n_tokens")))
      graft.ops.Rollup.readRollup(s, root, Seq("n_tokens")).get
        .select($"lang", $"n", $"sum_n_tokens", $"min_n_tokens", $"max_n_tokens",
          micros($"avg_n_tokens").as("avg_n_tokens_micros"))
        .orderBy($"lang")
    }),

    // Version rollback as a query: a good batch (even ids), a "bad"
    // batch (odd ids), then restore(v=1) — the live table must serve
    // exactly the good batch, which the oracle recomputes directly.
    "store_restore" -> ((s, d) => {
      import s.implicits._
      val root = java.lang.System.getProperty("java.io.tmpdir") +
        s"/graft-restore-${d.replaceAll("[^A-Za-z0-9]", "_")}-" +
        s"${java.lang.ProcessHandle.current().pid()}/t"
      graft.Fs.delete(s, root)
      val docs = documents(s, d).select($"doc_id", $"text")
      graft.ops.VersionedStore.append(s, root, docs.filter($"doc_id" % 2 === 0))
      graft.ops.VersionedStore.append(s, root, docs.filter($"doc_id" % 2 =!= 0))
      graft.ops.VersionedStore.restore(s, root, version = 1L)
      graft.ops.VersionedStore.read(s, root).get
        .select($"doc_id", length($"text").as("n_chars"))
        .orderBy($"doc_id")
    }),

    // Schema evolution as a query: ingest bare (doc_id, text), evolve
    // the live table with a derived token-count column in one atomic
    // rewrite, and serve the evolved rows — the oracle recomputes the
    // derivation from the source table.
    "store_evolve_schema" -> ((s, d) => {
      import s.implicits._
      val root = java.lang.System.getProperty("java.io.tmpdir") +
        s"/graft-evolve-${d.replaceAll("[^A-Za-z0-9]", "_")}-" +
        s"${java.lang.ProcessHandle.current().pid()}/t"
      graft.Fs.delete(s, root)
      val docs = documents(s, d).select($"doc_id", $"text")
      graft.ops.VersionedStore.append(s, root, docs.filter($"doc_id" < 250))
      graft.ops.VersionedStore.append(s, root, docs.filter($"doc_id" >= 250))
      graft.ops.Ingest.evolveSchema(s, root,
        Seq("n_tokens" -> TextAnalysis.tokenCount($"text")))
      graft.ops.VersionedStore.read(s, root).get
        .select($"doc_id", $"n_tokens")
        .orderBy($"doc_id")
    }),

    // Multimodal plumbing end-to-end with the deterministic stub decoder
    // (Multimodal.scala — this container ships no codecs, so documents'
    // UTF-8 bytes stand in as opaque media payloads): segment-sample the
    // payload, feature-extract every segment, and emit per-media
    // invariants. Two columns are INDEPENDENTLY recomputable by the
    // oracle (segment count = ceil(bytes/256), total bytes =
    // octet_length); the rest are constant-truth contract bits —
    // contiguous 0..n-1 indices, hex-exact reassembly to the original
    // payload, unit-L2 features from the stub decoder.
    // S1/S11 front door, end to end on REAL PDF bytes: the committed
    // fixture PDFs (fixtures/pdf, regenerated deterministically by
    // Test/runMain graft.GenPdfFixtures, byte-asserted in PdfSpec) are
    // parsed by the pure-JVM PdfCodec — object scan, compressed object
    // streams (/Type /ObjStm: objstm.pdf keeps its ENTIRE page tree
    // inside one), page tree, FlateDecode, Tj/TJ/'/T* text ops — one
    // row per page in page-tree order. The oracle pins the expected
    // page texts as literals: the engine side must EXTRACT them from
    // the binary.
    "pdf_extract" -> ((s, _) => {
      import s.implicits._
      graft.sources.DocumentSources.readPdf(s, Checkout.fixture("pdf/*.pdf"))
        .select($"doc_id", $"text",
          element_at($"metadata", "page").cast("long").as("page"))
        .orderBy($"doc_id")
    }),

    // DOCX front door on the committed OOXML fixtures (zip + StAX over
    // word/document.xml): run splits invisible, tab-STOP definitions
    // ignored while in-run w:tab/w:br become chars, entity + character
    // references decoded, the empty paragraph leaves an index gap,
    // table-cell paragraphs included. Paragraphs pinned as literals.
    "docx_extract" -> ((s, _) => {
      import s.implicits._
      graft.sources.DocumentSources
        .readDocx(s, Checkout.fixture("docx/*.docx"))
        .select($"doc_id", $"text",
          element_at($"metadata", "para").cast("long").as("para"))
        .orderBy($"doc_id")
    }),

    // Mojibake detect + repair round trip: half the docs are corrupted
    // IN-PLAN by the exact real-world mechanism (UTF-8 bytes decoded as
    // ISO-8859-1), then every row runs the detector and the gated
    // repair. The oracle constructs the same pre-corruption originals
    // — so the query is green only if the detector flags EXACTLY the
    // corrupted half (no false positives on clean text carrying real
    // accents) and the repair restores the original bytes while
    // leaving clean rows untouched.
    "mojibake_repair_roundtrip" -> ((s, d) => {
      import s.implicits._
      val id = $"doc_id".cast("string")
      val orig = concat($"text", lit(" «café № 42 — ünïcödé ✓ fin "), id)
      val corrupted = pmod(ascii(substring(id, -1, 1)), lit(2)) === 0
      val moji = when(corrupted, decode(encode(orig, "UTF-8"), "ISO-8859-1"))
        .otherwise(orig)
      documents(s, d)
        .select($"doc_id", corrupted.as("flagged"), moji.as("__moji"))
        .select($"doc_id", $"flagged",
          (graft.ops.TextAnalysis.mojibakeScore($"__moji") >= 5.0).as("detected"),
          graft.ops.TextAnalysis.fixMojibake($"__moji").as("text"))
        .orderBy($"doc_id")
    }),

    // EPUB front door: OCF container → OPF spine (reading order, which
    // the fixture REVERSES vs zip order) → XHTML flatten with script/
    // style skipped and titles captured; manifest-only items (nav,
    // images) never extract. Sections pinned as literals.
    "epub_extract" -> ((s, _) => {
      import s.implicits._
      graft.sources.DocumentSources
        .readEpub(s, Checkout.fixture("epub/*.epub"))
        .select($"doc_id", $"text",
          element_at($"metadata", "title").as("title"),
          element_at($"metadata", "href").as("href"))
        .orderBy($"doc_id")
    }),

    // S3 sections: ATX-heading markdown split over the committed
    // fixtures — preamble is section 0 at level 0, a '#' inside a ```
    // code fence must NOT open a section (the HTML script-tag rule,
    // markdown edition). Boundaries/levels/titles pinned as literals.
    "markdown_sections_extract" -> ((s, _) => {
      import s.implicits._
      graft.sources.DocumentSources
        .readMarkdownSections(s, Checkout.fixture("md/*.md"))
        .select($"doc_id", $"section_idx", $"level".cast("long").as("level"),
          $"title", length($"body").cast("long").as("body_len"),
          md5($"body".cast("binary")).as("body_md5"))
        .orderBy($"doc_id", $"section_idx")
    }),

    // S2 front door on committed HTML fixtures (fixtures/html), the
    // pdf_extract treatment for the second-most-used loader: sectioning
    // on h1-h5 (case-insensitive, attribute-tolerant), script/style
    // stripped BEFORE sectioning (a header tag inside a script string
    // must not open a section), preamble section with empty header,
    // empty sections dropped AFTER numbering (mixed's idx gap at 1),
    // entities NOT decoded, tags stripped + whitespace collapsed in
    // header and text. The oracle pins the expected sections as
    // literals: the engine must EXTRACT them from the markup.
    "html_sections_extract" -> ((s, _) => {
      import s.implicits._
      graft.sources.DocumentSources
        .readHtmlSections(s, Checkout.fixture("html/*.html"))
        .select($"doc_id", $"section_idx".cast("long").as("section_idx"),
          $"header", $"text")
        .orderBy($"doc_id", $"section_idx")
    }),

    // S4 front door on a committed CSV fixture: RFC 4180 doubled-quote
    // escaping, a quoted embedded newline, a quoted comma — the oracle
    // PARSES THE SAME FILE with DuckDB's read_csv (all_varchar, so both
    // engines render fields verbatim), real cross-parser parity rather
    // than pinned literals. The fixture's rid column equals the row's
    // file position, letting the oracle reconstruct the position-derived
    // doc_id without depending on scan order.
    "csv_scan_docs" -> ((s, _) => {
      import s.implicits._
      graft.sources.DocumentSources
        .readCsv(s, Checkout.fixture("csv/people.csv"))
        .select($"doc_id", $"text")
        .orderBy($"doc_id")
    }),

    // WARC front door, record level: the crawl-archive container format
    // (ISO 28500) over the committed fixtures — plain .warc (6 records:
    // warcinfo / request / 200-HTML / 404 / text resource / image
    // response) AND a .warc.gz of two concatenated gzip members, one
    // with bare-LF HTTP headers. The oracle restates every record's
    // framing facts and PAYLOAD BYTES as literals (md5 recomputed by
    // DuckDB from the declared payload text): the engine must honor
    // Content-Length framing, strip bracketed URIs, split HTTP
    // responses into status/type/body, and decompress gzip members to
    // land on them.
    "warc_records_scan" -> ((s, _) => {
      import s.implicits._
      graft.sources.DocumentSources
        .readWarc(s, Checkout.fixture("warc/*"))
        .select($"warc_file", $"record_idx", $"record_type", $"target_uri",
          $"http_status", $"content_type",
          length($"content").cast("long").as("body_len"),
          md5($"content").as("body_md5"))
        .orderBy($"warc_file", $"record_idx")
    }),

    // WARC → documents composition: 2xx responses + resources with a
    // text payload land on the loader shape, HTML payloads through
    // readHtml's exact flattening. Text + provenance pinned as
    // literals.
    "warc_documents_extract" -> ((s, _) => {
      import s.implicits._
      graft.sources.DocumentSources
        .readWarcDocuments(s, Checkout.fixture("warc/*"))
        .select($"doc_id", $"text",
          element_at($"metadata", "url").as("url"),
          element_at($"metadata", "content_type").as("content_type"))
        .orderBy($"doc_id")
    }),

    // The crawl-curation composition end to end: WARC archive → extract
    // (gzip members, wire decodings, charset-aware decode, DOM-aware
    // MAIN-CONTENT extraction with full-flatten fallback — sample5's
    // nav/cookie-banner/footer chrome is gone from its token count
    // while the short pages keep their full text) → robots.txt gate
    // (per-host rules; /b$ anchored so /both survives while /b would
    // not — prefix vs anchor semantics live in the pin) → canonical
    // URL + token-count
    // quality gate. Expected survivors pinned: the engine must parse
    // the archive, decode the bodies, extract the main content, match
    // the robots rules, and gate to land on exactly these rows.
    "warc_curation_pipeline" -> ((s, _) => {
      import s.implicits._
      val docs = graft.sources.DocumentSources
        .readWarcDocuments(s, Checkout.fixture("warc/*"), mainContent = true)
        .select($"doc_id", $"text", element_at($"metadata", "url").as("url"))
      val robots = Seq(
        ("example.org", "User-agent: graftbot\nDisallow: /b$\nDisallow: /chunk*\n"),
        ("example.com", "User-agent: *\nDisallow: /readme*\n")).toDF("host", "body")
      graft.ops.Robots.gateUrls(docs, "url", robots, "host", "body", "graftbot")
        .filter($"allowed")
        .select($"doc_id",
          graft.ops.UrlOps.canonicalize($"url").as("canonical"),
          graft.ops.TextAnalysis.tokenCount($"text").as("n_tokens"))
        .filter($"n_tokens" >= 3)
        .orderBy($"doc_id")
    }),

    // HTML document metadata harvest over the crawl fixtures: the
    // `<html lang>` attribute (the self-declared language prior the
    // trained lang-ID calibrates against), the collapsed <title>, and
    // the meta description — charset-aware decode first, then pure
    // regexp extraction; absent fields are empty, never null. Pins
    // cover declared-vs-absent on every 2xx HTML record.
    "html_meta_extract" -> ((s, _) => {
      import s.implicits._
      val decodeText = udf((ct: String, b: Array[Byte]) =>
        graft.sources.WarcCodec.decodeBody(ct, b))
      graft.sources.DocumentSources
        .readWarc(s, Checkout.fixture("warc/*"))
        .filter($"record_type" === "response" &&
          $"http_status" >= 200 && $"http_status" < 300 &&
          $"content_type".rlike("(?i)^(text/html|application/xhtml)"))
        .withColumn("__raw", decodeText($"content_type", $"content"))
        .select(concat($"warc_file", lit("_r"), $"record_idx").as("doc_id"),
          regexp_extract($"__raw",
            "(?is)<html[^>]*?\\blang\\s*=\\s*[\"']?([A-Za-z-]+)", 1)
            .as("html_lang"),
          trim(regexp_replace(regexp_extract($"__raw",
            "(?is)<title[^>]*>(.*?)</title>", 1), "\\s+", " ")).as("title"),
          regexp_extract($"__raw",
            "(?is)<meta[^>]*?name\\s*=\\s*[\"']description[\"']" +
              "[^>]*?content\\s*=\\s*[\"']([^\"']*)", 1)
            .as("meta_description"))
        .orderBy($"doc_id")
    }),

    // Discovery → politeness composition: the sitemap's UNCRAWLED URLs
    // (the sitemap_coverage delta) seed the frontier at the default
    // per-host delay — the complete new-page onboarding path.
    "sitemap_frontier_seed" -> ((s, d) => {
      import s.implicits._
      val id = $"doc_id".cast("string")
      val docs = documents(s, d).select($"doc_id",
        concat(lit("https://example.com/item/"), id).as("url"))
      // input synthesis (not the operator): the publisher's sitemap
      // FILE, built from a capped deterministic sample (first 2000
      // ids — constant-bounded collect, the sitemap_coverage
      // convention)
      val ids = docs.select($"doc_id").orderBy($"doc_id").limit(2000)
        .collect().map(_.getLong(0))
      val sitemapXml = {
        val urls = ids.filter(_ % 2 == 0).map(i =>
          s"<url><loc>https://example.com/item/$i</loc></url>") ++
          ids.map(_ / 1000).distinct.sorted.map(b =>
            s"<url><loc>https://example.com/missing/$b</loc></url>")
        s"""<?xml version="1.0" encoding="UTF-8"?>
           |<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
           |${urls.mkString("\n")}
           |</urlset>""".stripMargin
      }
      val sitemap = graft.ops.Robots.parseSitemap(sitemapXml)
        .toDF("url", "lastmod")
      val uncrawled = sitemap
        .join(docs.select($"url"), Seq("url"), "left_anti")
        .withColumn("host", graft.ops.UrlOps.host($"url"))
        .withColumn("crawl_delay", lit(null).cast("double"))
      graft.ops.Frontier.schedule(uncrawled, "url", "host", "crawl_delay")
        .select($"url", $"slot", $"fetch_ms")
        .orderBy($"url")
    }),

    // Compression-ratio quality signal (RefinedWeb/MassiveText
    // lineage): repetitive spam compresses far below prose, junk
    // barely compresses — exact deflate byte counts over four planted
    // regimes (prose / spam repeat / mixed-symbol / single-char run),
    // pinned as literals for the container's JDK zlib.
    "text_compression_ratio" -> ((s, d) => {
      import s.implicits._
      val v = pmod($"doc_id", lit(4))
      val planted = when(v === 0,
        "the quick brown fox jumps over the lazy dog and runs far away " +
          "while the hunters sleep soundly through the cold night")
        .when(v === 1, repeat(lit("buy now "), 40))
        .when(v === 2,
          "q7#kP2@mZ9!xB4$vN8&wC1*rT6%yH3(uJ5)eL0-sD2_fG7+aK9=cM4~nR1")
        .otherwise(repeat(lit("a"), 300))
      documents(s, d)
        .select(v.as("variant"), planted.as("__t"))
        .distinct()
        .select($"variant",
          octet_length($"__t").cast("long").as("n_raw"),
          graft.ops.TextAnalysis.deflateSize($"__t").as("n_deflate"))
        .orderBy($"variant")
    }),

    // DOM-aware main-content extraction over the committed chrome-laden
    // portal fixture: the oracle pins each kept block — the engine must
    // segment the DOM into blocks, score text mass vs link density,
    // drop the header/nav/cookie-banner/aside/footer chrome, keep the
    // article (headings with their sections, short blocks promoted by
    // adjacency), and never leak head/script/style/comment text.
    "html_main_content" -> ((s, _) => {
      import s.implicits._
      val ex = udf((html: String) => graft.ops.MainContent.extractBlocks(html))
      s.read.option("wholetext", "true")
        .text(Checkout.fixture("htmlmain/portal.html"))
        .select(posexplode(ex($"value")))
        .select($"pos".cast("long").as("block_idx"), $"col".as("block_text"))
        .orderBy($"block_idx")
    }),

    // WET-style plain-text derivative: one conversion row per 2xx text
    // response — HTML through the charset-aware decode + main-content
    // block extraction (newline-joined blocks; full-flatten fallback),
    // plain text verbatim. The oracle restates every conversion as
    // literals including the paragraph structure (chr(10) joins).
    "warc_wet_extract" -> ((s, _) => {
      import s.implicits._
      graft.sources.DocumentSources
        .readWarcWet(s, Checkout.fixture("warc/*"))
        .select(concat($"warc_file", lit("_r"), $"record_idx").as("doc_id"),
          $"target_uri", $"content_type", $"wet_text")
        .orderBy($"doc_id")
    }),

    // WAT-style outlink derivative: raw hrefs per successful HTML
    // response, document order — the metadata-record payload a link
    // graph builds from. Pure regexp_extract_all + posexplode after
    // the charset-aware decode.
    "warc_wat_outlinks" -> ((s, _) => {
      import s.implicits._
      graft.sources.DocumentSources
        .readWarcOutlinks(s, Checkout.fixture("warc/*"))
        .orderBy($"doc_id", $"link_idx")
    }),

    // S9 front door: chunk JSONL re-hydration — unicode escapes,
    // embedded newlines/quotes/tabs, nested metadata struct; the oracle
    // re-reads the same file with read_json(newline_delimited).
    "jsonl_chunks_scan" -> ((s, _) => {
      import s.implicits._
      graft.sources.DocumentSources
        .readChunksJson(s, Checkout.fixture("jsonl/chunks.jsonl"))
        .select($"doc_id", $"text",
          $"metadata.source".as("source"), $"metadata.page".as("page"))
        .orderBy($"doc_id")
    }),

    // S10 front door, line-delimited: missing metadata.topic defaults to
    // 'Others' (the reference's normalization); same-file parity via
    // read_json.
    "jsonl_testset_scan" -> ((s, _) => {
      import s.implicits._
      graft.ops.Testbed
        .readTestset(s, Checkout.fixture("jsonl/testset.jsonl"))
        .orderBy($"question")
    }),

    // S10 array form: the multiLine normalization over a JSON array
    // document, same oracle shape with format='array'.
    "json_testset_array_scan" -> ((s, _) => {
      import s.implicits._
      graft.ops.Testbed
        .readTestset(s, Checkout.fixture("jsonl/testset_array.json"),
          multiLine = true)
        .orderBy($"question")
    }),

    // REAL multimodal codecs (the PdfCodec treatment for media): the
    // committed fixtures/media WAV/BMP binaries (regenerated
    // deterministically by Test/runMain graft.GenMediaFixtures,
    // byte-asserted in MediaSpec) are parsed by the pure-JVM
    // WavCodec/BmpCodec — RIFF chunk walk, PCM 8/16-bit decode,
    // BITMAPINFOHEADER + bottom-up padded rows — and the oracle pins
    // the probe values + window features as literals the engine must
    // extract from the bytes.
    "wav_extract" -> ((s, _) => {
      import s.implicits._
      val probe = udf((b: Array[Byte]) => graft.sources.WavCodec.probe(b))
      val wrms = udf((b: Array[Byte]) => graft.sources.WavCodec.windowRms(b, 4))
      s.read.format("binaryFile").load(Checkout.fixture("media/*.wav"))
        .select(regexp_extract($"path", "([^/]+)$", 1).as("media_id"),
          probe($"content").as("p"), wrms($"content").as("w"))
        .select($"media_id",
          $"p.channels".as("channels"), $"p.sampleRate".as("sample_rate"),
          $"p.bitsPerSample".as("bits"), $"p.nFrames".as("n_frames"),
          $"p.durationMs".as("duration_ms"),
          round($"p.peak", 6).as("peak"), round($"p.rms", 6).as("rms"),
          round(element_at($"w", 1), 6).as("w0"),
          round(element_at($"w", 2), 6).as("w1"),
          round(element_at($"w", 3), 6).as("w2"),
          round(element_at($"w", 4), 6).as("w3"))
        .orderBy($"media_id")
    }),

    "bmp_extract" -> ((s, _) => {
      import s.implicits._
      val probe = udf((b: Array[Byte]) => graft.sources.BmpCodec.probe(b))
      val luma = udf((b: Array[Byte]) => graft.sources.BmpCodec.gridLuma(b, 2))
      s.read.format("binaryFile").load(Checkout.fixture("media/*.bmp"))
        .select(regexp_extract($"path", "([^/]+)$", 1).as("media_id"),
          probe($"content").as("p"), luma($"content").as("g"))
        .select($"media_id",
          $"p.width".as("width"), $"p.height".as("height"),
          round($"p.meanR", 6).as("mean_r"), round($"p.meanG", 6).as("mean_g"),
          round($"p.meanB", 6).as("mean_b"),
          round(element_at($"g", 1), 6).as("g0"),
          round(element_at($"g", 2), 6).as("g1"),
          round(element_at($"g", 3), 6).as("g2"),
          round(element_at($"g", 4), 6).as("g3"))
        .orderBy($"media_id")
    }),

    // MP3 frame-header walk + MP4 box walk over the committed
    // fixtures/av files (deterministic generator, byte-asserted in
    // AvSpec): duration/rate/layout/track-inventory metadata WITHOUT a
    // sample decoder — the crawl-curation route/filter facts for
    // audio/video payloads. The oracle pins every probe value as
    // literals the engine must extract from the container bytes
    // (synchsafe ID3 skip, VBR detection across frame headers, v0/v1
    // 64-bit mvhd/mdhd, stsd sample-entry fourcc).
    "av_container_probe" -> ((s, _) => {
      import s.implicits._
      val dec = graft.ops.Multimodal.CodecDecoder()
      val probe = udf((kind: String, b: Array[Byte]) => dec.probe(kind, b))
      s.read.format("binaryFile").load(Checkout.fixture("av/*"))
        .select(regexp_extract($"path", "([^/]+)$", 1).as("media_id"),
          when($"path".endsWith(".mp4"), "video").otherwise("audio").as("kind"),
          $"content")
        .select($"media_id", probe($"kind", $"content").as("p"))
        .select($"media_id",
          element_at($"p", "format").as("format"),
          element_at($"p", "duration_ms").cast("long").as("duration_ms"),
          coalesce(element_at($"p", "sample_rate").cast("long"), lit(-1L)).as("sample_rate"),
          coalesce(element_at($"p", "channels").cast("long"), lit(-1L)).as("channels"),
          coalesce(element_at($"p", "bitrate_kbps").cast("long"), lit(-1L)).as("bitrate_kbps"),
          coalesce(element_at($"p", "vbr"), lit("")).as("vbr"),
          coalesce(element_at($"p", "brand"), lit("")).as("brand"),
          coalesce(element_at($"p", "tracks"), lit("")).as("tracks"))
        .orderBy($"media_id")
    }),

    "multimodal_segment_invariants" -> ((s, d) => {
      import s.implicits._
      import graft.ops.Multimodal
      // media_id is STRING per the canonical media schema (filenames in
      // readMediaDir); cast back to BIGINT at the end for a numeric sort
      pinned(documents(s, d).filter(length($"text") > 0)
          .select($"doc_id".cast("string").as("media_id"), lit("doc").as("kind"),
            encode($"text", "UTF-8").as("bytes"))) { media =>
        pinned(Multimodal.sampleSegments(media, segmentBytes = 256)) { segs =>
          val feats = Multimodal.extractFeatures(
            segs.select($"media_id", $"kind", $"segment_bytes".as("bytes")),
            Multimodal.FakeDecoder(32))
          val unitNorm = feats
            .select($"media_id",
              (abs(sqrt(aggregate($"features", lit(0.0d), (a, x) => a + x * x)) - 1.0d) < 1e-3)
                .as("__u"))
            .groupBy($"media_id").agg(bool_and($"__u").as("features_unit_norm"))
          val shape = segs
            .groupBy($"media_id")
            .agg(
              count(lit(1)).as("n_segments"),
              (max($"segment_idx") === count(lit(1)) - 1 &&
                count_distinct($"segment_idx") === count(lit(1))).as("contiguous"),
              sum(length($"segment_bytes")).as("total_bytes"),
              concat_ws("", transform(
                array_sort(collect_list(struct($"segment_idx", hex($"segment_bytes").as("h")))),
                x => x.getField("h"))).as("__hexcat"))
          shape
            .join(media.select($"media_id", hex($"bytes").as("__hexorig")), "media_id")
            .join(unitNorm, "media_id")
            .select($"media_id".cast("long").as("media_id"), $"n_segments", $"total_bytes",
              $"contiguous", ($"__hexcat" === $"__hexorig").as("reassembles"),
              $"features_unit_norm")
            .orderBy($"media_id")
            .localCheckpoint() // one row per doc
        }
      }
    }),

    // Perceptual image near-dup: dHash fingerprints over the decoded
    // BMP fixtures + banded Hamming pairs. pattern2.bmp is the planted
    // near-dup of pattern.bmp (a blown-out corner changes every raw
    // byte of that region, Hamming 2 of 64); the low-detail pair
    // halves/rgb sits at Hamming 5, outside the maxHamming=4 gate —
    // the oracle pins exactly the planted pair.
    // Homoglyph normalization — the spam/evasion counter for dedup
    // and blocklist keys: Cyrillic/Greek look-alike substitutions
    // (the classic "рауpal"/"frее mοnеy" trick) collapse to canonical
    // Latin before hashing, with a confusable-count suspicion signal.
    // One codegen'd translate pass; expected outputs pinned literally.
    "text_homoglyph_normalize" -> ((s, d) => {
      import s.implicits._
      val id = $"doc_id".cast("string")
      val v = pmod($"doc_id", lit(3))
      val raw = when(v === 0, concat(lit("verify your рауpal account doc "), id))
        .when(v === 1, concat(lit("frее mοnеy inside doc "), id))
        .otherwise(concat(lit("plain honest text doc "), id))
      documents(s, d)
        .select($"doc_id", raw.as("raw"))
        .select($"doc_id", $"raw",
          graft.ops.TextAnalysis.homoglyphNormalize($"raw").as("normalized"),
          graft.ops.TextAnalysis.homoglyphCount($"raw").cast("long")
            .as("n_confusables"))
        .orderBy($"doc_id")
    }),

    // SubRip subtitle parsing — the transcript leg of a speech/video
    // corpus: cue time spans (exact millisecond arithmetic) and
    // joined cue text, as pure column expressions (split -> transform
    // -> regexp -> filter), no UDF. Variants cover CRLF rips,
    // dot-millisecond timecodes, junk blocks without a timecode
    // (dropped), renumbered counters (ignored) and spaced arrows.
    "srt_cues_extract" -> ((s, d) => {
      import s.implicits._
      val id = $"doc_id".cast("string")
      val v = pmod($"doc_id", lit(3))
      val srt = when(v === 0, concat(
          lit("1\n00:00:01,000 --> 00:00:03,500\nhello doc "), id,
          lit("\n\n2\n00:00:04,000 --> 00:00:06,250\nsecond cue\nline b")))
        .when(v === 1, lit("7\r\n00:01:00.000 --> 00:01:02.000\r\n" +
          "resync rip\r\n\r\njunk block without a timecode\r\n\r\n" +
          "9\r\n01:00:00,000 --> 01:00:01,000\r\nhour mark"))
        .otherwise(lit("1\n00:00:00,500  -->  00:00:01,000\nspaced arrow"))
      documents(s, d)
        .select($"doc_id", posexplode(graft.ops.Subtitles.srtCues(srt)))
        .select($"doc_id", $"pos".cast("long").as("cue_idx"),
          $"col.start_ms".as("start_ms"), $"col.end_ms".as("end_ms"),
          $"col.text".as("text"))
        .orderBy($"doc_id", $"cue_idx")
    }),

    // WebVTT — the web-native sibling: header/NOTE blocks dropped,
    // optional hours (MM:SS.mmm is legal), cue settings ignored,
    // arbitrary cue identifiers skipped, inline voice/markup tags
    // stripped. Same pure-expression shape as srt_cues_extract.
    "vtt_cues_extract" -> ((s, d) => {
      import s.implicits._
      val id = $"doc_id".cast("string")
      val v = pmod($"doc_id", lit(2))
      val vtt = when(v === 0, concat(
          lit("WEBVTT\n\n00:00.500 --> 00:02.000 align:start\n" +
            "hello vtt doc "), id,
          lit("\n\nNOTE internal comment\n\n00:03.000 --> 00:04.000\n" +
            "plain tail")))
        .otherwise(lit("WEBVTT - header text\n\nintro-cue-7\n" +
          "01:00:03.000 --> 01:00:04.250 line:0\n" +
          "<v Ann>second <b>cue</b> text"))
      documents(s, d)
        .select($"doc_id", posexplode(graft.ops.Subtitles.vttCues(vtt)))
        .select($"doc_id", $"pos".cast("long").as("cue_idx"),
          $"col.start_ms".as("start_ms"), $"col.end_ms".as("end_ms"),
          $"col.text".as("text"))
        .orderBy($"doc_id", $"cue_idx")
    }),

    // Jupyter notebooks — a first-class code-corpus format: the ipynb
    // JSON parsed with from_json (typed nested schema), cells exploded
    // in order, source-line arrays joined, kernel language carried.
    // Pure column expressions end to end; markdown and code cells both
    // land, output blobs never leak (the schema doesn't select them).
    "notebook_cells_extract" -> ((s, d) => {
      import s.implicits._
      val id = $"doc_id".cast("string")
      val v = pmod($"doc_id", lit(3))
      val nb = when(v === 0, concat(
          lit("""{"cells":[{"cell_type":"markdown","source":["# Title doc """),
          id,
          lit("""\n","intro line"]},{"cell_type":"code","source":["x = 1\n","print(x)"],"outputs":[{"output_type":"stream","text":["1\n"]}]}],"metadata":{"kernelspec":{"language":"python"}}}""")))
        .when(v === 1, concat(
          lit("""{"cells":[{"cell_type":"code","source":["val y = """),
          id,
          lit(""""]}],"metadata":{"kernelspec":{"language":"scala"}}}""")))
        .otherwise(
          lit("""{"cells":[],"metadata":{"kernelspec":{"language":"python"}}}"""))
      val schema = "STRUCT<cells: ARRAY<STRUCT<cell_type: STRING, " +
        "source: ARRAY<STRING>>>, metadata: STRUCT<kernelspec: " +
        "STRUCT<language: STRING>>>"
      documents(s, d)
        .select($"doc_id", from_json(nb, org.apache.spark.sql.types
          .StructType.fromDDL(
            "cells ARRAY<STRUCT<cell_type: STRING, source: ARRAY<STRING>>>, " +
              "metadata STRUCT<kernelspec: STRUCT<language: STRING>>"))
          .as("n"))
        .select($"doc_id", $"n.metadata.kernelspec.language".as("language"),
          posexplode($"n.cells"))
        .select($"doc_id", $"language", $"pos".cast("long").as("cell_idx"),
          $"col.cell_type".as("cell_type"),
          concat_ws("", $"col.source").as("source"))
        .orderBy($"doc_id", $"cell_idx")
    }),

    // LaTeX source -> plain training text (the arXiv-class corpus
    // step): comments, math (inline/display/environments), cite/ref/
    // label machinery and preamble commands go; sectioning, text
    // commands, footnotes and href texts keep their prose; escapes
    // unescape. Four planted variants pin the stripped text
    // byte-for-byte (a trailing doc-id token proves per-row work).
    "latex_strip" -> ((s, d) => {
      import s.implicits._
      val id = $"doc_id".cast("string")
      val v = pmod($"doc_id", lit(4))
      val src = when(v === 0, concat(
          lit("\\documentclass{article}\\begin{document}\\section{Intro}" +
            "We study \\textbf{large} corpora\\footnote{see appendix}. doc "),
          id, lit("\\end{document}")))
        .when(v === 1, concat(
          lit("Let $x^2 + y_i$ hold \\cite{fermat1637}; cost is 50\\% " +
            "\\& rising~now. % comment\ndoc "), id))
        .when(v === 2, concat(
          lit("\\begin{equation}\\label{eq:1}E=mc^2\\end{equation}As " +
            "\\eqref{eq:1} shows, it holds. doc "), id))
        .otherwise(concat(
          lit("See \\href{https://example.com}{the docs}\\\\and \\ldots " +
            "end. doc "), id))
      val stripped = udf((t: String) => graft.ops.Latex.strip(t))
      documents(s, d)
        .select($"doc_id", stripped(src).as("text"))
        .orderBy($"doc_id")
    }),

    // License-aware corpus filtering (The Stack lineage): detect the
    // license of each file header — explicit SPDX tag first (verbatim,
    // incl. compound expressions), characteristic phrases second
    // (Apache/GPL/LGPL/AGPL/MPL/MIT/BSD-3-vs-2/Unlicense/CC) — then
    // the permissive-for-training gate. Pure column expressions over
    // one bounded header substring; eight planted variants pin the
    // whole decision tree, incl. SPDX-beats-phrase precedence and the
    // BSD endorsement-clause split.
    "code_license_detect" -> ((s, d) => {
      import s.implicits._
      val v = pmod($"doc_id", lit(8))
      val text = when(v === 0, lit("// SPDX-License-Identifier: Apache-2.0\n" +
          "// Permission is hereby granted, free of charge, to any person\n" +
          "fn main() {}"))
        .when(v === 1, lit("/* Permission is hereby granted, free of charge," +
          " to any person obtaining a copy of this software */\nint x;"))
        .when(v === 2, lit("# Redistribution and use in source and binary" +
          " forms, with or without modification, are permitted provided" +
          " that ... Neither the name of the project nor the names of its" +
          " contributors may be used to endorse\ndef f(): pass"))
        .when(v === 3, lit("# Redistribution and use in source and binary" +
          " forms, with or without modification, are permitted.\ndef g(): pass"))
        .when(v === 4, lit("// This program is free software: you can" +
          " redistribute it under the terms of the GNU General Public" +
          " License as published by the Free Software Foundation, version 3." +
          "\nint y;"))
        .when(v === 5, lit("/* Licensed under the Apache License," +
          " Version 2.0 (the \"License\"); you may not use this file */" +
          "\nclass A {}"))
        .when(v === 6, lit("-- SPDX-License-Identifier: MIT OR Apache-2.0\n" +
          "select 1;"))
        .otherwise(lit("function plain() { return 42; } // no license here"))
      documents(s, d)
        .select($"doc_id", graft.ops.License.detect(text).as("d"))
        .select($"doc_id", $"d.license".as("license"), $"d.method".as("method"))
        .withColumn("permissive", graft.ops.License.isPermissive($"license"))
        .orderBy($"doc_id")
    }),

    // WARC revisit-record dedup (ISO 28500 identical-payload-digest
    // profile) — the storage-saving layout every dedup-aware crawl
    // emits: a `revisit` record carries the payload DIGEST and a
    // WARC-Refers-To pointer instead of the body. The op resolves each
    // revisit to its original capture by digest, validates the
    // refers-to pointer against the original's record id, and reports
    // the bytes the crawl avoided re-storing. Own fixture dir so the
    // fixtures/warc/* oracles keep their pinned row sets.
    "warc_revisit_dedup" -> ((s, _) => {
      import s.implicits._
      val recs = graft.sources.DocumentSources
        .readWarc(s, Checkout.fixture("warc-revisit/*"))
      val orig = recs.filter($"record_type" === "response")
        .select($"payload_digest",
          $"target_uri".as("original_uri"),
          regexp_replace($"record_id", "^<|>$", "").as("__orig_id"),
          length($"content").cast("long").as("bytes_saved"))
      recs.filter($"record_type" === "revisit")
        .select($"target_uri".as("revisit_uri"),
          $"warc_date".as("revisit_date"), $"payload_digest", $"refers_to")
        .join(orig, Seq("payload_digest"))
        .select($"revisit_uri", $"revisit_date", $"original_uri",
          $"payload_digest",
          ($"refers_to" === $"__orig_id").as("refers_match"),
          $"bytes_saved")
        .orderBy($"revisit_date")
    }),

    // JSON-LD structured metadata (schema.org provenance: publisher,
    // product, authorship facts riding in <script type="application/
    // ld+json"> blocks) — PURE column expressions end to end:
    // regexp_extract_all isolates the payloads (quote-style and
    // attribute-order tolerant, plain <script> blocks never match),
    // posexplode indexes them, get_json_object pulls @type/name/
    // nested paths. No UDF, whole-stage codegen keeps the hot path.
    "html_jsonld_extract" -> ((s, d) => {
      import s.implicits._
      val id = $"doc_id".cast("string")
      val v = pmod($"doc_id", lit(4))
      val html = when(v === 0, concat(
          lit("<html><head><script>var x = '<p>not ld</p>';</script>" +
            "<script type=\"application/ld+json\">{\"@context\":" +
            "\"https://schema.org\",\"@type\":\"Article\",\"name\":\"Story "),
          id,
          lit("\",\"datePublished\":\"2026-07-14\",\"author\":{\"@type\":" +
            "\"Person\",\"name\":\"A. Writer\"}}</script></head></html>")))
        .when(v === 1, concat(
          lit("<body><script type='application/ld+json' async>{\"@type\":" +
            "\"Product\",\"name\":\"Widget "),
          id,
          lit("\",\"offers\":{\"@type\":\"Offer\",\"price\":\"19.99\"}}" +
            "</script></body>")))
        .when(v === 2, lit("<script type=\"application/ld+json\">" +
          "{\"@type\":\"Organization\",\"name\":\"Example Corp\"}</script>" +
          "<script type=\"application/ld+json\">{\"@type\":\"WebSite\"," +
          "\"name\":\"Example Site\"}</script>"))
        .otherwise(lit("<script>plainJs();</script><p>no structured data</p>"))
      val blocks = regexp_extract_all(html,
        lit("(?is)<script[^>]*type\\s*=\\s*[\"']application/ld\\+json[\"']" +
          "[^>]*>(.*?)</script>"), lit(1))
      documents(s, d)
        .select($"doc_id", posexplode(blocks))
        .select($"doc_id", $"pos".cast("long").as("block_idx"),
          get_json_object($"col", "$['@type']").as("jsonld_type"),
          get_json_object($"col", "$.name").as("name"),
          get_json_object($"col", "$.datePublished").as("date_published"),
          get_json_object($"col", "$.offers.price").as("price"),
          get_json_object($"col", "$.author.name").as("author_name"))
        .orderBy($"doc_id", $"block_idx")
    }),

    // HTML TABLE extraction — the structured-data recovery plain
    // text-soup extraction destroys: each top-level <table> becomes
    // structure counts + a GitHub-markdown rendering (the LLM-ready
    // linearization). Four planted variants per doc: th-header +
    // entities, headerless ragged + pipe escape + nested tags, nested
    // table folding + two sibling tables, and a tableless page that
    // must contribute no rows. Every markdown string is pinned as an
    // oracle literal the kernel must reproduce byte-for-byte.
    "html_tables_extract" -> ((s, d) => {
      import s.implicits._
      val id = $"doc_id".cast("string")
      val v = pmod($"doc_id", lit(4))
      val html = when(v === 0, concat(
          lit("<html><body><table><tr><th>name</th><th>qty</th></tr>" +
            "<tr><td>item "), id,
          lit("</td><td>3</td></tr><tr><td>b&amp;w</td><td>7</td></tr>" +
            "</table></body></html>")))
        .when(v === 1, lit("<table><tr><td>a|b</td><td><b>bold</b> text" +
          "</td></tr><tr><td>only</td></tr></table>"))
        .when(v === 2, lit("<table><tr><td>outer <table><tr><td>inner" +
          "</td></tr></table> tail</td></tr></table><p>x</p>" +
          "<table><tr><td>t2</td></tr></table>"))
        .otherwise(lit("<p>no tables on this page at all</p>"))
      val tables = udf((h: String) => graft.ops.HtmlTables.extract(h))
      documents(s, d)
        .select($"doc_id", explode(tables(html)).as("t"))
        .select($"doc_id", $"t.index".cast("long").as("table_idx"),
          $"t.nRows".cast("long").as("n_rows"),
          $"t.nCols".cast("long").as("n_cols"),
          $"t.hasHeader".as("has_header"), $"t.markdown".as("markdown"))
        .orderBy($"doc_id", $"table_idx")
    }),

    // GIF/TIFF structural probe — the remaining ubiquitous crawl image
    // containers, walked without any pixel decode (the MP3/MP4
    // treatment): GIF frame count + animation flag + NETSCAPE loop
    // count from the real block grammar; TIFF byte order, IFD0
    // dimensions and multi-page count from the next-IFD chain. The
    // oracle pins every structural fact of the committed fixtures.
    "image_container_probe" -> ((s, _) => {
      import s.implicits._
      val probe = udf((b: Array[Byte]) =>
        graft.sources.ImageCodec.format(b) match {
          case "gif" =>
            val g = graft.sources.GifCodec.probe(b)
            ("gif", g.width.toLong, g.height.toLong, g.nFrames.toLong,
              g.animated, g.loopCount.toLong)
          case "tiff" =>
            val t = graft.sources.TiffCodec.probe(b)
            ("tiff_" + t.byteOrder, t.width.toLong, t.height.toLong,
              t.nPages.toLong, false, -1L)
          case other => (other, -1L, -1L, -1L, false, -1L)
        })
      s.read.format("binaryFile")
        .load(Checkout.fixture("media/*.gif"),
          Checkout.fixture("media/*.tif"))
        .select(regexp_extract($"path", "([^/]+)$", 1).as("media_id"),
          probe($"content").as("p"))
        .select($"media_id", $"p._1".as("container"), $"p._2".as("width"),
          $"p._3".as("height"), $"p._4".as("n_units"),
          $"p._5".as("animated"), $"p._6".as("loop_count"))
        .orderBy($"media_id")
    }),

    "image_dhash_pairs" -> ((s, _) => {
      import s.implicits._
      val media = graft.ops.Multimodal
        .readMediaDir(s, Checkout.fixture("media/*.bmp"), "image")
      graft.ops.Multimodal
        .imageDHashPairs(media, "media_id", "bytes", maxHamming = 4, bands = 8)
        .select($"id_a", $"id_b", $"hamming".cast("long").as("hamming"))
        .orderBy($"id_a", $"id_b")
    }),

    // CROSS-FORMAT perceptual near-dup over a mixed BMP+PNG+JPEG corpus:
    // the dHash pipeline decodes each payload by magic-byte sniff (BMP →
    // pure-JVM codec, PNG/JPEG → the JDK's javax.imageio) into the SAME
    // grid-luma arithmetic, so pattern.png — a lossless re-encode of
    // pattern.bmp — lands at Hamming 0 ACROSS formats, and the planted
    // JPEG pair (photo2's top-left cells re-striped with ≥20-luma
    // decision margins, immune to JPEG decode noise) at exactly 4.
    "image_dhash_mixed_pairs" -> ((s, _) => {
      import s.implicits._
      val media = graft.ops.Multimodal
        .readMediaDir(s, Checkout.fixture("media/*.{bmp,png,jpg}"), "image")
      graft.ops.Multimodal
        .imageDHashPairs(media, "media_id", "bytes", maxHamming = 4, bands = 8)
        .select($"id_a", $"id_b", $"hamming".cast("long").as("hamming"))
        .orderBy($"id_a", $"id_b")
    }),

    // EXIF metadata report (JEITA CP-3451 TIFF walk over the JPEG APP1):
    // camera/exposure/GPS tags in IFD order, values rendered EXACTLY
    // (RATIONALs as num/den — no float). photo.jpg/photo2.jpg carry no
    // EXIF (the JDK encoder writes JFIF) and contribute no rows; the
    // spliced photo_exif.jpg pins all 12 tags incl. the planted GPS
    // coordinates — the PII surface the strip op exists for.
    "image_exif_report" -> ((s, _) => {
      import s.implicits._
      val tags = udf((b: Array[Byte]) => graft.sources.ExifCodec.parse(b))
      s.read.format("binaryFile").load(Checkout.fixture("media/*.jpg"))
        .select(regexp_extract($"path", "([^/]+)$", 1).as("media_id"),
          posexplode(tags($"content")))
        .select($"media_id", $"pos".cast("long").as("tag_idx"),
          $"col._1".as("tag"), $"col._2".as("value"))
        .orderBy($"media_id", $"tag_idx")
    }),

    // PNG textual metadata (tEXt latin-1, iTXt utf-8 BOTH compression
    // flags, zTXt deflate-latin-1 — inflated under a 1 MiB bomb cap):
    // the PNG counterpart of the EXIF report — authorship/software
    // provenance pinned from the committed chunk bytes, incl. the
    // utf-8 iTXt payload with its language tag skipped per spec; the
    // pixel-identical base pattern.png contributes no rows (no text
    // chunks).
    "png_text_metadata" -> ((s, _) => {
      import s.implicits._
      val tags = udf((b: Array[Byte]) => graft.sources.PngMeta.parse(b))
      s.read.format("binaryFile")
        .load(Checkout.fixture("pngmeta/*.png"),
          Checkout.fixture("media/*.png"))
        .select(regexp_extract($"path", "([^/]+)$", 1).as("media_id"),
          posexplode(tags($"content")))
        .select($"media_id", $"pos".cast("long").as("tag_idx"),
          $"col._1".as("keyword"), $"col._2".as("value"))
        .orderBy($"media_id", $"tag_idx")
    }),

    // GPS strip audit: per JPEG — GPS/total tag counts before, tags
    // after the APP1 strip, and the PROOFS that stripping is safe
    // (dimensions preserved, dHash bit-identical: the entropy-coded
    // pixels never moved). The compliance gate a multimodal corpus
    // runs before training.
    "image_gps_strip" -> ((s, _) => {
      import s.implicits._
      val audit = udf((b: Array[Byte]) => {
        val stripped = graft.sources.ExifCodec.stripExif(b)
        val pre = graft.sources.ExifCodec.parse(b)
        val post = graft.sources.ExifCodec.parse(stripped)
        val d0 = graft.sources.ImageCodec.probe(b)
        val d1 = graft.sources.ImageCodec.probe(stripped)
        (pre.count(_._1.startsWith("gps_")).toLong, pre.size.toLong,
          post.size.toLong, graft.sources.ExifCodec.hasGps(stripped),
          d0.width == d1.width && d0.height == d1.height,
          graft.sources.ImageCodec.dHash64(b) ==
            graft.sources.ImageCodec.dHash64(stripped))
      })
      s.read.format("binaryFile").load(Checkout.fixture("media/*.jpg"))
        .select(regexp_extract($"path", "([^/]+)$", 1).as("media_id"),
          audit($"content").as("a"))
        .select($"media_id",
          $"a._1".as("n_gps_tags"), $"a._2".as("n_tags"),
          $"a._3".as("n_tags_after"), $"a._4".as("gps_after"),
          $"a._5".as("dims_preserved"), $"a._6".as("dhash_preserved"))
        .orderBy($"media_id")
    }),

    // Media dedup end-to-end over the MIXED-format corpus: perceptual
    // pairs feed the SAME survivor machinery text dedup uses (connected
    // components + min-id representative) — the {pattern.bmp,
    // pattern.png, pattern2.bmp} cross-format cluster keeps pattern.bmp,
    // the JPEG pair keeps photo.jpg, everything else survives.
    "media_dedup_survivors" -> ((s, _) => {
      import s.implicits._
      val media = graft.ops.Multimodal
        .readMediaDir(s, Checkout.fixture("media/*.{bmp,png,jpg}"), "image")
      val pairs = graft.ops.Multimodal
        .imageDHashPairs(media, "media_id", "bytes", maxHamming = 4, bands = 8)
      graft.ops.Dedup.nearDupSurvivors(media, "media_id", pairs)
        .select($"media_id", $"kind")
        .orderBy($"media_id")
    }),

    // Audio dedup end-to-end: fingerprint pairs (volume-invariant, the
    // tight maxHamming=4 gate → exactly the {stereo, tone, tone_half}
    // gain/layout cluster) through the SAME nearDupSurvivors component
    // machinery text and image dedup use — the cluster keeps its min-id
    // member (stereo.wav), the near-but-not-dup quiet.wav and the
    // spectral outliers all survive.
    "audio_dedup_survivors" -> ((s, _) => {
      import s.implicits._
      val media = graft.ops.Multimodal
        .readMediaDir(s, Checkout.fixture("media/*.wav"), "audio")
      val pairs = graft.ops.Multimodal
        .audioFingerprintPairs(media, "media_id", "bytes", maxHamming = 4)
      graft.ops.Dedup.nearDupSurvivors(media, "media_id", pairs)
        .select($"media_id", $"kind")
        .orderBy($"media_id")
    }),

    // Audio activity segmentation over the RMS envelope: quiet.wav is
    // the planted half-silent file (first half digital zeros) — the
    // engine must decode PCM and find exactly windows 4..7 active.
    "audio_activity_report" -> ((s, _) => {
      import s.implicits._
      val media = graft.ops.Multimodal
        .readMediaDir(s, Checkout.fixture("media/*.wav"), "audio")
      graft.ops.Multimodal
        .audioActivity(media, "media_id", "bytes", windows = 8, threshold = 0.01)
        .orderBy($"media_id")
    }),

    // Audio perceptual near-dup pairs over the Haitsma–Kalker-shape
    // band-energy fingerprint: the engine must DECODE the PCM, build
    // the 5×17 Goertzel energy grid, and land the planted structure —
    // {tone, stereo, tone_half} is one volume/channel-layout cluster
    // (gain-scaling cancels exactly in the sign bits → Hamming 0),
    // quiet (the same tone with its first half silenced) sits at
    // Hamming 5, and the half-frequency sweep and DC byte8 stay out
    // (25-38). The banded-LSH pair join is the image-dHash machinery.
    "audio_fingerprint_pairs" -> ((s, _) => {
      import s.implicits._
      val media = graft.ops.Multimodal
        .readMediaDir(s, Checkout.fixture("media/*.wav"), "audio")
      graft.ops.Multimodal
        .audioFingerprintPairs(media, "media_id", "bytes", maxHamming = 6)
        .select($"id_a", $"id_b", $"hamming".cast("long").as("hamming"))
        .orderBy($"id_a", $"id_b")
    }),

    // Unigram-LM (SentencePiece-family) tokenizer: learn the piece
    // vocabulary (top-50 weighted substrings + all chars), Viterbi-
    // segment every distinct word, report per-doc subword fertility and
    // corpus log-likelihood. The WHOLE model — scores, every DP path,
    // the document folds — is hash-exact against the oracle's
    // recursive-CTE replay.
    "unigram_segment_stats" -> ((s, d) => {
      import s.implicits._
      val docs = documents(s, d)
      val vocab = graft.ops.Unigram.learnVocab(
        graft.ops.Bpe.wordCounts(docs, "text"), maxPieceLen = 4, vocabSize = 50)
      graft.ops.Unigram.segmentStats(docs, "doc_id", "text",
          graft.ops.Unigram.vocabMap(vocab), maxPieceLen = 4)
        .orderBy($"doc_id")
    }),

    // The tokenizer's actual output: one row per distinct word with its
    // max-likelihood piece sequence (backpointer walk) — hash-exact
    // against the oracle's DP + walk replay.
    "unigram_encode_words" -> ((s, d) => {
      import s.implicits._
      val docs = documents(s, d)
      val vocab = graft.ops.Unigram.learnVocab(
        graft.ops.Bpe.wordCounts(docs, "text"), maxPieceLen = 4, vocabSize = 50)
      graft.ops.Unigram.encodeWords(docs, "text",
          graft.ops.Unigram.vocabMap(vocab), maxPieceLen = 4)
        .select($"word", $"segmentation", $"n_pieces")
        .orderBy($"word")
    }),

    // One Viterbi-EM refinement round over the seed vocabulary (the
    // hard-EM variant of SentencePiece's prune loop): every distinct
    // word re-segments under the seed scores QUANTIZED to integer
    // micro-log-probs (the cross-engine checkpoint — the DP is pure
    // Long arithmetic), pieces recount by count-weighted usage,
    // unused multi-char pieces PRUNE, chars keep a usage floor of 1,
    // and scores re-normalize. The oracle replays the whole round —
    // quantize → DP → backpointer walk → usage agg → renormalize — as
    // position-UNROLLED materialized CTEs (unigramEmOracle: DuckDB
    // mis-evaluates recursive-lineage CTEs inside another recursion,
    // and words past the MaxOracleWordLen unroll error loudly).
    "unigram_em_vocab" -> ((s, d) => {
      import s.implicits._
      val words = graft.ops.Bpe.wordCounts(documents(s, d), "text")
      graft.ops.Unigram.learnVocab(words, maxPieceLen = 4, vocabSize = 50,
          emRounds = 1)
        .select($"piece", $"pcnt", round($"logp", 6).as("logp"))
        .orderBy($"piece")
    }),

    // TWO EM rounds: the second DP runs on the first round's
    // re-quantized scores over the pruned vocab — the integer-checkpoint
    // replay chains round over round with no float drift to compound.
    "unigram_em2_vocab" -> ((s, d) => {
      import s.implicits._
      val words = graft.ops.Bpe.wordCounts(documents(s, d), "text")
      graft.ops.Unigram.learnVocab(words, maxPieceLen = 4, vocabSize = 50,
          emRounds = 2)
        .select($"piece", $"pcnt", round($"logp", 6).as("logp"))
        .orderBy($"piece")
    }),

    // Sequence packing measured in UNIGRAM pieces — the pack_bpe_windows
    // construction under the other tokenizer family; the oracle chains
    // the full unigram replay into the packing window.
    "pack_unigram_windows" -> ((s, d) => {
      import s.implicits._
      val docs = documents(s, d)
      val vocab = graft.ops.Unigram.learnVocab(
        graft.ops.Bpe.wordCounts(docs, "text"), maxPieceLen = 4, vocabSize = 50)
      val stats = graft.ops.Unigram.segmentStats(docs, "doc_id", "text",
        graft.ops.Unigram.vocabMap(vocab), maxPieceLen = 4)
      val counted = docs.select($"doc_id")
        .join(stats.select($"doc_id", $"n_pieces"), Seq("doc_id"), "left")
        .select($"doc_id", coalesce($"n_pieces", lit(0L)).as("tokens"))
      graft.ops.Sampling.packWindows(counted, "doc_id", "tokens",
          budget = 512, seed = "u0")
        .select($"doc_id", $"position", $"offset", $"first_window", $"last_window")
        .orderBy($"position")
    }),

    // Aho–Corasick gazetteer scan: one automaton pass per document finds
    // every occurrence of every dictionary term — per-doc cost O(chars),
    // independent of dictionary size (the 10k-term scale lever over
    // per-term regex). The dictionary plants nesting ('a' ⊂ 'an' ⊂
    // 'and') and overlap so the dict-suffix emission is exercised; the
    // oracle replays counts and first offsets as per-position substring
    // equality — the O(chars × terms) plan the automaton exists to avoid.
    "gazetteer_match_counts" -> ((s, d) => {
      import s.implicits._
      graft.ops.Gazetteer.matchCounts(documents(s, d), "doc_id", "text",
          Seq("a", "an", "and", "data", "the", "ing "))
        .orderBy($"doc_id", $"term")
    }),

    // The gazetteer SERVING composition: phrase-blocklist gate
    // (Aho–Corasick, the 10k-phrase-capable form of blocklist_gate)
    // feeding the STREAMING data-contract gate. Stage 1 gates documents
    // on match density (1000·n_matches > 20·n_chars drops, integer
    // cross-multiply); stage 2 routes the survivors through
    // IncrementalIngest.gatedBatch in three micro-batches under
    // InRange(n_matches <= 10) — one hot doc quarantines its whole
    // batch (the contract-gate semantics). Output reads the ACTUAL
    // artifacts (the process callback's count, the quarantine dir);
    // the oracle replays the automaton totals per position, both
    // verdicts, the batching, and the routing.
    "gazetteer_gate_pipeline" -> ((s, d) => {
      import s.implicits._
      val root = java.lang.System.getProperty("java.io.tmpdir") +
        s"/graft-gazgate-${d.replaceAll("[^A-Za-z0-9]", "_")}-" +
        s"${java.lang.ProcessHandle.current().pid()}"
      graft.Fs.delete(s, root)
      val gated = TextAnalysis.gazetteerGate(documents(s, d), "doc_id", "text",
          phrases = Seq("and", "data", "the ", "ing "), maxPerMilleChars = 20)
        .filter(!$"drop_density")
        .select($"doc_id", $"n_chars", $"n_matches")
        .localCheckpoint() // 3 batch filters + the gate reuse one scan
      val rules = Seq[graft.ops.Validate.Rule](
        graft.ops.Validate.NotNull("n_matches"),
        graft.ops.Validate.InRange("n_matches", 0.0, 10.0))
      val out = (0L until 3L).map { b =>
        val batch = gated.filter($"doc_id" % 3 === b)
        var stored = 0L
        val clean = graft.streaming.IncrementalIngest.gatedBatch(
          batch, rules, s"$root/quarantine", b) { df => stored = df.count() }
        val quarantined =
          if (clean) 0L
          else s.read.parquet(s"$root/quarantine/batch=$b/rows").count()
        (b, clean, stored, quarantined)
      }
      out.toDF("batch_id", "clean", "n_stored", "n_quarantined")
        .orderBy($"batch_id")
    }),

    // Blocklist document gate — the C4 bad-words rule (drop on any hit)
    // next to the softer per-mille ratio gate; integer
    // cross-multiplication keeps the ratio verdict float-free.
    "blocklist_gate" -> ((s, d) => {
      import s.implicits._
      TextAnalysis.blocklistGate(documents(s, d), "doc_id", "text",
          blocklist = Seq("slow", "dup"), maxPermille = 50)
        .orderBy($"doc_id")
    }),

    // SIF document embeddings (Arora et al. 2017) with md5-Rademacher
    // word vectors at dim 8 — corpus frequencies damp stopword-like
    // terms; the FULL embedding matrix is hash-checked because weights
    // are one integer division and the per-dim sums fold in document
    // order on both engines (the sequential-fold discipline).
    "sif_embedding" -> ((s, d) => {
      import s.implicits._
      graft.ops.Pool.sifEmbed(documents(s, d), "doc_id", "text", dim = 8)
        .orderBy($"doc_id")
    }),
  )

  /** Documents whose text is strictly single-space-separated words (no
    * other whitespace, no leading/trailing/double spaces) with every
    * word at most `maxWordLen` chars — the precondition under which the
    * exact split oracles' word-offset arithmetic holds. The DuckDB side
    * applies the identical predicate ([[singleSpaceDocsSql]]), so both
    * engines see the same row set; on the current corpus the filter is
    * a no-op (SplitOracleSpec asserts this stays true).
    */
  private def singleSpaceDocs(s: SparkSession, d: String, maxWordLen: Int): DataFrame = {
    import s.implicits._
    documents(s, d)
      .filter(length($"text") > 0)
      .filter(!$"text".rlike("[\\n\\t\\r]|  |^ | $"))
      .filter(array_max(transform(split($"text", " "), w => length(w))) <= maxWordLen)
  }

  /** DuckDB rendering of [[singleSpaceDocs]]'s predicate. */
  private def singleSpaceDocsSql(maxWordLen: Int): String =
    s"""length(text) > 0
       |    AND NOT regexp_matches(text, '[\\n\\t\\r]|  |^ | $$')
       |    AND list_max(list_transform(string_split(text, ' '), w -> length(w))) <= $maxWordLen""".stripMargin

  /** Unrolled-GD oracle for `classifier_quality_gate`: `iters`
    * full-batch logistic-regression steps as chained CTEs (the
    * pagerank/BPE unrolled-iteration pattern). Replay is exact because
    * the engine rounds the weight vector to 6 decimals after every
    * step, so last-ulp float-sum divergence never compounds.
    */
  private def logregOracleCore(iters: Int, lr: Double): String = {
    val steps = (1 to iters).map { k =>
      s"""p$k AS MATERIALIZED (
         |  SELECT f.doc_id, max(f.y) AS y,
         |    1.0 / (1.0 + exp(-(sum(w.w * f.x)))) AS p
         |  FROM feat f JOIN w${k - 1} w USING (b) GROUP BY f.doc_id),
         |g$k AS MATERIALIZED (
         |  SELECT f.b, sum((p.p - f.y) * f.x) AS g
         |  FROM feat f JOIN p$k p USING (doc_id) GROUP BY f.b),
         |w$k AS MATERIALIZED (
         |  SELECT w.b, round(w.w - st.step * g.g, 6) AS w
         |  FROM w${k - 1} w JOIN g$k g USING (b), st)""".stripMargin
    }.mkString(",\n")
    s"""WITH tb AS MATERIALIZED (
       |  SELECT doc_id, CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
       |    ('0x' || substr(md5(t), 1, 3))::INT AS b
       |  FROM (SELECT doc_id, lang,
       |          unnest(list_filter(regexp_split_to_array(trim(text),
       |            '\\s+'), t -> t <> '')) AS t
       |        FROM documents)),
       |nd AS (SELECT doc_id, count(*) AS n FROM tb GROUP BY doc_id),
       |feat AS MATERIALIZED (
       |  SELECT tb.doc_id, max(y) AS y, b, count(*)::DOUBLE / max(n) AS x
       |  FROM tb JOIN nd USING (doc_id) GROUP BY tb.doc_id, b
       |  UNION ALL
       |  SELECT doc_id, CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
       |    -1 AS b, 1.0 AS x FROM documents),
       |st AS (SELECT $lr / count(*) AS step FROM documents),
       |w0 AS MATERIALIZED (SELECT DISTINCT b, 0.0 AS w FROM feat),
       |$steps,
       |sc AS (
       |  SELECT f.doc_id, sum(coalesce(w.w, 0.0) * f.x) AS s
       |  FROM feat f LEFT JOIN w$iters w USING (b) GROUP BY f.doc_id)""".stripMargin
  }

  /** The gate query's final select over [[logregOracleCore]]. */
  private def logregOracleSql(iters: Int, lr: Double): String =
    s"""${logregOracleCore(iters, lr)}
       |SELECT d.doc_id, d.lang,
       |  round(1.0 / (1.0 + exp(-(sc.s))), 6) AS prob
       |FROM sc JOIN documents d USING (doc_id)
       |ORDER BY prob DESC, d.doc_id LIMIT 100""".stripMargin

  /** Calibration oracle: the same trained scores binned into a
    * reliability table with the global ECE on every row.
    */
  private def logregCalibrationSql(iters: Int, lr: Double): String =
    s"""${logregOracleCore(iters, lr)},
       |p0 AS (
       |  SELECT d.doc_id, CASE WHEN d.lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
       |    round(1.0 / (1.0 + exp(-(sc.s))), 6) AS prob
       |  FROM sc JOIN documents d USING (doc_id)),
       |b0 AS (
       |  SELECT least(floor(prob * 10), 9)::INT AS bin, count(*) AS n,
       |    CAST(floor(avg(prob) * 1000000 + 0.5) AS BIGINT) AS avg_prob_micros,
       |    CAST(floor(avg(y) * 1000000 + 0.5) AS BIGINT) AS frac_pos_micros
       |  FROM p0 GROUP BY 1),
       |g AS (SELECT *, abs(avg_prob_micros - frac_pos_micros) AS gap_micros
       |      FROM b0)
       |SELECT bin, n::BIGINT AS n, avg_prob_micros, frac_pos_micros, gap_micros,
       |  CAST(floor(sum(n * gap_micros) OVER ()::DOUBLE /
       |    sum(n) OVER ()::DOUBLE) AS BIGINT) AS ece_micros
       |FROM g ORDER BY bin""".stripMargin

  // the full Cavnar-Trenkle train+classify replay (shared by the
  // prediction and confidence-margin oracles)
  /** Held-out per-doc phrase for the trained lang-ID queries — twenty
    * variants across scripts (ten Latin-script languages plus
    * Cyrillic, Greek, Arabic, Devanagari, Thai, Hangul, Japanese,
    * Chinese, Vietnamese, Finnish), none of which appear in the
    * training corpus. MUST stay in lockstep with the CASE inside
    * [[langIdReplayCtes]].
    */
  private def langIdHeldOutPhrase(docId: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val v = pmod(docId, lit(20))
    when(v === 0, lit("the weather was cold yesterday and the trains were late again this morning"))
      .when(v === 1, lit("la casa de mi abuela tiene un jardín muy grande con muchas flores bonitas"))
      .when(v === 2, lit("der schnelle zug fährt heute nicht weil die strecke gesperrt wurde"))
      .when(v === 3, lit("le petit garçon mange une pomme rouge dans la cuisine de sa grandmère"))
      .when(v === 4, lit("la ragazza legge un libro interessante sulla storia della città antica"))
      .when(v === 5, lit("o menino foi à escola de manhã e voltou para casa no final da tarde"))
      .when(v === 6, lit("de kinderen spelen buiten in het park omdat het vandaag mooi weer is"))
      .when(v === 7, lit("det lilla huset ligger vid sjön och har ett rött tak med vita knutar"))
      .when(v === 8, lit("dzieci bawią się w ogrodzie a ich rodzice rozmawiają przy stole w kuchni"))
      .when(v === 9, lit("çocuklar bahçede oynuyor ve anneleri mutfakta akşam yemeği hazırlıyor"))
      .when(v === 10, lit("это было тёплое лето и мы часто ездили на электричке к бабушке в деревню"))
      .when(v === 11, lit("ο σκύλος τρέχει στο πάρκο κάθε πρωί πριν βγει ο ήλιος"))
      .when(v === 12, lit("يقرأ الطالب كتابا جديدا في المكتبة بعد انتهاء الدروس"))
      .when(v === 13, lit("आज मौसम बहुत अच्छा है और बच्चे बाहर खेल रहे हैं"))
      .when(v === 14, lit("รถไฟมาถึงสถานีแต่เช้าและผู้โดยสารรอกันอยู่ที่ชานชาลา"))
      .when(v === 15, lit("기차는 아침 일찍 역에 도착하고 승객들은 플랫폼에서 기다린다"))
      .when(v === 16, lit("電車は朝早く駅に着き乗客はホームで待っている"))
      .when(v === 17, lit("火车清晨到达车站乘客们在站台上等候"))
      .when(v === 18, lit("tàu đến ga từ sáng sớm và hành khách chờ trên sân ga"))
      .otherwise(lit("juna saapuu asemalle aikaisin aamulla ja matkustajat odottavat laiturilla"))
  }

  /** The trained-lang-ID distance replay as a CTE LIST (no leading
    * WITH), parameterized by the `docs` CTE body — must produce
    * `(doc_id, t)` with `t` already trim/collapse/lower normalized.
    * Ends at `dist(doc_id, lang, dist)`. Composable after other CTE
    * chains (names train/tg/prof/docs/dg/dprof/dist are reserved).
    */
  private def langIdDistCtes(docsBody: String): String =
    s"""train AS (
        |  SELECT lang, lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS t
        |  FROM read_json('${Checkout.fixture("langid/train.jsonl")}',
        |                 format='newline_delimited')),
        |tg AS (
        |  SELECT lang, substr(t, p::INT, n::INT) AS gram
        |  FROM (SELECT lang, t, unnest([1, 2, 3]) AS n FROM train) x,
        |  LATERAL (SELECT unnest(range(1, len(t) - n + 2)) AS p) g),
        |prof AS (
        |  SELECT lang, gram,
        |    row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, gram) AS rank
        |  FROM (SELECT lang, gram, count(*) AS cnt FROM tg GROUP BY 1, 2)
        |  QUALIFY rank <= 300),
        |docs AS ($docsBody),
        |dg AS (
        |  SELECT doc_id, substr(t, p::INT, n::INT) AS gram
        |  FROM (SELECT doc_id, t, unnest([1, 2, 3]) AS n FROM docs) x,
        |  LATERAL (SELECT unnest(range(1, len(t) - n + 2)) AS p) g),
        |dprof AS (
        |  SELECT doc_id, gram,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram) AS drank
        |  FROM (SELECT doc_id, gram, count(*) AS cnt FROM dg GROUP BY 1, 2)
        |  QUALIFY drank <= 300),
        |dist AS (
        |  SELECT d.doc_id, l.lang,
        |    sum(CASE WHEN p.rank IS NULL THEN 300
        |             ELSE abs(d.drank - p.rank) END) AS dist
        |  FROM dprof d
        |  CROSS JOIN (SELECT DISTINCT lang FROM prof) l
        |  LEFT JOIN prof p ON p.lang = l.lang AND p.gram = d.gram
        |  GROUP BY 1, 2)""".stripMargin

  private val langIdReplayCtes: String = "WITH " + langIdDistCtes(
    """SELECT doc_id, lower(regexp_replace(trim(
        |    CASE doc_id % 20
        |      WHEN 0 THEN 'the weather was cold yesterday and the trains were late again this morning'
        |      WHEN 1 THEN 'la casa de mi abuela tiene un jardín muy grande con muchas flores bonitas'
        |      WHEN 2 THEN 'der schnelle zug fährt heute nicht weil die strecke gesperrt wurde'
        |      WHEN 3 THEN 'le petit garçon mange une pomme rouge dans la cuisine de sa grandmère'
        |      WHEN 4 THEN 'la ragazza legge un libro interessante sulla storia della città antica'
        |      WHEN 5 THEN 'o menino foi à escola de manhã e voltou para casa no final da tarde'
        |      WHEN 6 THEN 'de kinderen spelen buiten in het park omdat het vandaag mooi weer is'
        |      WHEN 7 THEN 'det lilla huset ligger vid sjön och har ett rött tak med vita knutar'
        |      WHEN 8 THEN 'dzieci bawią się w ogrodzie a ich rodzice rozmawiają przy stole w kuchni'
        |      WHEN 9 THEN 'çocuklar bahçede oynuyor ve anneleri mutfakta akşam yemeği hazırlıyor'
        |      WHEN 10 THEN 'это было тёплое лето и мы часто ездили на электричке к бабушке в деревню'
        |      WHEN 11 THEN 'ο σκύλος τρέχει στο πάρκο κάθε πρωί πριν βγει ο ήλιος'
        |      WHEN 12 THEN 'يقرأ الطالب كتابا جديدا في المكتبة بعد انتهاء الدروس'
        |      WHEN 13 THEN 'आज मौसम बहुत अच्छा है और बच्चे बाहर खेल रहे हैं'
        |      WHEN 14 THEN 'รถไฟมาถึงสถานีแต่เช้าและผู้โดยสารรอกันอยู่ที่ชานชาลา'
        |      WHEN 15 THEN '기차는 아침 일찍 역에 도착하고 승객들은 플랫폼에서 기다린다'
        |      WHEN 16 THEN '電車は朝早く駅に着き乗客はホームで待っている'
        |      WHEN 17 THEN '火车清晨到达车站乘客们在站台上等候'
        |      WHEN 18 THEN 'tàu đến ga từ sáng sớm và hành khách chờ trên sân ga'
        |      ELSE 'juna saapuu asemalle aikaisin aamulla ja matkustajat odottavat laiturilla'
        |    END || ' doc ' || doc_id::VARCHAR), '\s+', ' ', 'g')) AS t
        |  FROM documents""".stripMargin)

  private val docTokens = "regexp_split_to_array(trim(text), '\\s+')"
  private def hits(lst: String): String =
    s"len(list_filter($docTokens, t -> t IN ($lst)))::BIGINT"
  private val enList = TextAnalysis.StopwordsEn.map(w => s"'$w'").mkString(", ")
  private val esList = TextAnalysis.StopwordsEs.map(w => s"'$w'").mkString(", ")
  private val deList = TextAnalysis.StopwordsDe.map(w => s"'$w'").mkString(", ")

  /** Exact oracle for `split_recursive`: on single-space documents the
    * separator descent lands on word atoms (word + trailing space,
    * last word bare), so atoms are reconstructible from prefix sums;
    * the greedy packing (`j` = furthest atom whose end fits the size
    * cap) and the overlap re-entry (`nxt` = earliest atom within
    * `overlap` chars of the chunk end) are closed-form per start atom,
    * and the chunk sequence is the transitive closure of `nxt` from
    * atom 0 — a recursive CTE. Independently re-derives the exact
    * boundary choice of `Split.recursive` (ops/Split.scala:44-91).
    */
  private def splitRecursiveOracle: String =
    s"""WITH RECURSIVE
       |docs AS (
       |  SELECT doc_id, text, length(text) AS tlen FROM documents
       |  WHERE ${singleSpaceDocsSql(199)}
       |),
       |wparts AS (
       |  SELECT doc_id, tlen, string_split(text, ' ') AS parts FROM docs
       |),
       |words AS (
       |  SELECT doc_id, tlen, g.i - 1 AS widx, parts[g.i] AS w, len(parts) AS nw
       |  FROM wparts, LATERAL (SELECT unnest(generate_series(1, len(parts))) AS i) g
       |),
       |atoms0 AS (
       |  SELECT doc_id, widx AS aidx, nw AS natoms,
       |         coalesce(sum(length(w) + 1) OVER (PARTITION BY doc_id ORDER BY widx
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS astart,
       |         length(w) + CASE WHEN widx = nw - 1 THEN 0 ELSE 1 END AS alen
       |  FROM words
       |),
       |atoms AS (
       |  SELECT doc_id, 0 AS aidx, 0 AS astart, tlen AS aend, 1 AS natoms
       |  FROM docs WHERE tlen <= 200
       |  UNION ALL
       |  SELECT a.doc_id, a.aidx, a.astart, a.astart + a.alen AS aend, a.natoms
       |  FROM atoms0 a JOIN docs d USING (doc_id) WHERE d.tlen > 200
       |),
       |jc AS (
       |  SELECT a.doc_id, a.aidx AS i, a.astart AS cstart,
       |         max(b.aidx) AS j, max(b.aend) AS cend, max(a.natoms) AS natoms
       |  FROM atoms a JOIN atoms b
       |    ON b.doc_id = a.doc_id AND b.aidx >= a.aidx AND b.aend - a.astart <= 200
       |  GROUP BY a.doc_id, a.aidx, a.astart
       |),
       |nc AS (
       |  SELECT jc.doc_id, jc.i, jc.cstart, jc.cend, jc.j, jc.natoms,
       |         coalesce(min(w2.aidx), jc.j + 1) AS nxt
       |  FROM jc LEFT JOIN atoms w2
       |    ON w2.doc_id = jc.doc_id AND w2.aidx > jc.i AND w2.aidx <= jc.j
       |   AND jc.cend - w2.astart <= 40
       |  GROUP BY jc.doc_id, jc.i, jc.cstart, jc.cend, jc.j, jc.natoms
       |),
       |chain AS (
       |  SELECT doc_id, 0 AS i, 0 AS chunk_idx FROM docs
       |  UNION ALL
       |  SELECT c.doc_id, n.nxt AS i, c.chunk_idx + 1
       |  FROM chain c JOIN nc n ON n.doc_id = c.doc_id AND n.i = c.i
       |  WHERE n.j + 1 < n.natoms
       |)
       |SELECT c.doc_id,
       |       CAST(c.chunk_idx AS BIGINT) AS chunk_idx,
       |       CAST(n.cstart AS BIGINT) AS chunk_start,
       |       CAST(n.cend - n.cstart AS BIGINT) AS chunk_len,
       |       c.doc_id || '_' || (c.chunk_idx + 1) AS chunk_id
       |FROM chain c JOIN nc n ON n.doc_id = c.doc_id AND n.i = c.i
       |ORDER BY c.doc_id, chunk_idx""".stripMargin

  /** Exact oracle for `split_token_pack`: re-runs the engine's BPE
    * merge inference itself (functions/Split.scala BpeTokenizer merge
    * table) as a recursive CTE over the distinct vocabulary — each
    * step fuses the adjacent pair with the lowest merge rank (ties
    * leftmost, encoded rank*64+i so plain min() picks both), stopping
    * when no pair is in the table; the terminal symbol count is the
    * word's token cost. Greedy packing and the overlap token carry are
    * then replayed over cost prefix sums exactly like the recursive
    * splitter's chain.
    */
  private def splitTokenPackOracle: String =
    s"""WITH RECURSIVE
       |docs AS (
       |  SELECT doc_id, text, length(text) AS tlen FROM documents
       |  WHERE ${singleSpaceDocsSql(60)}
       |),
       |wparts AS (
       |  SELECT doc_id, text, string_split(text, ' ') AS parts FROM docs
       |),
       |words AS (
       |  SELECT doc_id, g.i - 1 AS widx, parts[g.i] AS w, len(parts) AS nw
       |  FROM wparts, LATERAL (SELECT unnest(generate_series(1, len(parts))) AS i) g
       |),
       |vocab AS (SELECT DISTINCT w FROM words),
       |bpe AS (
       |  SELECT w, list_transform(generate_series(1, length(w)), i -> w[i]) AS syms
       |  FROM vocab
       |  UNION ALL
       |  SELECT w,
       |    list_slice(syms, 1, (best % 64) - 1)
       |      || [syms[best % 64] || syms[(best % 64) + 1]]
       |      || list_slice(syms, (best % 64) + 2, len(syms)) AS syms
       |  FROM (
       |    SELECT w, syms,
       |      list_aggregate(list_transform(generate_series(1, len(syms) - 1),
       |        i -> (CASE syms[i] || '|' || syms[i + 1]
       |              WHEN 't|h' THEN 0 WHEN 'th|e' THEN 1 WHEN 'i|n' THEN 2
       |              WHEN 'e|r' THEN 3 WHEN 'a|n' THEN 4 WHEN 'r|e' THEN 5
       |              WHEN 'o|n' THEN 6 WHEN 'a|t' THEN 7 WHEN 'e|n' THEN 8
       |              WHEN 'n|d' THEN 9 WHEN 't|i' THEN 10 WHEN 'e|s' THEN 11
       |              WHEN 'o|r' THEN 12 WHEN 'a|r' THEN 13 WHEN 'te|r' THEN 14
       |              WHEN 'a|l' THEN 15 WHEN 's|t' THEN 16 WHEN 'in|g' THEN 17
       |              WHEN 'o|u' THEN 18 WHEN 'q|u' THEN 19 WHEN 'c|h' THEN 20
       |              WHEN 'e|d' THEN 21 WHEN 'o|f' THEN 22 WHEN 'i|s' THEN 23
       |              END) * 64 + i), 'min') AS best
       |    FROM bpe WHERE len(syms) > 1
       |  ) WHERE best IS NOT NULL
       |),
       |wcost AS (
       |  SELECT w, greatest(1, min(len(syms))) AS cost FROM bpe GROUP BY w
       |),
       |tw AS (
       |  SELECT wo.doc_id, wo.widx, wo.nw, c.cost,
       |         coalesce(sum(length(wo.w) + 1) OVER (PARTITION BY wo.doc_id ORDER BY wo.widx
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS wstart,
       |         coalesce(sum(length(wo.w) + 1) OVER (PARTITION BY wo.doc_id ORDER BY wo.widx
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + length(wo.w) AS wend,
       |         sum(c.cost) OVER (PARTITION BY wo.doc_id ORDER BY wo.widx) AS pcost
       |  FROM words wo JOIN wcost c ON c.w = wo.w
       |),
       |jc AS (
       |  SELECT a.doc_id, a.widx AS i, a.wstart AS cstart,
       |         max(b.widx) AS j, max(b.wend) AS cend, max(b.pcost) AS pj,
       |         max(a.nw) AS nw
       |  FROM tw a JOIN tw b
       |    ON b.doc_id = a.doc_id AND b.widx >= a.widx
       |   AND b.pcost - (a.pcost - a.cost) <= 60
       |  GROUP BY a.doc_id, a.widx, a.wstart
       |),
       |nc AS (
       |  SELECT jc.doc_id, jc.i, jc.cstart, jc.cend, jc.j, jc.nw,
       |         coalesce(min(t2.widx), jc.j + 1) AS nxt
       |  FROM jc LEFT JOIN tw t2
       |    ON t2.doc_id = jc.doc_id AND t2.widx > jc.i AND t2.widx <= jc.j
       |   AND jc.pj - (t2.pcost - t2.cost) <= 15
       |  GROUP BY jc.doc_id, jc.i, jc.cstart, jc.cend, jc.j, jc.nw
       |),
       |chain AS (
       |  SELECT doc_id, 0 AS i, 0 AS chunk_idx FROM docs
       |  UNION ALL
       |  SELECT c.doc_id, n.nxt AS i, c.chunk_idx + 1
       |  FROM chain c JOIN nc n ON n.doc_id = c.doc_id AND n.i = c.i
       |  WHERE n.j + 1 < n.nw
       |)
       |SELECT c.doc_id,
       |       CAST(c.chunk_idx AS BIGINT) AS chunk_idx,
       |       CAST(n.cstart AS BIGINT) AS chunk_start,
       |       substring(d.text, CAST(n.cstart AS INT) + 1, CAST(n.cend - n.cstart AS INT)) AS chunk_text
       |FROM chain c
       |JOIN nc n ON n.doc_id = c.doc_id AND n.i = c.i
       |JOIN docs d ON d.doc_id = c.doc_id
       |ORDER BY c.doc_id, chunk_idx""".stripMargin

  /** One BPE round as CTEs (the pagerank unrolled-iteration pattern):
    * from symbol table s{i} derive pair counts, the argmax pair
    * best{i}, the non-overlapping active candidates (runs of
    * consecutive candidate positions; even offsets within a run are the
    * left-to-right greedy picks — a merged pair consumes its right
    * symbol, so the next candidate in a run is blocked, the one after
    * free), and the rewritten symbol table s{i+1}.
    */
  private def bpeIter(i: Int): String = {
    val s = s"s$i"
    s"""p$i AS (
       |  SELECT s.word, s.cnt, CAST(t.i AS INT) AS pos,
       |    s.syms[CAST(t.i AS INT)] AS a, s.syms[CAST(t.i AS INT) + 1] AS b
       |  FROM $s s, UNNEST(range(1, len(s.syms))) AS t(i)),
       |pc$i AS (SELECT a, b, sum(cnt) AS n FROM p$i GROUP BY a, b),
       |best$i AS (SELECT a, b, n FROM pc$i ORDER BY n DESC, a, b LIMIT 1),
       |cand$i AS (SELECT p.word, p.pos FROM p$i p, best$i x
       |  WHERE p.a = x.a AND p.b = x.b),
       |act$i AS (SELECT word, pos FROM (
       |  SELECT word, pos, pos - min(pos) OVER (PARTITION BY word, grp) AS off
       |  FROM (SELECT word, pos,
       |          pos - row_number() OVER (PARTITION BY word ORDER BY pos) AS grp
       |        FROM cand$i))
       |  WHERE off % 2 = 0),
       |s${i + 1} AS (
       |  SELECT e.word, e.cnt, list(CASE WHEN a.pos IS NOT NULL
       |      THEN e.sym || e.nxt ELSE e.sym END ORDER BY e.pos) AS syms
       |  FROM (SELECT s.word, s.cnt, CAST(t.i AS INT) AS pos,
       |          s.syms[CAST(t.i AS INT)] AS sym,
       |          s.syms[CAST(t.i AS INT) + 1] AS nxt
       |        FROM $s s, UNNEST(range(1, len(s.syms) + 1)) AS t(i)) e
       |  LEFT JOIN act$i a ON a.word = e.word AND a.pos = e.pos
       |  LEFT JOIN act$i c ON c.word = e.word AND c.pos = e.pos - 1
       |  WHERE c.pos IS NULL
       |  GROUP BY e.word, e.cnt)""".stripMargin
  }

  private val bpeLearnOracle: String =
    s"""WITH w AS (SELECT term AS word, count(*) AS cnt FROM (
       |    SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
       |    FROM documents) WHERE term <> '' GROUP BY term),
       |s1 AS (SELECT word, cnt, list_transform(range(1, length(word) + 1),
       |        i -> substr(word, CAST(i AS INT), 1)) AS syms FROM w),
       |${bpeIter(1)},
       |${bpeIter(2)},
       |${bpeIter(3)}
       |SELECT * FROM (
       |  SELECT 1 AS iteration, a AS pair_a, b AS pair_b,
       |    n::BIGINT AS freq FROM best1
       |  UNION ALL SELECT 2, a, b, n::BIGINT FROM best2
       |  UNION ALL SELECT 3, a, b, n::BIGINT FROM best3)
       |ORDER BY iteration""".stripMargin

  /** The Stupid Backoff CTE chain through per-position scores `p` —
    * shared by the scoring oracle and the perplexity-filter oracle
    * (identical counts, probes, and backoff CASE; only the tail
    * aggregation differs).
    */
  private def ngramLmCtes(trainWhere: String, scoreWhere: String): String =
    s"""WITH tokc AS (SELECT list_filter(regexp_split_to_array(trim(text), '\\s+'),
      |        t -> t <> '') AS w FROM documents $trainWhere),
      |gr AS (
      |  SELECT 1 AS o, w[CAST(t.i AS INT)] AS gram
      |  FROM tokc, UNNEST(range(1, len(w) + 1)) t(i)
      |  UNION ALL
      |  SELECT 2, w[CAST(t.i AS INT)] || ' ' || w[CAST(t.i AS INT) + 1]
      |  FROM tokc, UNNEST(range(1, len(w))) t(i)
      |  UNION ALL
      |  SELECT 3, w[CAST(t.i AS INT)] || ' ' || w[CAST(t.i AS INT) + 1]
      |    || ' ' || w[CAST(t.i AS INT) + 2]
      |  FROM tokc, UNNEST(range(1, len(w) - 1)) t(i)),
      |cnts AS (SELECT o, gram, count(*) AS c FROM gr GROUP BY o, gram),
      |nn AS (SELECT count(*) AS n FROM gr WHERE o = 1),
      |sd AS (SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\\s+'),
      |        t -> t <> '') AS w FROM documents $scoreWhere),
      |sc AS (SELECT doc_id, CAST(t.i AS INT) AS i, w[CAST(t.i AS INT)] AS tk,
      |    CASE WHEN CAST(t.i AS INT) >= 2 THEN w[CAST(t.i AS INT) - 1] END AS p1,
      |    CASE WHEN CAST(t.i AS INT) >= 3 THEN w[CAST(t.i AS INT) - 2] END AS p2
      |  FROM sd, UNNEST(range(1, len(w) + 1)) t(i)),
      |j AS (SELECT s.doc_id, s.i,
      |    cu.c AS c_u, c1.c AS c_c1, b.c AS c_b, cb.c AS c_cb, tr.c AS c_tr
      |  FROM sc s
      |  LEFT JOIN cnts cu ON cu.o = 1 AND cu.gram = s.tk
      |  LEFT JOIN cnts c1 ON c1.o = 1 AND c1.gram = s.p1
      |  LEFT JOIN cnts b ON b.o = 2 AND b.gram = s.p1 || ' ' || s.tk
      |  LEFT JOIN cnts cb ON cb.o = 2 AND cb.gram = s.p2 || ' ' || s.p1
      |  LEFT JOIN cnts tr ON tr.o = 3
      |    AND tr.gram = s.p2 || ' ' || s.p1 || ' ' || s.tk),
      |p AS (SELECT doc_id, i,
      |    CASE WHEN i = 1 THEN coalesce(CAST(c_u AS DOUBLE) / nn.n, 0)
      |         WHEN i = 2 THEN
      |           CASE WHEN c_b IS NOT NULL THEN CAST(c_b AS DOUBLE) / c_c1
      |                ELSE 0.4 * coalesce(CAST(c_u AS DOUBLE) / nn.n, 0) END
      |         ELSE
      |           CASE WHEN c_tr IS NOT NULL THEN CAST(c_tr AS DOUBLE) / c_cb
      |                WHEN c_b IS NOT NULL THEN 0.4 * (CAST(c_b AS DOUBLE) / c_c1)
      |                ELSE 0.4 * (0.4 * coalesce(CAST(c_u AS DOUBLE) / nn.n, 0))
      |           END
      |    END AS s
      |  FROM j, nn)""".stripMargin

  // NOTE: the CTE chunk is already margin-stripped — concatenate, never
  // re-stripMargin over it (its `|| ' ' ||` continuation lines would be
  // eaten as margins)
  private val ngramLmOracle: String =
    ngramLmCtes("WHERE doc_id >= 10", "WHERE doc_id < 10") + "\n" +
      """SELECT doc_id, count(*) AS n_tokens,
      |  sum(CASE WHEN s = 0 THEN 1 ELSE 0 END)::BIGINT AS n_zero,
      |  round(sum(CASE WHEN s > 0 THEN ln(s) END), 6) AS logprob
      |FROM p GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Perplexity gate: score EVERY doc against the held-out-trained
    * model, keep docs with no zero-score chain and 6dp-rounded
    * ppl ≤ threshold — the KenLM-style fluency filter tail.
    */
  private def pplFilterOracle(maxPpl: Double): String =
    ngramLmCtes("WHERE doc_id >= 10", "") + "\n" +
      s"""SELECT doc_id, n_tokens, ppl FROM (
      |  SELECT doc_id, count(*) AS n_tokens,
      |    sum(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS n_zero,
      |    round(exp(-sum(CASE WHEN s > 0 THEN ln(s) END) / count(*)), 6) AS ppl
      |  FROM p GROUP BY doc_id)
      |WHERE n_zero = 0 AND ppl <= $maxPpl
      |ORDER BY doc_id""".stripMargin

  private val bleuOracle: String =
    """WITH d AS (SELECT doc_id, list_filter(regexp_split_to_array(trim(text),
      |        '\s+'), t -> t <> '') AS w FROM documents WHERE doc_id < 20),
      |pr AS (SELECT r.doc_id, r.w AS rw, c.cw FROM d r JOIN (
      |    SELECT (doc_id + 19) % 20 AS doc_id,
      |      w[1:least(len(w), 25)] AS cw FROM d) c USING (doc_id)),
      |cg AS (
      |  SELECT doc_id, 1 AS n, cw[CAST(t.i AS INT)] AS gram
      |  FROM pr, UNNEST(range(1, len(cw) + 1)) t(i)
      |  UNION ALL
      |  SELECT doc_id, 2, cw[CAST(t.i AS INT)] || ' ' || cw[CAST(t.i AS INT) + 1]
      |  FROM pr, UNNEST(range(1, len(cw))) t(i)),
      |rg AS (
      |  SELECT doc_id, 1 AS n, rw[CAST(t.i AS INT)] AS gram
      |  FROM pr, UNNEST(range(1, len(rw) + 1)) t(i)
      |  UNION ALL
      |  SELECT doc_id, 2, rw[CAST(t.i AS INT)] || ' ' || rw[CAST(t.i AS INT) + 1]
      |  FROM pr, UNNEST(range(1, len(rw))) t(i)),
      |cc AS (SELECT doc_id, n, gram, count(*) AS c FROM cg GROUP BY doc_id, n, gram),
      |rc AS (SELECT doc_id, n, gram, count(*) AS c FROM rg GROUP BY doc_id, n, gram),
      |cl AS (SELECT cc.doc_id, cc.n,
      |    sum(least(cc.c, coalesce(rc.c, 0))) AS clip, sum(cc.c) AS tot
      |  FROM cc LEFT JOIN rc ON rc.doc_id = cc.doc_id AND rc.n = cc.n
      |    AND rc.gram = cc.gram
      |  GROUP BY cc.doc_id, cc.n),
      |pn AS (SELECT doc_id,
      |    max(CASE WHEN n = 1 THEN CAST(clip AS DOUBLE) / tot END) AS p1,
      |    max(CASE WHEN n = 2 THEN CAST(clip AS DOUBLE) / tot END) AS p2
      |  FROM cl GROUP BY doc_id),
      |l AS (SELECT doc_id, len(cw) AS n_cand, len(rw) AS n_ref FROM pr)
      |SELECT l.doc_id, CAST(l.n_cand AS BIGINT) AS n_cand,
      |  CAST(l.n_ref AS BIGINT) AS n_ref,
      |  CAST(floor(coalesce(p1, 0) * 1000000 + 0.5) AS BIGINT) AS p1_micros,
      |  CAST(floor(coalesce(p2, 0) * 1000000 + 0.5) AS BIGINT) AS p2_micros,
      |  round(CASE WHEN l.n_cand = 0 OR coalesce(p1, 0) = 0
      |               OR coalesce(p2, 0) = 0 THEN 0.0
      |        ELSE (CASE WHEN l.n_cand >= l.n_ref THEN 1.0
      |              ELSE exp(1.0 - CAST(l.n_ref AS DOUBLE) / l.n_cand) END)
      |             * exp((ln(p1) + ln(p2)) / 2) END, 6) AS bleu
      |FROM l LEFT JOIN pn USING (doc_id) ORDER BY l.doc_id""".stripMargin

  private val rouge2Oracle: String =
    """WITH d AS (SELECT doc_id, list_filter(regexp_split_to_array(trim(text),
      |        '\s+'), t -> t <> '') AS w FROM documents WHERE doc_id < 20),
      |pr AS (SELECT r.doc_id, r.w AS rw, c.cw FROM d r JOIN (
      |    SELECT (doc_id + 19) % 20 AS doc_id,
      |      w[1:least(len(w), 25)] AS cw FROM d) c USING (doc_id)),
      |cg AS (SELECT doc_id, cw[CAST(t.i AS INT)] || ' ' ||
      |    cw[CAST(t.i AS INT) + 1] AS gram
      |  FROM pr, UNNEST(range(1, len(cw))) t(i)),
      |rg AS (SELECT doc_id, rw[CAST(t.i AS INT)] || ' ' ||
      |    rw[CAST(t.i AS INT) + 1] AS gram
      |  FROM pr, UNNEST(range(1, len(rw))) t(i)),
      |cc AS (SELECT doc_id, gram, count(*) AS c FROM cg GROUP BY doc_id, gram),
      |rc AS (SELECT doc_id, gram, count(*) AS c FROM rg GROUP BY doc_id, gram),
      |ov AS (SELECT cc.doc_id,
      |    sum(least(cc.c, coalesce(rc.c, 0))) AS overlap,
      |    sum(cc.c) AS ctot
      |  FROM cc LEFT JOIN rc ON rc.doc_id = cc.doc_id AND rc.gram = cc.gram
      |  GROUP BY cc.doc_id),
      |rt AS (SELECT doc_id, sum(c) AS rtot FROM rc GROUP BY doc_id),
      |m AS (SELECT pr.doc_id,
      |    coalesce(ov.ctot, 0) AS n_cand_grams,
      |    coalesce(rt.rtot, 0) AS n_ref_grams,
      |    coalesce(ov.overlap, 0) AS overlap
      |  FROM pr LEFT JOIN ov USING (doc_id) LEFT JOIN rt USING (doc_id))
      |SELECT doc_id, n_cand_grams::BIGINT AS n_cand_grams,
      |  n_ref_grams::BIGINT AS n_ref_grams, overlap::BIGINT AS overlap,
      |  CASE WHEN n_cand_grams = 0 THEN 0 ELSE
      |    CAST((2*1000000*overlap + n_cand_grams) // (2*n_cand_grams) AS BIGINT)
      |    END AS precision_micros,
      |  CASE WHEN n_ref_grams = 0 THEN 0 ELSE
      |    CAST((2*1000000*overlap + n_ref_grams) // (2*n_ref_grams) AS BIGINT)
      |    END AS recall_micros,
      |  CASE WHEN n_cand_grams + n_ref_grams = 0 THEN 0 ELSE
      |    CAST((2*1000000*2*overlap + n_cand_grams + n_ref_grams)
      |      // (2*(n_cand_grams + n_ref_grams)) AS BIGINT) END AS f1_micros
      |FROM m ORDER BY doc_id""".stripMargin

  private val bpeStatsOracle: String =
    s"""WITH w AS (SELECT term AS word, count(*) AS cnt FROM (
       |    SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
       |    FROM documents) WHERE term <> '' GROUP BY term),
       |s1 AS (SELECT word, cnt, list_transform(range(1, length(word) + 1),
       |        i -> substr(word, CAST(i AS INT), 1)) AS syms FROM w),
       |${bpeIter(1)},
       |${bpeIter(2)},
       |${bpeIter(3)}
       |SELECT count(*) AS n_distinct_words,
       |  sum(cnt)::BIGINT AS n_word_occurrences,
       |  sum(cnt * len(syms))::BIGINT AS n_symbol_occurrences,
       |  CAST(floor(CAST(sum(cnt * len(syms)) AS DOUBLE) / sum(cnt)
       |    * 1000000 + 0.5) AS BIGINT) AS fertility_micros,
       |  (SELECT count(DISTINCT s) FROM
       |     (SELECT unnest(syms) AS s FROM s4)) AS n_vocab_symbols
       |FROM s4""".stripMargin

  /** The Gopher per-doc count CTEs through `c` — shared by the per-doc
    * rule query and the corpus health rollup. Already margin-stripped —
    * concatenate, never re-stripMargin.
    */
  private val gopherCtes: String =
    """WITH b AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(trim(text), '\s+'),
      |      t -> t <> '') AS w,
      |    list_filter(string_split(coalesce(text, ''), chr(10)),
      |      l -> l <> '') AS l
      |  FROM documents),
      |c AS (SELECT doc_id,
      |    len(w)::BIGINT AS n_words,
      |    coalesce(list_sum(list_transform(w, t -> length(t))), 0)::BIGINT
      |      AS n_word_chars,
      |    len(list_filter(w, t -> contains(t, '#') OR contains(t, '...')))
      |      ::BIGINT AS n_symbol_words,
      |    len(list_filter(w, t -> regexp_matches(t, '[A-Za-z]')))::BIGINT
      |      AS n_alpha_words,
      |    len(l)::BIGINT AS n_lines,
      |    len(list_filter(l, x -> x LIKE '- %' OR x LIKE '•%'))::BIGINT
      |      AS n_bullet_lines,
      |    len(list_filter(w, t -> t IN ('the', 'a', 'of', 'to', 'in',
      |      'and', 'is')))::BIGINT AS n_stopword_hits
      |  FROM b)""".stripMargin

  /** The tokenizer-apply CTE chain through per-doc counts `ag`: the
    * same three learned merge rounds ([[bpeIter]]), then each
    * document's words joined to the final symbol table. Shared by the
    * encode-stats oracle and the BPE-window-packing oracle. Already
    * margin-stripped — concatenate, never re-stripMargin.
    */
  private val bpeDocCtes: String =
    s"""WITH w AS (SELECT term AS word, count(*) AS cnt FROM (
       |    SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
       |    FROM documents) WHERE term <> '' GROUP BY term),
       |s1 AS (SELECT word, cnt, list_transform(range(1, length(word) + 1),
       |        i -> substr(word, CAST(i AS INT), 1)) AS syms FROM w),
       |${bpeIter(1)},
       |${bpeIter(2)},
       |${bpeIter(3)},
       |dw AS (SELECT doc_id, unnest(list_filter(regexp_split_to_array(trim(text),
       |        '\\s+'), t -> t <> '')) AS word FROM documents),
       |ag AS (SELECT doc_id, count(*) AS n_words, sum(len(s4.syms)) AS n_bpe
       |       FROM dw JOIN s4 USING (word) GROUP BY doc_id)""".stripMargin

  /** Both tokenizer versions replayed from the shared merge chain
    * (s4 = after 3 merges, s6 = after 5), diffed per lang.
    */
  private val bpeDriftOracle: String =
    s"""WITH w AS (SELECT term AS word, count(*) AS cnt FROM (
       |    SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
       |    FROM documents) WHERE term <> '' GROUP BY term),
       |s1 AS (SELECT word, cnt, list_transform(range(1, length(word) + 1),
       |        i -> substr(word, CAST(i AS INT), 1)) AS syms FROM w),
       |${bpeIter(1)},
       |${bpeIter(2)},
       |${bpeIter(3)},
       |${bpeIter(4)},
       |${bpeIter(5)},
       |dw AS (SELECT doc_id, unnest(list_filter(regexp_split_to_array(trim(text),
       |        '\\s+'), t -> t <> '')) AS word FROM documents),
       |pd AS (SELECT dw.doc_id, sum(len(s4.syms)) AS v1, sum(len(s6.syms)) AS v2
       |       FROM dw JOIN s4 USING (word) JOIN s6 USING (word)
       |       GROUP BY dw.doc_id),
       |fd AS (SELECT d.doc_id, d.lang,
       |         coalesce(pd.v1, 0) AS v1, coalesce(pd.v2, 0) AS v2
       |       FROM documents d LEFT JOIN pd USING (doc_id))
       |SELECT lang, count(*)::BIGINT AS n_docs,
       |  sum(v1)::BIGINT AS sum_tokens_v1, sum(v2)::BIGINT AS sum_tokens_v2,
       |  sum(CASE WHEN v1 <> v2 THEN 1 ELSE 0 END)::BIGINT AS n_docs_changed,
       |  CAST(CASE WHEN sum(v1) > 0
       |    THEN floor((sum(v1) - sum(v2))::DOUBLE / sum(v1) * 1000000 + 0.5)
       |    ELSE 0 END AS BIGINT) AS savings_micros
       |FROM fd GROUP BY lang ORDER BY lang""".stripMargin

  private val bpeEncodeOracle: String =
    bpeDocCtes + "\n" +
      """SELECT doc.doc_id, coalesce(ag.n_words, 0)::BIGINT AS n_words,
       |  coalesce(ag.n_bpe, 0)::BIGINT AS n_bpe_tokens
       |FROM documents doc LEFT JOIN ag ON ag.doc_id = doc.doc_id
       |ORDER BY doc.doc_id""".stripMargin

  /** Packing replayed on the BPE token stream: the same seeded-md5
    * window as `pack_sequence_windows`, fed by `ag`'s subword counts.
    */
  private val bpePackOracle: String =
    bpeDocCtes + ",\n" +
      """tk AS (SELECT doc.doc_id, coalesce(ag.n_bpe, 0)::BIGINT AS tokens
       |       FROM documents doc LEFT JOIN ag ON ag.doc_id = doc.doc_id)
       |SELECT doc_id, position, "offset"::BIGINT AS "offset",
       |  ("offset" // 512)::BIGINT AS first_window,
       |  (("offset" + greatest(tokens - 1, 0)) // 512)::BIGINT AS last_window
       |FROM (
       |  SELECT doc_id, tokens,
       |    row_number() OVER w AS position,
       |    coalesce(sum(tokens) OVER (
       |      w ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS "offset"
       |  FROM tk
       |  WINDOW w AS (ORDER BY md5(doc_id::VARCHAR || ':b0'), doc_id))
       |ORDER BY position""".stripMargin

  private val chrfOracle: String = {
    def grams(src: String): String = (1 to 6).map { o =>
      s"""SELECT doc_id, $o AS n, substr($src, CAST(t.i AS INT), $o) AS gram
         |  FROM pr, UNNEST(range(1, length($src) - ${o - 1} + 1)) t(i)""".stripMargin
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH pr AS (
       |  SELECT r.doc_id,
       |    regexp_replace(r.text, '[\\t\\n\\f\\r ]+', '', 'g') AS rs,
       |    regexp_replace(c.ctext, '[\\t\\n\\f\\r ]+', '', 'g') AS cs
       |  FROM (SELECT doc_id, text FROM documents WHERE doc_id < 20) r
       |  JOIN (SELECT (doc_id + 19) % 20 AS doc_id,
       |          array_to_string(list_filter(regexp_split_to_array(trim(text),
       |            '\\s+'), t -> t <> '')[1:25], ' ') AS ctext
       |        FROM documents WHERE doc_id < 20) c USING (doc_id)),
       |cg AS (
       |  ${grams("cs")}),
       |rg AS (
       |  ${grams("rs")}),
       |cc AS (SELECT doc_id, n, gram, count(*) AS c FROM cg GROUP BY doc_id, n, gram),
       |rc AS (SELECT doc_id, n, gram, count(*) AS c FROM rg GROUP BY doc_id, n, gram),
       |cl AS (SELECT cc.doc_id, cc.n,
       |    sum(least(cc.c, coalesce(rc.c, 0))) AS clip, sum(cc.c) AS ctot
       |  FROM cc LEFT JOIN rc ON rc.doc_id = cc.doc_id AND rc.n = cc.n
       |    AND rc.gram = cc.gram
       |  GROUP BY cc.doc_id, cc.n),
       |rt AS (SELECT doc_id, n, sum(c) AS rtot FROM rc GROUP BY doc_id, n),
       |fo AS (SELECT cl.doc_id,
       |    CASE WHEN cl.clip = 0 OR rt.rtot IS NULL THEN 0.0
       |         ELSE 5.0 * (CAST(cl.clip AS DOUBLE) / cl.ctot)
       |                  * (CAST(cl.clip AS DOUBLE) / rt.rtot) /
       |              (4.0 * (CAST(cl.clip AS DOUBLE) / cl.ctot)
       |                   + (CAST(cl.clip AS DOUBLE) / rt.rtot)) END AS f
       |  FROM cl LEFT JOIN rt ON rt.doc_id = cl.doc_id AND rt.n = cl.n),
       |sc AS (SELECT doc_id, sum(f) / 6.0 AS chrf FROM fo GROUP BY doc_id)
       |SELECT pr.doc_id,
       |  CAST(length(cs) AS BIGINT) AS n_cand_chars,
       |  CAST(length(rs) AS BIGINT) AS n_ref_chars,
       |  round(coalesce(sc.chrf, 0), 6) AS chrf
       |FROM pr LEFT JOIN sc USING (doc_id) ORDER BY pr.doc_id""".stripMargin
  }

  /** The unigram model CTE chain (tokenize → vocab → recursive-CTE
    * Viterbi → per-doc folds) shared by the stats and packing
    * oracles — packing must consume the SAME piece counts.
    */
  /** The unigram vocabulary CTE chain (tokenize → weighted substring
    * counts → top-V + chars → scores → distinct words) shared by the
    * stats, packing, and encode oracles.
    */
  private val unigramVocabCtes: String =
    """WITH toks AS (SELECT doc_id, r['pos'] AS pos, r['w'] AS w FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(a) + 1),
        |        i -> {'pos': i, 'w': a[i]})) AS r
        |    FROM (SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'),
        |            t -> t <> '') AS a FROM documents))),
        |wc AS (SELECT w AS word, count(*)::BIGINT AS cnt FROM toks GROUP BY w),
        |cand AS (SELECT piece, sum(cnt)::BIGINT AS pcnt FROM (
        |    SELECT cnt, unnest(flatten(list_transform(range(0, len(word)),
        |        s -> list_transform(range(1, least(4, len(word) - s) + 1),
        |          l -> word[(s+1)::INT : (s+l)::INT])))) AS piece
        |    FROM wc) GROUP BY piece),
        |multi AS (SELECT piece, pcnt FROM cand WHERE len(piece) > 1
        |  ORDER BY pcnt DESC, piece LIMIT 50),
        |chars AS (SELECT piece, pcnt FROM cand WHERE len(piece) = 1),
        |vocab0 AS (SELECT * FROM chars UNION ALL SELECT * FROM multi),
        |tot AS (SELECT sum(pcnt)::BIGINT AS t FROM vocab0),
        |vocab AS (SELECT piece, ln(pcnt::DOUBLE / t::DOUBLE) AS logp FROM vocab0, tot),
        |dwords AS (SELECT DISTINCT w AS word FROM toks)""".stripMargin

  /** The Viterbi-EM round unrolled `rounds` times as chained CTEs (the
    * logregOracleCore discipline): each round re-quantizes the previous
    * scores to integer micro-log-probs, replays the Long-arithmetic DP,
    * walks the backpointers, recounts usage, prunes, and renormalizes.
    * Chars come from the seed vocab every round — the floor keeps them
    * alive, so the char set is round-invariant.
    *
    * The DP and the walk are UNROLLED position-by-position as plain
    * chained CTEs rather than recursive ones: DuckDB (observed on
    * 1.0.0) silently evaluates a recursive-lineage CTE as partially
    * empty when referenced from inside ANOTHER recursive CTE's
    * recursive term, which broke round 2's DP (it saw only the
    * char-leg of the round-1 vocab). Unrolling removes every recursion
    * from the chain (each step CTE is MATERIALIZED — single-referenced
    * CTEs otherwise inline into a lateral pyramid, measured >600 s vs
    * ~1 s); `MaxOracleWordLen` bounds the unroll and a loud
    * `error()` guard fires if the corpus ever exceeds it. 20 covers
    * the committed fixtures with ~2x headroom (their longest token is
    * 10 chars — UnigramSpec pins that margin so fixture growth trips
    * a test before it trips the oracle); each extra position is one
    * more materialized dwords-sized CTE per round, so the bound is a
    * cost knob, not a correctness one (the chk CTE stays loud).
    */
  private[graft] val MaxOracleWordLen = 20

  private def unigramEmOracle(rounds: Int): String = {
    val L = MaxOracleWordLen
    def dpStep(r: Int, i: Int): String =
      s"""
         |s${r}_$i AS MATERIALIZED (
         |  SELECT s.word,
         |    CASE WHEN len(s.word) >= $i THEN list_append(s.best, w.cand)
         |         ELSE s.best END AS best,
         |    CASE WHEN len(s.word) >= $i THEN list_append(s.np, w.np)
         |         ELSE s.np END AS np,
         |    CASE WHEN len(s.word) >= $i THEN list_append(s.back, w.j)
         |         ELSE s.back END AS back
         |  FROM s${r}_${i - 1} s LEFT JOIN LATERAL (
         |    SELECT vb.cand, vb.np, vb.j FROM (
         |      SELECT s.best[(u.j+1)::INT] + vo.lq AS cand,
         |             s.np[(u.j+1)::INT] + 1 AS np, u.j AS j
         |      FROM unnest(range(greatest(0, $i - 4), $i)) AS u(j)
         |      JOIN vq$r vo ON vo.piece = substr(s.word, (u.j+1)::INT, ($i-u.j)::INT)
         |    ) vb ORDER BY vb.cand DESC, vb.np ASC, vb.j ASC LIMIT 1) w ON true)""".stripMargin
    def walkStep(r: Int, k: Int): String =
      s"""
         |w${r}_$k AS MATERIALIZED (
         |  SELECT word,
         |    CASE WHEN i > 0 THEN back[(i+1)::INT]::INT ELSE i END AS i,
         |    CASE WHEN i > 0 THEN list_prepend(substr(word,
         |        (back[(i+1)::INT]+1)::INT, (i - back[(i+1)::INT])::INT), pieces)
         |      ELSE pieces END AS pieces,
         |    back FROM w${r}_${k - 1})""".stripMargin
    def round(r: Int): String = {
      val prev = if (r == 1) "vocab" else s"vocab_r${r - 1}"
      s"""
         |vq$r AS MATERIALIZED (SELECT piece, round(logp * 1000000)::BIGINT AS lq FROM $prev),
         |s${r}_0 AS MATERIALIZED (SELECT word, [0::BIGINT] AS best, [0] AS np, [0] AS back
         |  FROM dwords),""".stripMargin +
        (1 to L).map(dpStep(r, _)).mkString(",") + "," +
        s"""
           |w${r}_0 AS MATERIALIZED (SELECT word, len(word)::INT AS i, []::VARCHAR[] AS pieces,
           |  back FROM s${r}_$L),""".stripMargin +
        (1 to L).map(walkStep(r, _)).mkString(",") + "," +
        s"""
           |usage$r AS MATERIALIZED (
           |  SELECT piece, sum(cnt)::BIGINT AS ucnt FROM (
           |    SELECT wc.cnt, unnest(w.pieces) AS piece
           |    FROM w${r}_$L w JOIN wc ON wc.word = w.word) GROUP BY piece),
           |merged$r AS MATERIALIZED (
           |  SELECT c.piece, coalesce(u.ucnt, 1)::BIGINT AS pcnt
           |  FROM (SELECT piece FROM vocab0 WHERE len(piece) = 1) c
           |  LEFT JOIN usage$r u USING (piece)
           |  UNION ALL
           |  SELECT piece, ucnt AS pcnt FROM usage$r WHERE len(piece) > 1),
           |tot$r AS (SELECT sum(pcnt)::BIGINT AS t FROM merged$r),
           |vocab_r$r AS (SELECT piece, pcnt,
           |  ln(pcnt::DOUBLE / t::DOUBLE) AS logp FROM merged$r, tot$r)""".stripMargin
    }
    unigramVocabCtes + "," +
      s"""
         |chk AS (SELECT CASE WHEN max(len(word)) > $L
         |  THEN error('unigram EM oracle: word exceeds the $L-position unroll')
         |  ELSE 1 END AS ok FROM dwords),""".stripMargin +
      (1 to rounds).map(round).mkString(",") + s"""
         |SELECT piece, pcnt, round(logp, 6) AS logp
         |FROM vocab_r$rounds, chk ORDER BY piece""".stripMargin
  }

  private val unigramCtes: String =
    unigramVocabCtes + """,
        |vit AS (
        |  WITH RECURSIVE v(word, i, best, pieces) AS (
        |    SELECT word, 0, [0.0::DOUBLE], [0] FROM dwords
        |    UNION ALL
        |    SELECT v.word, v.i + 1, list_append(v.best, w.cand), list_append(v.pieces, w.np)
        |    FROM v, LATERAL (
        |      SELECT vb.cand, vb.np FROM (
        |        SELECT v.best[(u.j+1)::INT] + vo.logp AS cand,
        |               v.pieces[(u.j+1)::INT] + 1 AS np, u.j AS j
        |        FROM unnest(range(greatest(0, v.i + 1 - 4), v.i + 1)) AS u(j)
        |        JOIN vocab vo ON vo.piece = substr(v.word, (u.j+1)::INT, (v.i+1-u.j)::INT)
        |      ) vb ORDER BY vb.cand DESC, vb.np ASC, vb.j ASC LIMIT 1
        |    ) w
        |    WHERE v.i < len(v.word))
        |  SELECT word, pieces[(len(word)+1)::INT] AS np,
        |         best[(len(word)+1)::INT] AS lp
        |  FROM v WHERE i = len(word)),
        |doc AS (SELECT t.doc_id, t.pos, ws.np, ws.lp FROM toks t JOIN vit ws ON ws.word = t.w),
        |folded AS (SELECT doc_id, count(*)::BIGINT AS n_words, 0::BIGINT AS n_oov_words,
        |    sum(np)::BIGINT AS n_pieces,
        |    list_reduce(list_prepend(0.0::DOUBLE, list(lp ORDER BY pos)),
        |      (acc, x) -> acc + x) AS logp_raw
        |  FROM doc GROUP BY doc_id)""".stripMargin

  val oracles: Map[String, String] = Map(
    "eval_chrf" -> chrfOracle,
    "bpe_segmentation_stats" -> bpeStatsOracle,
    "bpe_encode_docs" -> bpeEncodeOracle,
    "tokenizer_drift_report" -> bpeDriftOracle,
    "pack_bpe_windows" -> bpePackOracle,
    "eval_rouge2" -> rouge2Oracle,
    // the bit-parallel LCS replayed: per-token reference masks, the
    // Allison-Dix fold as list_reduce, popcount = LCS
    "eval_rouge_l" ->
      """WITH d AS (SELECT doc_id, list_filter(regexp_split_to_array(trim(text),
        |        '\s+'), t -> t <> '') AS w FROM documents WHERE doc_id < 20),
        |pr AS MATERIALIZED (
        |  SELECT r.doc_id, r.w[1:least(len(r.w), 60)] AS rw, c.cw
        |  FROM d r JOIN (
        |    SELECT (doc_id + 19) % 20 AS doc_id,
        |      w[1:least(len(w), 25)] AS cw FROM d) c USING (doc_id)),
        |rm AS (
        |  SELECT doc_id, tok, bit_or(1::BIGINT << (p - 1)) AS m
        |  FROM (SELECT doc_id, unnest(rw) AS tok,
        |          generate_subscripts(rw, 1) AS p FROM pr)
        |  GROUP BY doc_id, tok),
        |ct AS (SELECT doc_id, unnest(cw) AS tok,
        |         generate_subscripts(cw, 1) AS p FROM pr),
        |cm AS (
        |  SELECT ct.doc_id, list(coalesce(rm.m, 0::BIGINT) ORDER BY ct.p) AS masks
        |  FROM ct LEFT JOIN rm ON rm.doc_id = ct.doc_id AND rm.tok = ct.tok
        |  GROUP BY ct.doc_id),
        |f AS (
        |  SELECT doc_id, bit_count(list_reduce(list_prepend(0::BIGINT, masks),
        |    (r, m) -> (m | r) & ~((m | r) - ((r << 1) | 1))))::BIGINT AS lcs
        |  FROM cm),
        |m AS (
        |  SELECT pr.doc_id, len(pr.cw)::BIGINT AS n_cand_tokens,
        |    len(pr.rw)::BIGINT AS n_ref_tokens, coalesce(f.lcs, 0) AS lcs
        |  FROM pr LEFT JOIN f USING (doc_id))
        |SELECT doc_id, n_cand_tokens, n_ref_tokens, lcs::BIGINT AS lcs,
        |  CASE WHEN n_cand_tokens = 0 THEN 0 ELSE
        |    CAST((2*1000000*lcs + n_cand_tokens) // (2*n_cand_tokens) AS BIGINT)
        |    END AS precision_micros,
        |  CASE WHEN n_ref_tokens = 0 THEN 0 ELSE
        |    CAST((2*1000000*lcs + n_ref_tokens) // (2*n_ref_tokens) AS BIGINT)
        |    END AS recall_micros,
        |  CASE WHEN n_cand_tokens + n_ref_tokens = 0 THEN 0 ELSE
        |    CAST((2*1000000*2*lcs + n_cand_tokens + n_ref_tokens)
        |      // (2*(n_cand_tokens + n_ref_tokens)) AS BIGINT) END AS f1_micros
        |FROM m ORDER BY doc_id""".stripMargin,
    "validate_expectations" ->
      """WITH t AS (
        |  SELECT doc_id, text, lang, n_chars FROM documents
        |  UNION ALL SELECT 100000, NULL, 'xx', -5
        |  UNION ALL SELECT 100001, 'ok text', 'GER', 12
        |  UNION ALL SELECT 100001, 'dup id', 'en', 7)
        |SELECT rule, "column", observed, violations, violations = 0 AS passed
        |FROM (
        |  SELECT 'not_null' AS rule, 'text' AS "column",
        |    count(*) FILTER (text IS NULL) AS observed,
        |    count(*) FILTER (text IS NULL) AS violations FROM t
        |  UNION ALL
        |  SELECT 'unique', 'doc_id',
        |    count(*) - count(DISTINCT doc_id),
        |    count(*) - count(DISTINCT doc_id) FROM t
        |  UNION ALL
        |  SELECT 'in_range', 'n_chars',
        |    count(*) FILTER (n_chars IS NOT NULL AND
        |      (CAST(n_chars AS DOUBLE) < 0 OR CAST(n_chars AS DOUBLE) > 100000)),
        |    count(*) FILTER (n_chars IS NOT NULL AND
        |      (CAST(n_chars AS DOUBLE) < 0 OR CAST(n_chars AS DOUBLE) > 100000))
        |  FROM t
        |  UNION ALL
        |  SELECT 'matches_regex', 'lang',
        |    count(*) FILTER (lang IS NOT NULL
        |      AND NOT regexp_matches(lang, '^[a-z]{2}$')),
        |    count(*) FILTER (lang IS NOT NULL
        |      AND NOT regexp_matches(lang, '^[a-z]{2}$')) FROM t
        |  UNION ALL
        |  SELECT 'min_rows_100', '*', count(*),
        |    greatest(0, 100 - count(*)) FROM t)
        |ORDER BY rule, "column"""".stripMargin,
    "eval_bleu" -> bleuOracle,
    // exact unit-cost levenshtein in both engines; same pairing CTE as
    // the n-gram metrics
    "eval_edit_distance" ->
      """WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 20),
        |pr AS (SELECT r.doc_id, r.text AS rt, c.ct FROM d r JOIN (
        |    SELECT (doc_id + 19) % 20 AS doc_id,
        |      array_to_string(list_filter(regexp_split_to_array(trim(text),
        |        '\s+'), t -> t <> '')[1:25], ' ') AS ct
        |    FROM d) c USING (doc_id))
        |SELECT doc_id,
        |  length(ct)::BIGINT AS n_cand_chars,
        |  length(rt)::BIGINT AS n_ref_chars,
        |  levenshtein(ct, rt)::BIGINT AS edit_distance,
        |  CASE WHEN greatest(length(ct), length(rt)) = 0 THEN 0
        |    ELSE CAST((2*1000000*levenshtein(ct, rt)
        |        + greatest(length(ct), length(rt)))
        |      // (2*greatest(length(ct), length(rt))) AS BIGINT)
        |    END AS edit_rate_micros
        |FROM pr ORDER BY doc_id""".stripMargin,
    "ngram_lm_score" -> ngramLmOracle,
    "lm_perplexity_filter" -> pplFilterOracle(20.0),
    "bpe_learn_merges" -> bpeLearnOracle,
    // every occurrence (overlapping and nested included) as per-position
    // substring equality; first_pos 0-based
    "gazetteer_match_counts" ->
      """WITH t(term) AS (
        |  SELECT unnest(['a', 'an', 'and', 'data', 'the', 'ing '])),
        |m AS (
        |  SELECT d.doc_id, t.term,
        |    coalesce(list_sum(list_transform(
        |      range(1, greatest(len(d.text) - len(t.term) + 2, 1)),
        |      i -> (d.text[i::INT:(i + len(t.term) - 1)::INT] = t.term)::INT)),
        |      0)::BIGINT AS n_matches,
        |    (list_min(list_filter(
        |      range(1, greatest(len(d.text) - len(t.term) + 2, 1)),
        |      i -> d.text[i::INT:(i + len(t.term) - 1)::INT] = t.term)) - 1
        |    )::BIGINT AS first_pos
        |  FROM documents d, t)
        |SELECT doc_id, term, n_matches, first_pos FROM m WHERE n_matches > 0
        |ORDER BY doc_id, term""".stripMargin,
    // the committed markdown fixtures: preamble section, heading levels,
    // and the fenced '#' that must NOT split — pinned as literals
    "markdown_sections_extract" ->
      """SELECT doc_id, section_idx, level, title, body_len, body_md5
        |FROM (VALUES
        |  ('guide', 0::BIGINT, 0::BIGINT, '', 56::BIGINT,
        |   'c5c7054b2bf5b2dfdd1f60922b628f14'),
        |  ('guide', 1::BIGINT, 1::BIGINT, 'Getting started', 127::BIGINT,
        |   'e71c9104b9b47d46cd429d4e421af5ed'),
        |  ('guide', 2::BIGINT, 2::BIGINT, 'Configuration', 14::BIGINT,
        |   '5e371f610198257f9338d12b84271eb5'),
        |  ('guide', 3::BIGINT, 3::BIGINT, 'Deep dive', 14::BIGINT,
        |   '9dc1fb7c7047408b8467fe311f7c49b8'),
        |  ('notes', 0::BIGINT, 1::BIGINT, 'Only one heading', 30::BIGINT,
        |   'b4b3b12f9bd8f807b165388aebaafb26')
        |) t(doc_id, section_idx, level, title, body_len, body_md5)
        |ORDER BY doc_id, section_idx""".stripMargin,
    // the committed sentence-splitter fixture: boundary preference
    // (". " > "! " > "? " > newline > space), offsets, and trailing
    // separators pinned as literals
    "split_sentences" ->
      """SELECT doc_id, chunk_idx, chunk_start, chunk_text FROM (VALUES
        |  (1::BIGINT, 0::BIGINT, 0::BIGINT, 'First sentence here. '),
        |  (1::BIGINT, 1::BIGINT, 21::BIGINT, 'Second one follows! '),
        |  (1::BIGINT, 2::BIGINT, 41::BIGINT, 'Third asks? Tail.'),
        |  (2::BIGINT, 0::BIGINT, 0::BIGINT, 'One line' || chr(10) || 'second line '),
        |  (2::BIGINT, 1::BIGINT, 21::BIGINT, 'runs a bit longer than '),
        |  (2::BIGINT, 2::BIGINT, 44::BIGINT, 'the cap' || chr(10) || 'third'),
        |  (3::BIGINT, 0::BIGINT, 0::BIGINT, 'Word soup without '),
        |  (3::BIGINT, 1::BIGINT, 18::BIGINT, 'punctuation keeps '),
        |  (3::BIGINT, 2::BIGINT, 36::BIGINT, 'splitting on spaces only'),
        |  (4::BIGINT, 0::BIGINT, 0::BIGINT, 'Short.')
        |) t(doc_id, chunk_idx, chunk_start, chunk_text)
        |ORDER BY doc_id, chunk_idx""".stripMargin,
    "split_recursive" -> splitRecursiveOracle,
    "split_token_pack" -> splitTokenPackOracle,
    // the invariants ARE the oracle: per non-empty document the expected
    // value of every contract bit is a constant true — a hash mismatch
    // pinpoints the doc and the violated invariant
    "split_recursive_invariants" ->
      """SELECT doc_id, true AS within_size, true AS offsets_exact,
        |  true AS starts_at_zero, true AS covers_end, true AS no_gaps,
        |  true AS advances
        |FROM documents WHERE len(text) > 0 ORDER BY doc_id""".stripMargin,
    "split_token_pack_invariants" ->
      """SELECT doc_id, true AS within_budget, true AS offsets_exact,
        |  true AS covers_first_word, true AS covers_last_word,
        |  true AS gaps_whitespace_only, true AS advances
        |FROM documents WHERE regexp_matches(text, '\S') ORDER BY doc_id""".stripMargin,
    // the expected page texts as literals — the engine side must extract
    // them from the committed PDF binaries (PdfSpec byte-asserts the
    // fixtures against the deterministic generator)
    // same-file parity: DuckDB parses the identical CSV/JSON fixtures,
    // so any quote/escape/multiline/unicode divergence between the two
    // parsers fails the hash
    "csv_scan_docs" ->
      s"""SELECT 'people_' || rid AS doc_id,
        |  'rid: ' || rid || chr(10) || 'name: ' || name || chr(10) ||
        |  'role: ' || role || chr(10) || 'notes: ' || notes AS text
        |FROM read_csv('${Checkout.fixture("csv/people.csv")}',
        |              header=true, all_varchar=true)
        |ORDER BY doc_id""".stripMargin,
    "warc_records_scan" ->
      """WITH bodies(warc_file, record_idx, record_type, target_uri,
        |            http_status, content_type, body) AS (VALUES
        |  ('sample', 0, 'warcinfo', '', -1, 'application/warc-fields',
        |   'software: graft-crawler/1.0' || chr(10) ||
        |   'format: WARC File Format 1.1' || chr(10)),
        |  ('sample', 1, 'request', 'http://example.com/index.html', -1,
        |   'application/http; msgtype=request',
        |   'GET /index.html HTTP/1.1' || chr(10) ||
        |   'Host: example.com' || chr(10) || chr(10)),
        |  ('sample', 2, 'response', 'http://example.com/index.html', 200,
        |   'text/html; charset=UTF-8',
        |   '<html><head><title>T</title><script>var x = "<h1>no</h1>";</script></head>'
        |   || chr(10) ||
        |   '<body><h1>Crawl Doc</h1><p>First &amp; second.</p></body></html>'),
        |  ('sample', 3, 'response', 'http://example.com/missing', 404,
        |   'text/html', '<html><body>Not found</body></html>'),
        |  ('sample', 4, 'resource', 'http://example.com/readme.txt', -1,
        |   'text/plain', 'Plain resource text.' || chr(10) || 'Second line.'),
        |  ('sample', 5, 'response', 'http://example.com/logo.png', 200,
        |   'image/png', 'FAKEPNGBYTES'),
        |  ('sample2', 0, 'response', 'https://example.org/a', 200,
        |   'text/plain; charset=utf-8',
        |   'gzip member one payload — naïve café ✓'),
        |  ('sample2', 1, 'response', 'https://example.org/b', 200,
        |   'text/html', '<p>LF-header parsing</p> ok'),
        |  ('sample3', 0, 'response', 'https://example.org/chunked', 200,
        |   'text/plain', 'Wikipedia in chunks.'),
        |  ('sample3', 1, 'response', 'https://example.org/gzipped', 200,
        |   'text/html', '<p>gzipped body</p>'),
        |  ('sample3', 2, 'response', 'https://example.org/both', 200,
        |   'text/plain', 'both encodings survive'),
        |  ('sample5', 0, 'response', 'http://portal.example.com/widgets', 200,
        |   'text/html; charset=utf-8',
        |   '<html lang="en-US"><head><title>Widget Portal</title><meta name="description" content="Widget care tips and guides"><script>var x = 1;</script></head><body><nav><a href="/">Home</a> <a href="/shop">Shop</a> <a href="/faq">FAQ</a></nav><div>Accept our cookie policy <a href="/ok">OK</a></div><main><h1>Widget care guide</h1><p>A widget lasts for decades when it is cleaned gently, stored dry, and kept away from direct sunlight at all times.</p><p>Never oil the bearing.</p></main><footer>Copyright 2026 Widget Portal. <a href="/terms">Terms</a> of use apply worldwide.</footer></body></html>'))
        |SELECT * FROM (
        |  SELECT warc_file, record_idx::BIGINT AS record_idx, record_type,
        |    target_uri, http_status::BIGINT AS http_status, content_type,
        |    octet_length(encode(body))::BIGINT AS body_len,
        |    md5(body) AS body_md5
        |  FROM bodies
        |  UNION ALL
        |  -- sample4 bodies are NON-UTF-8 bytes (iso-8859-1/windows-1252
        |  -- charset coverage), so their framing facts are pinned as
        |  -- literals: md5/len computed over the raw fixture bytes
        |  SELECT * FROM (VALUES
        |    ('sample4', 0::BIGINT, 'response', 'http://latin1.example.net/menu',
        |     200::BIGINT, 'text/html; charset=iso-8859-1',
        |     74::BIGINT, '3421d7b1062f449f4b4701d417f05857'),
        |    ('sample4', 1::BIGINT, 'response', 'http://cp1252.example.net/quotes',
        |     200::BIGINT, 'text/html',
        |     105::BIGINT, '4a70786a8466daebde8506616ff8e286'),
        |    ('sample4', 2::BIGINT, 'response', 'http://utf8.example.net/plain',
        |     200::BIGINT, 'text/plain',
        |     27::BIGINT, '482bac4eeab57f43ff8de4e421b18420'),
        |    ('sample4', 3::BIGINT, 'response', 'http://fallback.example.net/resume',
        |     200::BIGINT, 'text/plain',
        |     13::BIGINT, '3f7f292791c30de01e10f3bf860e1024'),
        |    ('sample4', 4::BIGINT, 'response', 'http://bom.example.net/utf16',
        |     200::BIGINT, 'text/plain; charset=iso-8859-1',
        |     42::BIGINT, '0b5ab00378ef30f6f6349e00d27b8cec'))
        |) ORDER BY warc_file, record_idx""".stripMargin,
    "warc_documents_extract" ->
      """SELECT * FROM (VALUES
        |  ('sample2_r0', 'gzip member one payload — naïve café ✓',
        |   'https://example.org/a', 'text/plain; charset=utf-8'),
        |  ('sample2_r1', 'LF-header parsing ok',
        |   'https://example.org/b', 'text/html'),
        |  ('sample3_r0', 'Wikipedia in chunks.',
        |   'https://example.org/chunked', 'text/plain'),
        |  ('sample3_r1', 'gzipped body',
        |   'https://example.org/gzipped', 'text/html'),
        |  ('sample3_r2', 'both encodings survive',
        |   'https://example.org/both', 'text/plain'),
        |  ('sample4_r0', 'Café naïve déjà vu à Zürich ©1999',
        |   'http://latin1.example.net/menu', 'text/html; charset=iso-8859-1'),
        |  ('sample4_r1', '“Smart quotes” cost €99 — dash',
        |   'http://cp1252.example.net/quotes', 'text/html'),
        |  ('sample4_r2', 'UTF-8 sniffed → café ✓',
        |   'http://utf8.example.net/plain', 'text/plain'),
        |  ('sample4_r3', 'résumé façade',
        |   'http://fallback.example.net/resume', 'text/plain'),
        |  ('sample4_r4', 'BOM wins übermäßig ✓',
        |   'http://bom.example.net/utf16', 'text/plain; charset=iso-8859-1'),
        |  ('sample5_r0', 'Widget Portal Home Shop FAQ Accept our cookie policy OK Widget care guide A widget lasts for decades when it is cleaned gently, stored dry, and kept away from direct sunlight at all times. Never oil the bearing. Copyright 2026 Widget Portal. Terms of use apply worldwide.',
        |   'http://portal.example.com/widgets', 'text/html; charset=utf-8'),
        |  ('sample_r2', 'T Crawl Doc First &amp; second.',
        |   'http://example.com/index.html', 'text/html; charset=UTF-8'),
        |  ('sample_r4', 'Plain resource text. Second line.',
        |   'http://example.com/readme.txt', 'text/plain')
        |) t(doc_id, text, url, content_type) ORDER BY doc_id""".stripMargin,
    "warc_curation_pipeline" ->
      """SELECT * FROM (VALUES
        |  ('sample2_r0', 'https://example.org/a', 8::BIGINT),
        |  ('sample3_r2', 'https://example.org/both', 3::BIGINT),
        |  ('sample4_r0', 'http://latin1.example.net/menu', 7::BIGINT),
        |  ('sample4_r1', 'http://cp1252.example.net/quotes', 6::BIGINT),
        |  ('sample4_r2', 'http://utf8.example.net/plain', 5::BIGINT),
        |  ('sample4_r4', 'http://bom.example.net/utf16', 4::BIGINT),
        |  ('sample5_r0', 'http://portal.example.com/widgets', 28::BIGINT),
        |  ('sample_r2', 'http://example.com/index.html', 6::BIGINT)
        |) t(doc_id, canonical, n_tokens) ORDER BY doc_id""".stripMargin,
    "html_main_content" ->
      """SELECT * FROM (VALUES
        |  (0::BIGINT, 'The Migration of Monarch Butterflies'),
        |  (1::BIGINT, 'Every autumn millions of monarch butterflies leave their breeding grounds in southern Canada and fly nearly five thousand kilometres to the oyamel fir forests of central Mexico.'),
        |  (2::BIGINT, 'Short aside.'),
        |  (3::BIGINT, 'The navigation skills of the monarch remain an active research topic; the butterflies combine a time compensated sun compass with a magnetic backup sense, and no single individual survives the full round trip.'),
        |  (4::BIGINT, 'Conservation status'),
        |  (5::BIGINT, 'Logging pressure on the wintering forests &amp; the loss of milkweed corridors along the migration route have reduced the eastern population by more than eighty percent since the nineteen nineties.')
        |) t(block_idx, block_text) ORDER BY block_idx""".stripMargin,
    "warc_wet_extract" ->
      """SELECT * FROM (VALUES
        |  ('sample2_r0', 'https://example.org/a', 'text/plain; charset=utf-8',
        |   'gzip member one payload — naïve café ✓'),
        |  ('sample2_r1', 'https://example.org/b', 'text/html',
        |   'LF-header parsing ok'),
        |  ('sample3_r0', 'https://example.org/chunked', 'text/plain',
        |   'Wikipedia in chunks.'),
        |  ('sample3_r1', 'https://example.org/gzipped', 'text/html',
        |   'gzipped body'),
        |  ('sample3_r2', 'https://example.org/both', 'text/plain',
        |   'both encodings survive'),
        |  ('sample4_r0', 'http://latin1.example.net/menu',
        |   'text/html; charset=iso-8859-1', 'Café naïve déjà vu à Zürich ©1999'),
        |  ('sample4_r1', 'http://cp1252.example.net/quotes', 'text/html',
        |   '“Smart quotes” cost €99 — dash'),
        |  ('sample4_r2', 'http://utf8.example.net/plain', 'text/plain',
        |   'UTF-8 sniffed → café ✓'),
        |  ('sample4_r3', 'http://fallback.example.net/resume', 'text/plain',
        |   'résumé façade'),
        |  ('sample4_r4', 'http://bom.example.net/utf16',
        |   'text/plain; charset=iso-8859-1', 'BOM wins übermäßig ✓'),
        |  ('sample5_r0', 'http://portal.example.com/widgets',
        |   'text/html; charset=utf-8',
        |   'Widget care guide' || chr(10) ||
        |   'A widget lasts for decades when it is cleaned gently, stored dry, and kept away from direct sunlight at all times.'
        |   || chr(10) || 'Never oil the bearing.'),
        |  ('sample_r2', 'http://example.com/index.html',
        |   'text/html; charset=UTF-8', 'T Crawl Doc First &amp; second.')
        |) t(doc_id, target_uri, content_type, wet_text)
        |ORDER BY doc_id""".stripMargin,
    "warc_wat_outlinks" ->
      """SELECT * FROM (VALUES
        |  ('sample5_r0', 0::BIGINT, '/', 'http://portal.example.com/'),
        |  ('sample5_r0', 1::BIGINT, '/shop', 'http://portal.example.com/shop'),
        |  ('sample5_r0', 2::BIGINT, '/faq', 'http://portal.example.com/faq'),
        |  ('sample5_r0', 3::BIGINT, '/ok', 'http://portal.example.com/ok'),
        |  ('sample5_r0', 4::BIGINT, '/terms', 'http://portal.example.com/terms')
        |) t(doc_id, link_idx, href, href_abs)
        |ORDER BY doc_id, link_idx""".stripMargin,
    "jsonl_chunks_scan" ->
      s"""SELECT id AS doc_id, page_content AS text,
        |  metadata.source AS source, metadata.page AS page
        |FROM read_json('${Checkout.fixture("jsonl/chunks.jsonl")}',
        |               format='newline_delimited')
        |ORDER BY doc_id""".stripMargin,
    "jsonl_testset_scan" ->
      s"""SELECT question, reference_answer, reference_context,
        |  coalesce(metadata.topic, 'Others') AS topic
        |FROM read_json('${Checkout.fixture("jsonl/testset.jsonl")}',
        |               format='newline_delimited')
        |ORDER BY question""".stripMargin,
    "json_testset_array_scan" ->
      s"""SELECT question, reference_answer, reference_context,
        |  coalesce(metadata.topic, 'Others') AS topic
        |FROM read_json('${Checkout.fixture("jsonl/testset_array.json")}',
        |               format='array')
        |ORDER BY question""".stripMargin,
    // the expected WAV probe values as literals — the engine must decode
    // the committed PCM bytes (square wave ±0.5, stereo ±0.25 constant,
    // 8-bit +0.5 constant) to land on them
    "wav_extract" ->
      """SELECT media_id, channels, sample_rate, bits, n_frames, duration_ms,
        |  peak, rms, w0, w1, w2, w3 FROM (VALUES
        |  ('byte8.wav', 1::INT, 8000::INT, 8::INT, 8::BIGINT, 1::BIGINT,
        |   0.5, 0.5, 0.5, 0.5, 0.5, 0.5),
        |  ('quiet.wav', 1::INT, 8000::INT, 16::INT, 16::BIGINT, 2::BIGINT,
        |   0.5, 0.353553, 0.0, 0.0, 0.5, 0.5),
        |  ('stereo.wav', 2::INT, 4000::INT, 16::INT, 8::BIGINT, 2::BIGINT,
        |   0.25, 0.25, 0.25, 0.25, 0.25, 0.25),
        |  ('sweep.wav', 1::INT, 8000::INT, 16::INT, 16::BIGINT, 2::BIGINT,
        |   0.5, 0.5, 0.5, 0.5, 0.5, 0.5),
        |  ('tone.wav', 1::INT, 8000::INT, 16::INT, 16::BIGINT, 2::BIGINT,
        |   0.5, 0.5, 0.5, 0.5, 0.5, 0.5),
        |  ('tone_half.wav', 1::INT, 8000::INT, 16::INT, 16::BIGINT, 2::BIGINT,
        |   0.25, 0.25, 0.25, 0.25, 0.25, 0.25)
        |) t(media_id, channels, sample_rate, bits, n_frames, duration_ms,
        |    peak, rms, w0, w1, w2, w3)
        |ORDER BY media_id""".stripMargin,
    // the expected BMP decode as literals — bottom-up padded rows, exact
    // channel means, 2x2 grid luma (rgb.bmp's bottom grid row is empty
    // at height 1 -> 0.0)
    "bmp_extract" ->
      """SELECT media_id, width, height, mean_r, mean_g, mean_b,
        |  g0, g1, g2, g3 FROM (VALUES
        |  ('halves.bmp', 4::INT, 2::INT, 127.5, 127.5, 127.5,
        |   0.0, 255.0, 0.0, 255.0),
        |  ('pattern.bmp', 18::INT, 16::INT, 90.0, 90.0, 90.0,
        |   90.0, 90.0, 90.0, 90.0),
        |  ('pattern2.bmp', 18::INT, 16::INT, 100.833333, 100.833333, 100.833333,
        |   133.333333, 90.0, 90.0, 90.0),
        |  ('rgb.bmp', 3::INT, 1::INT, 85.0, 85.0, 85.0,
        |   85.0, 85.0, 0.0, 0.0)
        |) t(media_id, width, height, mean_r, mean_g, mean_b, g0, g1, g2, g3)
        |ORDER BY media_id""".stripMargin,
    // the expected HTML sections as literals — header metadata, preamble,
    // idx gap from the dropped empty section, undecoded entities
    "html_sections_extract" ->
      """SELECT doc_id, section_idx, header, text FROM (VALUES
        |  ('guide', 0::BIGINT, '', 'Guide Preamble text before any header.'),
        |  ('guide', 1::BIGINT, 'Getting Started',
        |   'Getting Started Install the package &amp; run it.'),
        |  ('guide', 2::BIGINT, 'Configuration', 'Configuration Set opt.level to 3.'),
        |  ('guide', 3::BIGINT, 'Deep Dive', 'Deep Dive Details span multiple lines.'),
        |  ('mixed', 0::BIGINT, 'Alpha', 'Alpha First section body.'),
        |  ('mixed', 2::BIGINT, 'Beta &lt;tag&gt;', 'Beta &lt;tag&gt; Beta body here.'),
        |  ('mixed', 3::BIGINT, 'Gamma', 'Gamma')
        |) t(doc_id, section_idx, header, text) ORDER BY doc_id, section_idx""".stripMargin,
    "mojibake_repair_roundtrip" ->
      """SELECT doc_id, flagged, flagged AS detected,
        |  orig AS text
        |FROM (SELECT doc_id,
        |        (ascii(right(doc_id::VARCHAR, 1)) % 2 = 0) AS flagged,
        |        text || ' «café № 42 — ünïcödé ✓ fin ' || doc_id AS orig
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "epub_extract" ->
      """SELECT doc_id, text, title, href FROM (VALUES
        |  ('book_s0', 'Two Second chapter comes first in the spine & proves order.',
        |   'Chapter Two', 'text/chapter2.xhtml'),
        |  ('book_s1', 'First chapter text.', 'Chapter One', 'text/chapter1.xhtml')
        |) t(doc_id, text, title, href) ORDER BY doc_id""".stripMargin,
    "docx_extract" ->
      """SELECT doc_id, text, para FROM (VALUES
        |  ('manual_p0', 'Title of the doc', 0::BIGINT),
        |  ('manual_p1', 'Bold and plain & entities <ok>', 1::BIGINT),
        |  ('manual_p3', 'Col A' || chr(9) || 'Col B' || chr(10) || 'line two', 3::BIGINT),
        |  ('manual_p4', 'Café résumé', 4::BIGINT),
        |  ('manual_p5', 'cell one', 5::BIGINT),
        |  ('manual_p6', 'cell two', 6::BIGINT),
        |  ('report_p0', 'Quarterly report.', 0::BIGINT)
        |) t(doc_id, text, para) ORDER BY doc_id""".stripMargin,
    "pdf_extract" ->
      """SELECT doc_id, text, page FROM (VALUES
        |  ('cid_p0', 'cid αβγ 𝐀' || chr(10) || 'plain tail', 0::BIGINT),
        |  ('filters_p0', 'lzw page: banana bandana ban', 0::BIGINT),
        |  ('filters_p1', 'hex page', 1::BIGINT),
        |  ('filters_p2', 'ascii85 over flate cascade page', 2::BIGINT),
        |  ('flate_p0', 'Compressed alpha alpha alpha alpha', 0::BIGINT),
        |  ('flate_p1', 'part one' || chr(10) || 'part two', 1::BIGINT),
        |  ('flate_p2', 'first' || chr(10) || 'second', 2::BIGINT),
        |  ('manual_p0', 'Hello, (graft) World!' || chr(10) || '50% off & more', 0::BIGINT),
        |  ('manual_p1', 'Spark extracts page two' || chr(10) || 'hex string', 1::BIGINT),
        |  ('objstm_p0', 'Object-stream page one: the page tree itself is compressed', 0::BIGINT),
        |  ('objstm_p1', 'Object-stream page two' || chr(10) || 'catalog found inside ObjStm', 1::BIGINT)
        |) t(doc_id, text, page) ORDER BY doc_id""".stripMargin,
    "av_container_probe" ->
      """SELECT * FROM (VALUES
        |  ('cbr.mp3', 'mp3', 261::BIGINT, 44100::BIGINT, 2::BIGINT,
        |   128::BIGINT, 'false', '', ''),
        |  ('clip.mp4', 'mp4', 5000::BIGINT, -1::BIGINT, -1::BIGINT,
        |   -1::BIGINT, '', 'isom', 'soun:mp4a:5000,vide:avc1:5000'),
        |  ('clip2.mp4', 'mp4', 2000::BIGINT, -1::BIGINT, -1::BIGINT,
        |   -1::BIGINT, '', 'mp42', 'vide:hvc1:2000'),
        |  ('mono2.mp3', 'mp3', 208::BIGINT, 22050::BIGINT, 1::BIGINT,
        |   64::BIGINT, 'false', '', ''),
        |  ('vbr.mp3', 'mp3', 156::BIGINT, 44100::BIGINT, 2::BIGINT,
        |   128::BIGINT, 'true', '', '')
        |) t(media_id, format, duration_ms, sample_rate, channels,
        |    bitrate_kbps, vbr, brand, tracks)
        |ORDER BY media_id""".stripMargin,
    // segment count and byte totals recomputed independently from the
    // payload length; the contract bits are constant-truth
    "multimodal_segment_invariants" ->
      """SELECT doc_id AS media_id,
        |  CAST(ceil(octet_length(encode(text)) / 256.0) AS BIGINT) AS n_segments,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS total_bytes,
        |  true AS contiguous, true AS reassembles, true AS features_unit_norm
        |FROM documents WHERE len(text) > 0 ORDER BY media_id""".stripMargin,
    "corpus_prep_pipeline" ->
      s"""WITH reps AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
         |qual AS (
         |  SELECT doc_id, lang,
         |    0.4*(len(list_distinct($docTokens))::DOUBLE/len($docTokens)) +
         |    0.3*(${hits(enList)}::DOUBLE/len($docTokens)) +
         |    0.3*least(len($docTokens)/100.0, 1.0) AS quality
         |  FROM documents),
         |rep AS (
         |  SELECT t.doc_id FROM (SELECT doc_id, $docTokens AS w FROM documents) t
         |  LEFT JOIN (
         |    SELECT doc_id, max(n) AS top_n FROM (
         |      SELECT doc_id, g, count(*) AS n FROM (
         |        SELECT doc_id, unnest(list_transform(range(1, len(w)),
         |          i -> w[i]||' '||w[i+1])) AS g
         |        FROM (SELECT doc_id, $docTokens AS w FROM documents))
         |      GROUP BY doc_id, g)
         |    GROUP BY doc_id) x USING (doc_id)
         |  WHERE NOT (CASE WHEN len(w) > 1
         |             THEN coalesce(top_n, 0)::DOUBLE / (len(w)-1) > 0.2
         |             ELSE false END)),
         |ev AS (SELECT DISTINCT unnest(list_transform(range(1, len(w)-2),
         |    i -> w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3])) AS s
         |  FROM (SELECT regexp_split_to_array(text, '\\s+') AS w
         |        FROM documents WHERE doc_id < 20)),
         |bad AS (SELECT DISTINCT doc_id FROM (
         |    SELECT doc_id, unnest(list_transform(range(1, len(w)-2),
         |      i -> w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3])) AS s
         |    FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS w
         |          FROM documents WHERE doc_id >= 20)) c
         |  JOIN ev USING (s)),
         |clean AS (
         |  SELECT q.doc_id, q.lang FROM qual q
         |  JOIN reps USING (doc_id) JOIN rep USING (doc_id)
         |  WHERE q.quality >= 0.3 AND q.doc_id >= 20
         |    AND q.doc_id NOT IN (SELECT doc_id FROM bad))
         |SELECT doc_id, lang FROM (
         |  SELECT doc_id, lang, row_number() OVER (
         |    PARTITION BY lang ORDER BY md5(doc_id::VARCHAR), doc_id) AS rk
         |  FROM clean)
         |WHERE rk <= CASE lang WHEN 'en' THEN 30 WHEN 'de' THEN 15 ELSE 5 END
         |ORDER BY doc_id""".stripMargin,
    "text_pii_redaction" ->
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(
        |          text || ' contact user' || doc_id || '@example.com see http://ex.org/p?i='
        |               || doc_id || ' ip 10.0.' || (doc_id % 256) || '.7 tel +1 555 01'
        |               || ((doc_id % 90) + 10),
        |          '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
        |        'https?://[^ \t\n\x0B\f\r]+', '<URL>', 'g'),
        |      '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
        |    '\+?\d[\d -]{7,}\d', '<PHONE>', 'g') AS clean
        |FROM documents ORDER BY doc_id""".stripMargin,
    "quality_repetition" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |           FROM documents),
        |top AS (
        |  SELECT doc_id, max(n) AS top_n FROM (
        |    SELECT doc_id, g, count(*) AS n FROM (
        |      SELECT doc_id, unnest(list_transform(range(1, len(w)),
        |        i -> w[i]||' '||w[i+1])) AS g FROM t)
        |    GROUP BY doc_id, g)
        |  GROUP BY doc_id)
        |SELECT t.doc_id, greatest(len(w)-1, 0)::BIGINT AS n_grams,
        |  coalesce(top_n, 0)::BIGINT AS top_n,
        |  CASE WHEN len(w) > 1 THEN coalesce(top_n, 0)::DOUBLE / (len(w)-1)
        |       ELSE 0.0 END AS rep_ratio,
        |  CASE WHEN len(w) > 1 THEN coalesce(top_n, 0)::DOUBLE / (len(w)-1) > 0.2
        |       ELSE false END AS repetitive
        |FROM t LEFT JOIN top USING (doc_id) ORDER BY doc_id""".stripMargin,
    "sample_stratified_quota" ->
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang, row_number() OVER (
        |    PARTITION BY lang ORDER BY md5(doc_id::VARCHAR), doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= CASE lang WHEN 'en' THEN 40 WHEN 'de' THEN 25
        |                      WHEN 'fr' THEN 15 ELSE 10 END
        |ORDER BY doc_id""".stripMargin,
    // the largest-remainder allocation replayed step by step: counts →
    // pow(n, 0.5) weights → ideal shares of 200 → floors → the leftover
    // +1s to the largest fractional parts (lang ascending on ties)
    "mix_temperature_quotas" ->
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        |w AS (SELECT lang, n, pow(CAST(n AS DOUBLE), 0.5) AS w FROM c),
        |i AS (SELECT lang, n,
        |        CAST(200 AS DOUBLE) * w / sum(w) OVER () AS ideal FROM w),
        |b AS (SELECT lang, n, CAST(floor(ideal) AS BIGINT) AS base,
        |        ideal - floor(ideal) AS frac FROM i),
        |r AS (SELECT lang, n, base,
        |        row_number() OVER (ORDER BY frac DESC, lang ASC) AS rk,
        |        200 - sum(base) OVER () AS leftn FROM b)
        |SELECT lang, n,
        |  base + CASE WHEN rk <= leftn THEN 1 ELSE 0 END AS quota
        |FROM r ORDER BY lang""".stripMargin,
    // the same gopher CTEs faceted per language
    "corpus_health_by_lang" ->
      s"""$gopherCtes,
        |${langIdDistCtes(
        """SELECT doc_id, lower(regexp_replace(trim(substr(text, 1, 200)),
          |    '\s+', ' ', 'g')) AS t FROM documents""".stripMargin)},
        |dd AS (
        |  SELECT doc_id, dist, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY dist, lang) AS rk FROM dist),
        |und AS (
        |  SELECT doc_id,
        |    (max(CASE WHEN rk = 2 THEN dist END) -
        |     max(CASE WHEN rk = 1 THEN dist END)) < 300 AS is_und
        |  FROM dd GROUP BY doc_id)
        |SELECT d.lang, count(*)::BIGINT AS n_docs,
        |  sum(c.n_words)::BIGINT AS n_tokens,
        |  CAST(floor(count(*)::DOUBLE /
        |    (SELECT count(*) FROM documents) * 1000000 + 0.5) AS BIGINT)
        |    AS doc_share_micros,
        |  CAST(floor(sum(CASE WHEN (n_words >= 50 AND n_words <= 100000)
        |    AND (n_word_chars >= 3 * n_words AND n_word_chars <= 10 * n_words
        |         AND n_words > 0)
        |    AND 10 * n_symbol_words <= n_words
        |    AND 5 * n_alpha_words >= 4 * n_words
        |    AND 10 * n_bullet_lines <= 9 * n_lines
        |    AND n_stopword_hits >= 2 THEN 1 ELSE 0 END)::DOUBLE /
        |    count(*) * 1000000 + 0.5) AS BIGINT) AS gopher_pass_rate_micros,
        |  CAST(floor(sum(CASE WHEN coalesce(u.is_und, TRUE) THEN 1 ELSE 0 END)
        |    ::DOUBLE / count(*) * 1000000 + 0.5) AS BIGINT) AS und_share_micros
        |FROM c JOIN documents d USING (doc_id)
        |LEFT JOIN und u USING (doc_id)
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin,
    // the whole-corpus rollup of the gopher CTEs plus lang/dup/token
    // aggregates — every count recomputed from the raw table
    "corpus_health_report" ->
      s"""$gopherCtes
        |SELECT (SELECT count(*) FROM documents)::BIGINT AS n_docs,
        |  (SELECT count(DISTINCT lang) FROM documents)::BIGINT AS n_langs,
        |  sum(n_words)::BIGINT AS n_tokens,
        |  ((SELECT count(*) FROM documents) -
        |   (SELECT count(DISTINCT text) FROM documents))::BIGINT
        |    AS n_exact_dup_docs,
        |  sum(CASE WHEN (n_words >= 50 AND n_words <= 100000)
        |    AND (n_word_chars >= 3 * n_words AND n_word_chars <= 10 * n_words
        |         AND n_words > 0)
        |    AND 10 * n_symbol_words <= n_words
        |    AND 5 * n_alpha_words >= 4 * n_words
        |    AND 10 * n_bullet_lines <= 9 * n_lines
        |    AND n_stopword_hits >= 2 THEN 1 ELSE 0 END)::BIGINT
        |    AS n_gopher_pass,
        |  CAST(floor(sum(CASE WHEN (n_words >= 50 AND n_words <= 100000)
        |    AND (n_word_chars >= 3 * n_words AND n_word_chars <= 10 * n_words
        |         AND n_words > 0)
        |    AND 10 * n_symbol_words <= n_words
        |    AND 5 * n_alpha_words >= 4 * n_words
        |    AND 10 * n_bullet_lines <= 9 * n_lines
        |    AND n_stopword_hits >= 2 THEN 1 ELSE 0 END)::DOUBLE /
        |    count(*) * 1000000 + 0.5) AS BIGINT) AS gopher_pass_rate_micros
        |FROM c""".stripMargin,
    // every Gopher rule replayed with the same integer
    // cross-multiplications over DuckDB's list kernels
    "quality_gopher_rules" ->
      s"""$gopherCtes
        |SELECT doc_id, n_words, n_word_chars, n_symbol_words, n_alpha_words,
        |  n_lines, n_bullet_lines, n_stopword_hits,
        |  n_words >= 50 AND n_words <= 100000 AS rule_word_count,
        |  n_word_chars >= 3 * n_words AND n_word_chars <= 10 * n_words
        |    AND n_words > 0 AS rule_mean_word_len,
        |  10 * n_symbol_words <= n_words AS rule_symbol_ratio,
        |  5 * n_alpha_words >= 4 * n_words AS rule_alpha_ratio,
        |  10 * n_bullet_lines <= 9 * n_lines AS rule_bullet_ratio,
        |  n_stopword_hits >= 2 AS rule_stopwords,
        |  (n_words >= 50 AND n_words <= 100000)
        |    AND (n_word_chars >= 3 * n_words AND n_word_chars <= 10 * n_words
        |         AND n_words > 0)
        |    AND 10 * n_symbol_words <= n_words
        |    AND 5 * n_alpha_words >= 4 * n_words
        |    AND 10 * n_bullet_lines <= 9 * n_lines
        |    AND n_stopword_hits >= 2 AS passed
        |FROM c ORDER BY doc_id""".stripMargin,
    // the whole DSIR model replayed: bucket = first 3 hex of md5 (12
    // bits), additive smoothing α=1 on both distributions, log-ratio λ
    // over ALL 4096 buckets, per-doc Σ cnt·λ rounded to 6dp, rank on
    // the rounded weight with id tiebreak (the bm25 convention)
    "dsir_importance_select" ->
      """WITH tb AS (
        |  SELECT doc_id, lang, ('0x' || substr(md5(t), 1, 3))::INT AS b
        |  FROM (SELECT doc_id, lang,
        |          unnest(list_filter(regexp_split_to_array(trim(text),
        |            '\s+'), t -> t <> '')) AS t
        |        FROM documents)),
        |sc AS (SELECT b, count(*) AS cs FROM tb GROUP BY b),
        |tc AS (SELECT b, count(*) AS ct FROM tb WHERE lang = 'en' GROUP BY b),
        |st AS (SELECT (SELECT count(*) FROM tb) AS ts,
        |              (SELECT count(*) FROM tb WHERE lang = 'en') AS tt),
        |lam AS (
        |  SELECT r.b,
        |    ln((coalesce(tc.ct, 0) + 1.0) / (st.tt + 1.0 * 4096)) -
        |    ln((coalesce(sc.cs, 0) + 1.0) / (st.ts + 1.0 * 4096)) AS lam
        |  FROM (SELECT unnest(range(0, 4096))::INT AS b) r
        |  LEFT JOIN sc ON sc.b = r.b LEFT JOIN tc ON tc.b = r.b, st),
        |db AS (SELECT doc_id, b, count(*) AS cnt FROM tb GROUP BY doc_id, b),
        |w AS (SELECT db.doc_id, sum(cnt) AS n_tokens,
        |        round(sum(cnt * lam), 6) AS logweight
        |      FROM db JOIN lam ON lam.b = db.b GROUP BY db.doc_id)
        |SELECT doc.doc_id, coalesce(w.n_tokens, 0)::BIGINT AS n_tokens,
        |  coalesce(w.logweight, 0.0) AS logweight
        |FROM documents doc LEFT JOIN w ON w.doc_id = doc.doc_id
        |ORDER BY logweight DESC, doc.doc_id LIMIT 100""".stripMargin,
    // the fingerprint relation re-derived, df-capped, self-joined
    "winnowing_overlap_pairs" ->
      """WITH h AS MATERIALIZED (
        |  SELECT doc_id, p,
        |    ('0x' || substr(md5(substr(text, p::INT, 5)), 1, 15))::BIGINT AS h
        |  FROM (SELECT doc_id, text, unnest(range(1, len(text) - 3)) AS p
        |        FROM documents WHERE doc_id < 250 AND len(text) >= 5)),
        |wm AS (
        |  SELECT doc_id, p AS e,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY p
        |      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS minh,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY p) AS rn
        |  FROM h),
        |fp AS MATERIALIZED (
        |  SELECT DISTINCT doc_id, minh AS fp FROM wm WHERE rn >= 4),
        |rare AS (SELECT fp FROM (SELECT fp, count(*) AS df FROM fp GROUP BY fp)
        |         WHERE df <= 20),
        |kept AS (SELECT f.doc_id, f.fp FROM fp f JOIN rare USING (fp))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS n_shared
        |FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY a.doc_id, b.doc_id HAVING count(*) >= 3
        |ORDER BY id_a, id_b""".stripMargin,
    // window-min per end position; the rightmost tie resolved by a
    // w-bounded join back to positions carrying the minimum
    "fingerprint_winnowing" ->
      """WITH h AS MATERIALIZED (
        |  SELECT doc_id, p,
        |    ('0x' || substr(md5(substr(text, p::INT, 5)), 1, 15))::BIGINT AS h
        |  FROM (SELECT doc_id, text, unnest(range(1, len(text) - 3)) AS p
        |        FROM documents WHERE doc_id < 50 AND len(text) >= 5)),
        |wm AS (
        |  SELECT doc_id, p AS e,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY p
        |      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS minh,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY p) AS rn
        |  FROM h),
        |sel AS (
        |  SELECT w.doc_id, max(h2.p) AS pos, w.minh AS fp
        |  FROM wm w JOIN h h2 ON h2.doc_id = w.doc_id
        |    AND h2.p BETWEEN w.e - 3 AND w.e AND h2.h = w.minh
        |  WHERE w.rn >= 4
        |  GROUP BY w.doc_id, w.e, w.minh)
        |SELECT DISTINCT doc_id, pos::BIGINT AS pos, fp
        |FROM sel ORDER BY doc_id, pos""".stripMargin,
    "corpus_distinct_ngrams" ->
      """WITH w AS (
        |  SELECT lang, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents),
        |g AS (
        |  SELECT lang, 1 AS n, unnest(w) AS g FROM w
        |  UNION ALL
        |  SELECT lang, 2, unnest(list_transform(range(1, len(w)),
        |    i -> w[i] || ' ' || w[i+1])) FROM w
        |  UNION ALL
        |  SELECT lang, 3, unnest(list_transform(range(1, len(w)-1),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) FROM w)
        |SELECT lang, n::INT AS n, count(*)::BIGINT AS total_grams,
        |  count(DISTINCT g)::BIGINT AS distinct_grams,
        |  CAST(floor(count(DISTINCT g)::DOUBLE / count(*) * 1000000 + 0.5)
        |    AS BIGINT) AS distinct_ratio_micros
        |FROM g GROUP BY lang, n ORDER BY lang, n""".stripMargin,
    "padding_waste_report" ->
      """WITH t AS (
        |  SELECT lang,
        |    len(regexp_split_to_array(trim(text), '\s+'))::BIGINT AS l
        |  FROM documents)
        |SELECT lang, count(*)::BIGINT AS n_docs, sum(l)::BIGINT AS total_tokens,
        |  sum(((l + 511) // 512) * 512)::BIGINT AS padded_tokens,
        |  CAST(floor((sum(((l + 511) // 512) * 512) - sum(l))::DOUBLE /
        |        (sum(((l + 511) // 512) * 512))::DOUBLE * 1000000 + 0.5)
        |    AS BIGINT) AS waste_ratio_micros
        |FROM t GROUP BY lang ORDER BY lang""".stripMargin,
    // component closure + per-cluster argmax on the rounded quality
    "dedup_survivors_quality" ->
      s"""WITH RECURSIVE g AS MATERIALIZED (
         |  SELECT doc_id,
         |    list_distinct(list_transform(range(1, len(w)-1),
         |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
         |  FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS w FROM documents
         |        WHERE substr(md5(doc_id::VARCHAR), 1, 1) IN ('0', '1', '2', '3', '4', '5', '6', '7'))),
         |p AS MATERIALIZED (
         |  SELECT id_a, id_b FROM (
         |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |      len(list_intersect(a.sh, b.sh))::DOUBLE /
         |        len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
         |    FROM g a JOIN g b ON a.doc_id < b.doc_id)
         |  WHERE jaccard >= 0.2),
         |e AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM p
         |      UNION ALL SELECT id_b, id_a FROM p),
         |reach AS (
         |  SELECT src AS id, src AS r FROM e
         |  UNION
         |  SELECT reach.id, e.dst FROM reach JOIN e ON reach.r = e.src),
         |comp AS MATERIALIZED (
         |  SELECT id, min(r) AS component FROM reach GROUP BY id),
         |q AS (
         |  SELECT doc_id,
         |    0.4*(len(list_distinct($docTokens))::DOUBLE/len($docTokens)) +
         |    0.3*(${hits(enList)}::DOUBLE/len($docTokens)) +
         |    0.3*least(len($docTokens)/100.0, 1.0) AS q
         |  FROM documents),
         |losers AS (
         |  SELECT id FROM (
         |    SELECT comp.id, row_number() OVER (PARTITION BY component
         |      ORDER BY round(q.q, 6) DESC, comp.id) AS rk
         |    FROM comp JOIN q ON q.doc_id = comp.id) WHERE rk > 1)
         |SELECT doc_id FROM documents
         |WHERE substr(md5(doc_id::VARCHAR), 1, 1) IN ('0', '1', '2', '3', '4', '5', '6', '7')
         |  AND doc_id NOT IN (SELECT id FROM losers)
         |ORDER BY doc_id""".stripMargin,
    // the full-support JSD: every (pair, bucket) cell smoothed, both
    // KL halves against the midpoint, ln = nats
    "vocab_jsd_drift" ->
      """WITH tb AS (
        |  SELECT lang AS s, ('0x' || substr(md5(t), 1, 3))::INT AS b
        |  FROM (SELECT lang, unnest(list_filter(regexp_split_to_array(
        |          trim(text), '\s+'), t -> t <> '')) AS t FROM documents)),
        |cnt AS MATERIALIZED (SELECT s, b, count(*) AS c FROM tb GROUP BY s, b),
        |tot AS (SELECT s, sum(c) AS t FROM cnt GROUP BY s),
        |pr AS (
        |  SELECT a.s AS slice_a, b.s AS slice_b, ta.t AS ta, tb2.t AS tb2
        |  FROM (SELECT DISTINCT s FROM cnt) a, (SELECT DISTINCT s FROM cnt) b,
        |       tot ta, tot tb2
        |  WHERE a.s < b.s AND ta.s = a.s AND tb2.s = b.s),
        |sup AS (
        |  SELECT pr.*, r.b
        |  FROM pr, (SELECT unnest(range(0, 4096))::INT AS b) r),
        |j AS (
        |  SELECT slice_a, slice_b,
        |    (coalesce(ca.c, 0) + 1.0) / (ta + 1.0 * 4096) AS p,
        |    (coalesce(cb.c, 0) + 1.0) / (tb2 + 1.0 * 4096) AS q
        |  FROM sup
        |  LEFT JOIN cnt ca ON ca.s = sup.slice_a AND ca.b = sup.b
        |  LEFT JOIN cnt cb ON cb.s = sup.slice_b AND cb.b = sup.b)
        |SELECT slice_a, slice_b,
        |  round(sum(0.5 * p * ln(p / ((p + q) / 2)) +
        |            0.5 * q * ln(q / ((p + q) / 2))), 6) AS jsd
        |FROM j GROUP BY slice_a, slice_b ORDER BY slice_a, slice_b""".stripMargin,
    "classifier_quality_gate" -> logregOracleSql(iters = 12, lr = 2.0),
    "classifier_calibration" -> logregCalibrationSql(iters = 4, lr = 2.0),
    "mix_temperature_sample" ->
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        |w AS (SELECT lang, n, pow(CAST(n AS DOUBLE), 0.5) AS w FROM c),
        |i AS (SELECT lang, n,
        |        CAST(200 AS DOUBLE) * w / sum(w) OVER () AS ideal FROM w),
        |b AS (SELECT lang, n, CAST(floor(ideal) AS BIGINT) AS base,
        |        ideal - floor(ideal) AS frac FROM i),
        |r AS (SELECT lang, n, base,
        |        row_number() OVER (ORDER BY frac DESC, lang ASC) AS rk,
        |        200 - sum(base) OVER () AS leftn FROM b),
        |q AS (SELECT lang, least(n,
        |        base + CASE WHEN rk <= leftn THEN 1 ELSE 0 END) AS qq FROM r)
        |SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang, row_number() OVER (
        |    PARTITION BY lang ORDER BY md5(doc_id::VARCHAR), doc_id) AS rk
        |  FROM documents) d
        |JOIN q USING (lang) WHERE d.rk <= q.qq ORDER BY doc_id""".stripMargin,
    "pack_sequence_windows" ->
      """SELECT doc_id, position, "offset"::BIGINT AS "offset",
        |  ("offset" // 512)::BIGINT AS first_window,
        |  (("offset" + greatest(tokens - 1, 0)) // 512)::BIGINT AS last_window
        |FROM (
        |  SELECT doc_id, tokens,
        |    row_number() OVER w AS position,
        |    coalesce(sum(tokens) OVER (
        |      w ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS "offset"
        |  FROM (SELECT doc_id,
        |          len(regexp_split_to_array(text, '\s+'))::BIGINT AS tokens
        |        FROM documents)
        |  WINDOW w AS (ORDER BY md5(doc_id::VARCHAR || ':e0'), doc_id))
        |ORDER BY position""".stripMargin,
    // same bucket arithmetic; the per-bucket fill order is the seeded
    // md5 order, so batch membership replays exactly
    "length_bucket_batches" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    len(regexp_split_to_array(text, '\s+'))::BIGINT AS n_tokens
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, n_tokens,
        |    greatest((n_tokens + 63) // 64, 1) * 64 AS bucket_len
        |  FROM t WHERE n_tokens <= 4096),
        |r AS (
        |  SELECT doc_id, n_tokens, bucket_len,
        |    (4096 // bucket_len)::BIGINT AS batch_capacity,
        |    row_number() OVER (PARTITION BY bucket_len
        |      ORDER BY md5(doc_id::VARCHAR || ':b0'), doc_id) AS rn
        |  FROM b)
        |SELECT doc_id, n_tokens, bucket_len::BIGINT AS bucket_len,
        |  ((rn - 1) // batch_capacity)::BIGINT AS batch_id,
        |  batch_capacity,
        |  (bucket_len - n_tokens)::BIGINT AS waste
        |FROM r ORDER BY doc_id""".stripMargin,
    // the pack prefix sum again, then per (example, touched window) the
    // completion-span intersection in window-local coordinates
    "pack_loss_mask_spans" ->
      """WITH e AS (
        |  SELECT doc_id, n // 2 AS p, n AS tokens FROM (
        |    SELECT doc_id,
        |      len(regexp_split_to_array(text, '\s+'))::BIGINT AS n
        |    FROM documents)),
        |packed AS (
        |  SELECT doc_id, p, tokens,
        |    row_number() OVER w AS position,
        |    coalesce(sum(tokens) OVER (
        |      w ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |  FROM e WINDOW w AS (ORDER BY md5(doc_id::VARCHAR || ':e0'), doc_id)),
        |ex AS (
        |  SELECT doc_id, position, off, p, tokens,
        |    unnest(generate_series((off // 512)::BIGINT,
        |      ((off + greatest(tokens - 1, 0)) // 512)::BIGINT)) AS w
        |  FROM packed),
        |sp AS (
        |  SELECT doc_id, position, w,
        |    greatest(off + p, w * 512) AS s_g,
        |    least(off + tokens, (w + 1) * 512) AS e_g
        |  FROM ex)
        |SELECT doc_id, position, w::BIGINT AS "window",
        |  (s_g - w * 512)::BIGINT AS span_start,
        |  (e_g - w * 512)::BIGINT AS span_end
        |FROM sp WHERE e_g > s_g
        |ORDER BY position, "window"""".stripMargin,
    "shuffle_deterministic" ->
      """SELECT doc_id, row_number() OVER (
        |    ORDER BY md5(doc_id::VARCHAR || ':epoch0'), doc_id) AS position
        |FROM documents ORDER BY position""".stripMargin,
    // thresholds are Sampling.hexThreshold(0.8) / (0.9) — fixed-width
    // lowercase hex compares like the number it encodes
    "split_train_assign" ->
      s"""SELECT doc_id,
         |  CASE WHEN substring(md5(doc_id::VARCHAR || ':s1'), 1, 8)
         |            < '${graft.ops.Sampling.hexThreshold(0.8)}' THEN 'train'
         |       WHEN substring(md5(doc_id::VARCHAR || ':s1'), 1, 8)
         |            < '${graft.ops.Sampling.hexThreshold(0.9)}' THEN 'val'
         |       ELSE 'test' END AS split
         |FROM documents ORDER BY doc_id""".stripMargin,
    "mix_upsample" ->
      """SELECT doc_id, lang, unnest(range(1, 1 + CASE lang
        |    WHEN 'en' THEN 3 WHEN 'de' THEN 2 WHEN 'fr' THEN 0
        |    ELSE 1 END)) AS epoch
        |FROM documents ORDER BY doc_id, epoch""".stripMargin,
    // replicate membership = the same md5 hash-point threshold; exact
    // integer sums make the means identical before rounding
    "eval_bootstrap_ci" ->
      s"""WITH v AS (SELECT doc_id,
         |    len(regexp_split_to_array(trim(text), '\\s+'))::DOUBLE AS value
         |  FROM documents),
         |s AS (SELECT r.replicate, v.value FROM v,
         |    (SELECT unnest(range(1, 21)) AS replicate) r
         |  WHERE substring(md5('ci0:' || replicate::VARCHAR || ':'
         |      || doc_id::VARCHAR), 1, 8)
         |    < '${graft.ops.Sampling.hexThreshold(0.8)}')
         |SELECT replicate::BIGINT AS replicate, count(*)::BIGINT AS n_rows,
         |  CAST(floor(avg(value) * 1000000 + 0.5) AS BIGINT) AS mean_value_micros
         |FROM s GROUP BY replicate ORDER BY replicate""".stripMargin,
    // same synthetic conversations; the frame-ordered list window and
    // the last-4 slice replayed
    "sft_pair_extraction" ->
      """WITH m AS (
        |  SELECT doc_id % 10 AS session, doc_id AS seq,
        |    CASE WHEN (doc_id // 10) % 2 = 0 THEN 'user' ELSE 'assistant'
        |      END AS role,
        |    array_to_string(list_filter(regexp_split_to_array(trim(text),
        |      '\s+'), t -> t <> '')[1:8], ' ') AS content
        |  FROM documents),
        |c AS (
        |  SELECT session, seq, role, content,
        |    coalesce(list(role || ': ' || content) OVER (
        |      PARTITION BY session ORDER BY seq
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      []::VARCHAR[]) AS ctx
        |  FROM m)
        |SELECT session, seq,
        |  least(len(ctx), 4)::BIGINT AS n_context_turns,
        |  coalesce(array_to_string(ctx[greatest(len(ctx) - 3, 1):len(ctx)],
        |    chr(10)), '') AS context,
        |  content AS response
        |FROM c WHERE role = 'assistant' ORDER BY session, seq""".stripMargin,
    // per-eval-doc distinct 4-gram sets left-joined against the distinct
    // corpus gram universe; ratio on the distinct counts
    "memorization_overlap" ->
      """WITH eg AS (
        |  SELECT DISTINCT doc_id, s FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(w)-2),
        |      i -> w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3])) AS s
        |    FROM (SELECT doc_id, regexp_split_to_array(text, '\s+') AS w
        |          FROM documents WHERE doc_id < 20))),
        |cg AS (
        |  SELECT DISTINCT unnest(list_transform(range(1, len(w)-2),
        |    i -> w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3])) AS s
        |  FROM (SELECT regexp_split_to_array(text, '\s+') AS w
        |        FROM documents WHERE doc_id >= 20)),
        |m AS (
        |  SELECT eg.doc_id, count(*) AS n_grams,
        |    sum(CASE WHEN cg.s IS NOT NULL THEN 1 ELSE 0 END) AS n_mem
        |  FROM eg LEFT JOIN cg ON cg.s = eg.s GROUP BY eg.doc_id)
        |SELECT d.doc_id, coalesce(m.n_grams, 0)::BIGINT AS n_grams,
        |  coalesce(m.n_mem, 0)::BIGINT AS n_memorized,
        |  CAST(floor(coalesce(m.n_mem / (m.n_grams::DOUBLE), 0.0)
        |    * 1000000 + 0.5) AS BIGINT) AS overlap_ratio_micros
        |FROM (SELECT doc_id FROM documents WHERE doc_id < 20) d
        |LEFT JOIN m ON m.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "decontaminate_survivors" ->
      """WITH ev AS (
        |  SELECT DISTINCT unnest(list_transform(range(1, len(w)-2),
        |    i -> w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3])) AS s
        |  FROM (SELECT regexp_split_to_array(text, '\s+') AS w
        |        FROM documents WHERE doc_id < 20)),
        |bad AS (
        |  SELECT DISTINCT doc_id FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(w)-2),
        |      i -> w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3])) AS s
        |    FROM (SELECT doc_id, regexp_split_to_array(text, '\s+') AS w
        |          FROM documents WHERE doc_id >= 20)) c
        |  JOIN ev USING (s))
        |SELECT doc_id FROM documents
        |WHERE doc_id >= 20 AND doc_id NOT IN (SELECT doc_id FROM bad)
        |ORDER BY doc_id""".stripMargin,
    // identical to decontaminate_survivors BY DESIGN: the bloom path is
    // a different plan for the same contract (sketch pre-filter + exact
    // verify ≡ exact semi-join)
    "decontaminate_bloom" ->
      """WITH ev AS (
        |  SELECT DISTINCT unnest(list_transform(range(1, len(w)-2),
        |    i -> w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3])) AS s
        |  FROM (SELECT regexp_split_to_array(text, '\s+') AS w
        |        FROM documents WHERE doc_id < 20)),
        |bad AS (
        |  SELECT DISTINCT doc_id FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(w)-2),
        |      i -> w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3])) AS s
        |    FROM (SELECT doc_id, regexp_split_to_array(text, '\s+') AS w
        |          FROM documents WHERE doc_id >= 20)) c
        |  JOIN ev USING (s))
        |SELECT doc_id FROM documents
        |WHERE doc_id >= 20 AND doc_id NOT IN (SELECT doc_id FROM bad)
        |ORDER BY doc_id""".stripMargin,
    "vocab_topk" ->
      s"""SELECT token, count(*)::BIGINT AS n
         |FROM (SELECT unnest($docTokens) AS token FROM documents)
         |GROUP BY token ORDER BY n DESC, token LIMIT 25""".stripMargin,
    // exact (token, n) recomputed; the sketch bound bit is constant truth
    "vocab_cms_invariants" ->
      s"""SELECT token, count(*)::BIGINT AS n, true AS within_bound
         |FROM (SELECT unnest($docTokens) AS token FROM documents)
         |GROUP BY token ORDER BY n DESC, token LIMIT 25""".stripMargin,
    // the HLL registers regenerated from scratch: md5-u64 per token, top
    // 8 bits select the register, rank = leading zeros of the low 56
    // bits + 1 (via len(bin(w)): 57 - bit length, w = 0 -> 57)
    "vocab_hll_registers" ->
      """WITH tok AS (
        |  SELECT unnest(regexp_split_to_array(text, '\s+')) AS t FROM documents),
        |h AS (
        |  SELECT ('0x'||substr(md5(t),1,16))::UBIGINT AS h
        |  FROM tok WHERE t <> ''),
        |r AS (
        |  SELECT (h >> 56)::INT AS register,
        |    CASE WHEN (h & 72057594037927935::UBIGINT) = 0::UBIGINT THEN 57
        |         ELSE (57 - len(bin(h & 72057594037927935::UBIGINT)))::INT
        |    END AS rho
        |  FROM h)
        |SELECT register, max(rho)::INT AS rho FROM r
        |GROUP BY register ORDER BY register""".stripMargin,
    // the sidecar estimate must equal the from-scratch estimate over
    // the WHOLE corpus — registers max-merge, so the fold is exact
    "incremental_hll_estimate" ->
      """WITH tok AS (
        |  SELECT unnest(regexp_split_to_array(text, '\s+')) AS t FROM documents),
        |tt AS (SELECT t FROM tok WHERE t <> ''),
        |h AS (SELECT ('0x'||substr(md5(t),1,16))::UBIGINT AS h FROM tt),
        |r AS (
        |  SELECT (h >> 56)::INT AS register,
        |    CASE WHEN (h & 72057594037927935::UBIGINT) = 0::UBIGINT THEN 57
        |         ELSE (57 - len(bin(h & 72057594037927935::UBIGINT)))::INT
        |    END AS rho
        |  FROM h),
        |m AS (SELECT register, max(rho) AS rho FROM r GROUP BY register),
        |agg AS (SELECT count(*) AS present, sum(power(2.0, -rho)) AS s FROM m),
        |est AS (
        |  SELECT (256 - present)::BIGINT AS zeros,
        |    0.7213/(1.0 + 1.079/256) * 256 * 256 / (s + (256.0 - present)) AS raw
        |  FROM agg)
        |SELECT round(CASE WHEN raw <= 640.0 AND zeros > 0
        |  THEN 256.0 * ln(256.0 / zeros) ELSE raw END, 4) AS hll_estimate
        |FROM est""".stripMargin,
    // the full estimate replay: harmonic mean over the 256 registers
    // (absent registers contribute 2^0), bias alpha, and the standard
    // linear-counting branch when raw E <= 2.5m with empty registers
    "vocab_hll_estimate" ->
      """WITH tok AS (
        |  SELECT unnest(regexp_split_to_array(text, '\s+')) AS t FROM documents),
        |tt AS (SELECT t FROM tok WHERE t <> ''),
        |h AS (SELECT ('0x'||substr(md5(t),1,16))::UBIGINT AS h FROM tt),
        |r AS (
        |  SELECT (h >> 56)::INT AS register,
        |    CASE WHEN (h & 72057594037927935::UBIGINT) = 0::UBIGINT THEN 57
        |         ELSE (57 - len(bin(h & 72057594037927935::UBIGINT)))::INT
        |    END AS rho
        |  FROM h),
        |m AS (SELECT register, max(rho) AS rho FROM r GROUP BY register),
        |agg AS (SELECT count(*) AS present, sum(power(2.0, -rho)) AS s FROM m),
        |est AS (
        |  SELECT (256 - present)::BIGINT AS zeros,
        |    0.7213/(1.0 + 1.079/256) * 256 * 256 / (s + (256.0 - present)) AS raw
        |  FROM agg),
        |fin AS (
        |  SELECT round(CASE WHEN raw <= 640.0 AND zeros > 0
        |    THEN 256.0 * ln(256.0 / zeros) ELSE raw END, 4) AS he
        |  FROM est),
        |ex AS (SELECT count(DISTINCT t)::BIGINT AS exact_distinct FROM tt)
        |SELECT ex.exact_distinct, fin.he AS hll_estimate,
        |  (abs(fin.he - ex.exact_distinct) <= 0.195 * ex.exact_distinct)
        |    AS within_3sigma
        |FROM fin, ex""".stripMargin,
    // the same waterline as a window prefix sum over the per-domain
    // aggregate (quality rounded BEFORE ordering on both sides)
    "budget_fill_mix" ->
      s"""WITH q AS (
         |  SELECT lang, sum(len($docTokens))::BIGINT AS n_tokens,
         |    round(avg(
         |      0.4*(len(list_distinct($docTokens))::DOUBLE/len($docTokens)) +
         |      0.3*(${hits(enList)}::DOUBLE/len($docTokens)) +
         |      0.3*least(len($docTokens)/100.0, 1.0)), 6) AS quality
         |  FROM documents GROUP BY lang),
         |f AS (
         |  SELECT lang, n_tokens, quality,
         |    coalesce(sum(n_tokens) OVER (ORDER BY quality DESC, lang
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
         |  FROM q)
         |SELECT lang, n_tokens, quality,
         |  greatest(0, least(n_tokens, 50000 - prev))::BIGINT AS allocated
         |FROM f ORDER BY quality DESC, lang""".stripMargin,
    "quality_quantile_filter" ->
      s"""WITH sc AS (
         |  SELECT doc_id,
         |    0.4*(len(list_distinct($docTokens))::DOUBLE/len($docTokens)) +
         |    0.3*(${hits(enList)}::DOUBLE/len($docTokens)) +
         |    0.3*least(len($docTokens)/100.0, 1.0) AS quality
         |  FROM documents)
         |SELECT doc_id FROM sc
         |WHERE quality >= (SELECT quantile_cont(quality, 0.5) FROM sc)
         |ORDER BY doc_id""".stripMargin,
    // n and the exact interpolated median replayed; the sketch's rank
    // bound is the GK guarantee — constant truth when the sketch works
    "quantile_sketch_checked" ->
      """SELECT count(*)::BIGINT AS n,
        |  round(quantile_cont(n_chars::DOUBLE, 0.5), 4) AS p50_exact,
        |  true AS sketch_within_rank_bound
        |FROM documents""".stripMargin,
    "curriculum_order" ->
      s"""SELECT doc_id, row_number() OVER (ORDER BY
         |    CASE WHEN len($docTokens) >= 40 THEN 0 ELSE 1 END,
         |    md5(doc_id::VARCHAR || ':cur0'), doc_id) AS position
         |FROM documents ORDER BY position""".stripMargin,
    "text_token_count" ->
      s"""SELECT doc_id, len($docTokens)::BIGINT AS n_tokens,
         |  len(text)::BIGINT AS n_chars
         |FROM documents ORDER BY doc_id""".stripMargin,
    "text_quality_score" ->
      s"""SELECT doc_id, n_tokens, distinct_ratio, stop_ratio, avg_word_len,
         |  0.4*distinct_ratio + 0.3*stop_ratio + 0.3*least(n_tokens/100.0, 1.0) AS quality
         |FROM (
         |  SELECT doc_id,
         |    len($docTokens)::BIGINT AS n_tokens,
         |    len(list_distinct($docTokens))::DOUBLE / len($docTokens) AS distinct_ratio,
         |    ${hits(enList)}::DOUBLE / len($docTokens) AS stop_ratio,
         |    len(regexp_replace(text, '\\s', '', 'g'))::DOUBLE / len($docTokens) AS avg_word_len
         |  FROM documents)
         |ORDER BY doc_id""".stripMargin,
    "curation_pipeline" ->
      s"""WITH reps AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
         |q AS (
         |  SELECT doc_id, lang,
         |    0.4*distinct_ratio + 0.3*stop_ratio + 0.3*least(n_tokens/100.0, 1.0) AS quality
         |  FROM (
         |    SELECT doc_id, lang,
         |      len($docTokens)::BIGINT AS n_tokens,
         |      len(list_distinct($docTokens))::DOUBLE / len($docTokens) AS distinct_ratio,
         |      ${hits(enList)}::DOUBLE / len($docTokens) AS stop_ratio
         |    FROM documents))
         |SELECT doc_id, lang, quality FROM q JOIN reps USING (doc_id)
         |WHERE quality >= 0.38 AND lang IN ('en', 'de')
         |ORDER BY doc_id""".stripMargin,
    "text_entropy" ->
      """WITH g AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(text)),
        |    i -> substr(text, i, 2))) AS gr
        |  FROM documents WHERE len(text) >= 2),
        |c AS (SELECT doc_id, gr, count(*) AS n FROM g GROUP BY doc_id, gr),
        |a AS (SELECT doc_id, CAST(sum(n) AS DOUBLE) AS t,
        |        sum(CAST(n AS DOUBLE) * log2(CAST(n AS DOUBLE))) AS s
        |      FROM c GROUP BY doc_id)
        |SELECT doc_id, round(log2(t) - s / t, 6) AS entropy
        |FROM a ORDER BY doc_id""".stripMargin,
    "text_normalize" ->
      """SELECT doc_id,
        |  trim(regexp_replace(lower(nfc_normalize(
        |    text || chr(9) || 'CAFE' || chr(769) || '  ' || chr(937) ||
        |    'MEGA ' || chr(220) || 'BER  end ')), '[\t\n\f\r ]+', ' ', 'g')) AS norm_text
        |FROM documents ORDER BY doc_id""".stripMargin,
    // the full train+classify replay: same fixture JSONL, same
    // normalization, same 1/2/3-gram explode, same (cnt desc, gram)
    // ranking, same out-of-place distance — integers end to end
    "text_lang_id_trained" ->
      s"""$langIdReplayCtes
        |SELECT doc_id, lang AS lang_pred, dist::BIGINT AS dist
        |FROM (SELECT *, row_number() OVER (
        |        PARTITION BY doc_id ORDER BY dist, lang) AS rk FROM dist)
        |WHERE rk = 1 ORDER BY doc_id""".stripMargin,
    "text_lang_id_margin" ->
      s"""$langIdReplayCtes
        |SELECT doc_id,
        |  max(CASE WHEN rk = 1 THEN lang END) AS lang_pred,
        |  max(CASE WHEN rk = 1 THEN dist END)::BIGINT AS dist,
        |  max(CASE WHEN rk = 2 THEN lang END) AS runner_up,
        |  (max(CASE WHEN rk = 2 THEN dist END) -
        |   max(CASE WHEN rk = 1 THEN dist END))::BIGINT AS margin
        |FROM (SELECT *, row_number() OVER (
        |        PARTITION BY doc_id ORDER BY dist, lang) AS rk FROM dist)
        |WHERE rk <= 2 GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_lang_id" ->
      s"""SELECT doc_id, en_hits, es_hits, de_hits,
         |  CASE WHEN en_hits >= es_hits AND en_hits >= de_hits THEN 'en'
         |       WHEN es_hits >= de_hits THEN 'es' ELSE 'de' END AS lang_pred
         |FROM (
         |  SELECT doc_id, ${hits(enList)} AS en_hits, ${hits(esList)} AS es_hits,
         |    ${hits(deList)} AS de_hits
         |  FROM documents)
         |ORDER BY doc_id""".stripMargin,
    "html_meta_extract" ->
      """SELECT * FROM (VALUES
        |  ('sample2_r1', '', '', ''),
        |  ('sample3_r1', '', '', ''),
        |  ('sample4_r0', '', '', ''),
        |  ('sample4_r1', '', '', ''),
        |  ('sample5_r0', 'en-US', 'Widget Portal', 'Widget care tips and guides'),
        |  ('sample_r2', '', 'T', '')
        |) t(doc_id, html_lang, title, meta_description)
        |ORDER BY doc_id""".stripMargin,
    "sitemap_frontier_seed" ->
      """WITH missing AS (
        |  SELECT DISTINCT
        |    'https://example.com/missing/' || (doc_id // 1000)::VARCHAR AS url
        |  FROM (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 2000))
        |SELECT url,
        |  (row_number() OVER (ORDER BY md5(url), url) - 1)::BIGINT AS slot,
        |  ((row_number() OVER (ORDER BY md5(url), url) - 1) * 1000)::BIGINT
        |    AS fetch_ms
        |FROM missing ORDER BY url""".stripMargin,
    "text_compression_ratio" ->
      """SELECT * FROM (VALUES
        |  (0::BIGINT, 116::BIGINT, 93::BIGINT),
        |  (1::BIGINT, 320::BIGINT, 20::BIGINT),
        |  (2::BIGINT, 58::BIGINT, 66::BIGINT),
        |  (3::BIGINT, 300::BIGINT, 13::BIGINT)
        |) t(variant, n_raw, n_deflate) ORDER BY variant""".stripMargin,
    "text_nfc_normalize" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE doc_id % 4
        |      WHEN 0 THEN text
        |      WHEN 1 THEN text || ' cafe' || chr(769) || ' vu'
        |      WHEN 2 THEN text || ' A' || chr(778) || 'ngstro' || chr(776)
        |        || 'm n' || chr(771)
        |      ELSE text || ' caf' || chr(233) || ' ' || chr(197) || ' ' || chr(241)
        |    END AS i
        |  FROM documents)
        |SELECT doc_id, length(i)::BIGINT AS n_chars_in,
        |  nfc_normalize(i) AS norm_text,
        |  length(nfc_normalize(i))::BIGINT AS n_chars_out
        |FROM d ORDER BY doc_id""".stripMargin,
    "code_quality_gate" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE doc_id % 4
        |      WHEN 0 THEN text
        |      WHEN 1 THEN replace(text, ' ', '')
        |      WHEN 2 THEN concat_ws(chr(10), substr(text, 1, 60),
        |        substr(text, 61, 60), substr(text, 121, 60))
        |      ELSE '# AUTO-GENERATED do not edit' || chr(10) || text
        |    END AS code
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    len(string_split(code, chr(10)))::BIGINT AS n_lines,
        |    length(code)::BIGINT AS n_chars,
        |    list_max(list_transform(string_split(code, chr(10)),
        |      l -> length(l)))::BIGINT AS max_line_len,
        |    length(regexp_replace(code, '[^A-Za-z0-9]', '', 'g'))::BIGINT
        |      AS n_alnum,
        |    regexp_matches(code, '(?i)auto-?generated|do not edit')
        |      AS autogen_marker
        |  FROM d)
        |SELECT doc_id, n_lines, n_chars, max_line_len, n_alnum, autogen_marker,
        |  max_line_len <= 1000 AS rule_max_line,
        |  n_chars <= 100 * n_lines AS rule_avg_line,
        |  (100 * n_alnum >= 25 * n_chars AND n_chars > 0) AS rule_alnum_frac,
        |  (max_line_len <= 1000 AND n_chars <= 100 * n_lines AND
        |   100 * n_alnum >= 25 * n_chars AND n_chars > 0 AND
        |   NOT autogen_marker) AS passed
        |FROM c ORDER BY doc_id""".stripMargin,
    "fim_transform" ->
      """WITH d AS (
        |  SELECT doc_id, coalesce(text, '') AS t,
        |    length(coalesce(text, ''))::BIGINT AS n,
        |    ('0x' || substr(md5(doc_id::VARCHAR || '_fim'), 1, 6))::BIGINT
        |      % 100 < 50 AS applied,
        |    ('0x' || substr(md5(doc_id::VARCHAR || '_c1'), 1, 6))::BIGINT AS h1,
        |    ('0x' || substr(md5(doc_id::VARCHAR || '_c2'), 1, 6))::BIGINT AS h2
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, t, n, applied, h1 % (n + 1) AS c1,
        |    (h1 % (n + 1)) + (h2 % (n - (h1 % (n + 1)) + 1)) AS c2
        |  FROM d)
        |SELECT doc_id, applied AS fim_applied,
        |  CASE WHEN applied THEN
        |    '<PRE>' || substr(t, 1, c1::INT) ||
        |    '<SUF>' || substr(t, (c2 + 1)::INT, (n - c2)::INT) ||
        |    '<MID>' || substr(t, (c1 + 1)::INT, (c2 - c1)::INT)
        |  ELSE t END AS fim_text
        |FROM c ORDER BY doc_id""".stripMargin,
    "preference_pairs" ->
      """WITH cand AS (
        |  SELECT doc_id % 100 AS qid, 'ans ' || doc_id::VARCHAR AS answer,
        |    CASE WHEN doc_id % 100 < 10 THEN 0.5
        |         ELSE (doc_id % 3) / 4.0 END AS s
        |  FROM documents),
        |agg AS (
        |  SELECT qid,
        |    max(struct_pack(s := s, a := answer)) AS c,
        |    min(struct_pack(s := s, a := answer)) AS r,
        |    count(*)::BIGINT AS n_candidates
        |  FROM cand GROUP BY qid)
        |SELECT qid, c.a AS chosen, r.a AS rejected,
        |  round(c.s - r.s, 6) AS margin, n_candidates
        |FROM agg WHERE c.s - r.s > 0 ORDER BY qid""".stripMargin,
    "text_fingerprint" ->
      s"""SELECT doc_id,
         |  md5(array_to_string(list_sort(list_distinct($docTokens)), ' ')) AS fp
         |FROM documents ORDER BY doc_id""".stripMargin,
    "doc_stats_by_source" ->
      """SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(len(text)) AS BIGINT) AS sum_chars,
        |  COUNT(DISTINCT lang) AS n_langs,
        |  CAST(SUM(len(text)) AS DOUBLE) / COUNT(*) AS avg_chars
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "sketch_profile_invariants" ->
      """SELECT source, COUNT(DISTINCT doc_id) AS exact_distinct,
        |  true AS distinct_ok, true AS quantile_ok,
        |  CAST(MIN(len(text)) AS BIGINT) AS min_chars,
        |  CAST(MAX(len(text)) AS BIGINT) AS max_chars
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "split_fixed_window" ->
      """SELECT doc_id, i AS chunk_idx, (i*150)::BIGINT AS chunk_start,
        |  substr(text, (i*150+1)::INT, 200) AS chunk_text
        |FROM documents, UNNEST(range(0, (len(text)-1)//150 + 1)) AS t(i)
        |ORDER BY doc_id, chunk_idx""".stripMargin,
    // the greedy packing recurrence as a recursive CTE: group/cum carry
    // forward chunk by chunk, resetting on overflow
    "chunk_coalesce" ->
      """WITH RECURSIVE ch AS (
        |  SELECT doc_id, i + 1 AS i, substr(text, (i*120+1)::INT, 120) AS t,
        |    length(substr(text, (i*120+1)::INT, 120))::BIGINT AS ln
        |  FROM documents, UNNEST(range(0, (len(text)-1)//120 + 1)) AS u(i)),
        |st AS (
        |  SELECT doc_id, i, t, ln, 1::BIGINT AS grp, ln AS cum
        |  FROM ch WHERE i = 1
        |  UNION ALL
        |  SELECT c.doc_id, c.i, c.t, c.ln,
        |    CASE WHEN s.cum + c.ln > 500 THEN s.grp + 1 ELSE s.grp END,
        |    CASE WHEN s.cum + c.ln > 500 THEN c.ln ELSE s.cum + c.ln END
        |  FROM ch c JOIN st s ON s.doc_id = c.doc_id AND c.i = s.i + 1)
        |SELECT doc_id, grp AS "group",
        |  string_agg(t, chr(10)||chr(10) ORDER BY i) AS text,
        |  count(*)::BIGINT AS n_chunks, sum(ln)::BIGINT AS n_chars
        |FROM st GROUP BY doc_id, grp ORDER BY doc_id, "group"""".stripMargin,
    "split_token_window" ->
      s"""SELECT doc_id, i AS chunk_idx, (i*30)::BIGINT AS token_start,
         |  array_to_string(w[(i*30+1)::INT : (i*30+40)::INT], ' ') AS chunk_text
         |FROM (SELECT doc_id, $docTokens AS w FROM documents
         |      WHERE len(trim(text)) > 0),
         |  UNNEST(range(0, (len(w)-1)//30 + 1)) AS t(i)
         |ORDER BY doc_id, chunk_idx""".stripMargin,
    "store_time_travel" ->
      """SELECT doc_id, len(text)::BIGINT AS n_chars FROM documents
        |WHERE doc_id % 2 = 0 ORDER BY doc_id""".stripMargin,
    // endpoint-state diff recomputed relationally: inserts are added,
    // %13==1 docs are removed (even the ones merge touched first),
    // surviving %7 updates are changed
    "store_version_diff" ->
      """SELECT doc_id, change FROM (
        |  SELECT doc_id + 10000 AS doc_id, 'added' AS change
        |  FROM documents WHERE doc_id < 5
        |  UNION ALL
        |  SELECT doc_id, 'removed' FROM documents WHERE doc_id % 13 = 1
        |  UNION ALL
        |  SELECT doc_id, 'changed' FROM documents
        |  WHERE doc_id < 150 AND doc_id % 7 = 0 AND doc_id % 13 <> 1
        |) ORDER BY doc_id, change""".stripMargin,
    // the incremental fold must equal the direct GROUP BY — mergeable
    // state (n/sum/min/max) makes that an identity, and the oracle
    // checks it
    "rollup_incremental" ->
      s"""SELECT lang, count(*)::BIGINT AS n,
         |  sum(len($docTokens))::BIGINT AS sum_n_tokens,
         |  min(len($docTokens))::BIGINT AS min_n_tokens,
         |  max(len($docTokens))::BIGINT AS max_n_tokens,
         |  CAST(floor(sum(len($docTokens))::DOUBLE / count(*) * 1000000 + 0.5)
         |    AS BIGINT) AS avg_n_tokens_micros
         |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "store_restore" ->
      """SELECT doc_id, len(text)::BIGINT AS n_chars FROM documents
        |WHERE doc_id % 2 = 0 ORDER BY doc_id""".stripMargin,
    "store_evolve_schema" ->
      s"""SELECT doc_id, len($docTokens)::BIGINT AS n_tokens
         |FROM documents ORDER BY doc_id""".stripMargin,
    // the chunk relation computed directly — the sink+scan pair must be
    // the identity on it
    "chunks_json_sink_roundtrip" ->
      """SELECT doc_id::VARCHAR || '#0' AS doc_id, text, lang,
        |  'documents' AS source
        |FROM documents WHERE text IS NOT NULL
        |ORDER BY 1""".stripMargin,
    // the upsert + delete recomputed relationally; the rewrite count is
    // pinned to 1 because every update key lives in the first segment
    "store_merge_upsert" ->
      """WITH upd AS (
        |  SELECT doc_id, text || ' v2' AS text FROM documents
        |  WHERE doc_id < 150 AND doc_id % 7 = 0
        |  UNION ALL
        |  SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id < 5),
        |live AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE doc_id NOT IN (SELECT doc_id FROM upd)
        |  UNION ALL SELECT doc_id, text FROM upd)
        |SELECT doc_id, md5(text) AS content_key, 1::INT AS merge_rewrote_segments
        |FROM live WHERE doc_id % 13 <> 1 ORDER BY doc_id""".stripMargin,
    "ingest_antijoin_chunks" ->
      """WITH chunks AS (
        |  SELECT doc_id, i AS chunk_idx, md5(substr(text, (i*150+1)::INT, 200)) AS ckey
        |  FROM documents, UNNEST(range(0, (len(text)-1)//150 + 1)) AS t(i))
        |SELECT doc_id, chunk_idx FROM chunks c
        |WHERE NOT EXISTS (SELECT 1 FROM chunks e WHERE e.doc_id < 250 AND e.ckey = c.ckey)
        |ORDER BY doc_id, chunk_idx""".stripMargin,
    // the planted perceptual pair as literals — the engine must decode
    // both patterns, land on dHashes 2 bits apart, and keep the
    // hamming-5 low-detail pair out
    "text_homoglyph_normalize" ->
      """SELECT doc_id,
        |  CASE doc_id % 3
        |    WHEN 0 THEN 'verify your рауpal account doc ' || doc_id::VARCHAR
        |    WHEN 1 THEN 'frее mοnеy inside doc ' || doc_id::VARCHAR
        |    ELSE 'plain honest text doc ' || doc_id::VARCHAR END AS raw,
        |  CASE doc_id % 3
        |    WHEN 0 THEN 'verify your paypal account doc ' || doc_id::VARCHAR
        |    WHEN 1 THEN 'free money inside doc ' || doc_id::VARCHAR
        |    ELSE 'plain honest text doc ' || doc_id::VARCHAR END AS normalized,
        |  (CASE doc_id % 3 WHEN 0 THEN 3 WHEN 1 THEN 4 ELSE 0 END)::BIGINT
        |    AS n_confusables
        |FROM documents ORDER BY doc_id""".stripMargin,
    "srt_cues_extract" ->
      """WITH d AS (SELECT doc_id, doc_id % 3 AS v FROM documents)
        |SELECT * FROM (
        |  SELECT doc_id, 0::BIGINT AS cue_idx, 1000::BIGINT AS start_ms,
        |    3500::BIGINT AS end_ms, 'hello doc ' || doc_id::VARCHAR AS text
        |  FROM d WHERE v = 0
        |  UNION ALL
        |  SELECT doc_id, 1::BIGINT, 4000::BIGINT, 6250::BIGINT,
        |    'second cue line b' FROM d WHERE v = 0
        |  UNION ALL
        |  SELECT doc_id, 0::BIGINT, 60000::BIGINT, 62000::BIGINT,
        |    'resync rip' FROM d WHERE v = 1
        |  UNION ALL
        |  SELECT doc_id, 1::BIGINT, 3600000::BIGINT, 3601000::BIGINT,
        |    'hour mark' FROM d WHERE v = 1
        |  UNION ALL
        |  SELECT doc_id, 0::BIGINT, 500::BIGINT, 1000::BIGINT,
        |    'spaced arrow' FROM d WHERE v = 2)
        |ORDER BY doc_id, cue_idx""".stripMargin,
    "vtt_cues_extract" ->
      """WITH d AS (SELECT doc_id, doc_id % 2 AS v FROM documents)
        |SELECT * FROM (
        |  SELECT doc_id, 0::BIGINT AS cue_idx, 500::BIGINT AS start_ms,
        |    2000::BIGINT AS end_ms,
        |    'hello vtt doc ' || doc_id::VARCHAR AS text
        |  FROM d WHERE v = 0
        |  UNION ALL
        |  SELECT doc_id, 1::BIGINT, 3000::BIGINT, 4000::BIGINT,
        |    'plain tail' FROM d WHERE v = 0
        |  UNION ALL
        |  SELECT doc_id, 0::BIGINT, 3603000::BIGINT, 3604250::BIGINT,
        |    'second cue text' FROM d WHERE v = 1)
        |ORDER BY doc_id, cue_idx""".stripMargin,
    "notebook_cells_extract" ->
      """WITH d AS (SELECT doc_id, doc_id % 3 AS v FROM documents)
        |SELECT * FROM (
        |  SELECT doc_id, 'python' AS language, 0::BIGINT AS cell_idx,
        |    'markdown' AS cell_type,
        |    '# Title doc ' || doc_id::VARCHAR || chr(10) || 'intro line' AS source
        |  FROM d WHERE v = 0
        |  UNION ALL
        |  SELECT doc_id, 'python', 1::BIGINT, 'code',
        |    'x = 1' || chr(10) || 'print(x)' FROM d WHERE v = 0
        |  UNION ALL
        |  SELECT doc_id, 'scala', 0::BIGINT, 'code',
        |    'val y = ' || doc_id::VARCHAR FROM d WHERE v = 1)
        |ORDER BY doc_id, cell_idx""".stripMargin,
    "latex_strip" ->
      """SELECT doc_id,
        |  CASE doc_id % 4
        |    WHEN 0 THEN 'Intro We study large corpora see appendix . doc '
        |      || doc_id::VARCHAR
        |    WHEN 1 THEN 'Let hold ; cost is 50% & rising now. doc '
        |      || doc_id::VARCHAR
        |    WHEN 2 THEN 'As shows, it holds. doc ' || doc_id::VARCHAR
        |    ELSE 'See the docs and ... end. doc ' || doc_id::VARCHAR
        |  END AS text
        |FROM documents ORDER BY doc_id""".stripMargin,
    "code_license_detect" ->
      """SELECT doc_id,
        |  CASE v WHEN 0 THEN 'Apache-2.0' WHEN 1 THEN 'MIT'
        |    WHEN 2 THEN 'BSD-3-Clause' WHEN 3 THEN 'BSD-2-Clause'
        |    WHEN 4 THEN 'GPL-3.0' WHEN 5 THEN 'Apache-2.0'
        |    WHEN 6 THEN 'MIT OR Apache-2.0' ELSE 'unknown' END AS license,
        |  CASE v WHEN 0 THEN 'spdx' WHEN 6 THEN 'spdx'
        |    WHEN 7 THEN 'none' ELSE 'phrase' END AS method,
        |  CASE WHEN v IN (0, 1, 2, 3, 5) THEN true ELSE false END AS permissive
        |FROM (SELECT doc_id, doc_id % 8 AS v FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "warc_revisit_dedup" ->
      """SELECT * FROM (VALUES
        |  ('http://mirror.example.org/page', '2026-08-02T09:00:00Z',
        |   'http://example.com/page',
        |   'sha1:AAAABBBBCCCCDDDDEEEEFFFFGGGGHHHHIIIIJJJJ', true, 45::BIGINT),
        |  ('http://example.com/page', '2026-08-03T09:00:00Z',
        |   'http://example.com/page',
        |   'sha1:AAAABBBBCCCCDDDDEEEEFFFFGGGGHHHHIIIIJJJJ', true, 45::BIGINT)
        |) t(revisit_uri, revisit_date, original_uri, payload_digest,
        |    refers_match, bytes_saved)
        |ORDER BY revisit_date""".stripMargin,
    "html_jsonld_extract" ->
      """WITH d AS (SELECT doc_id, doc_id % 4 AS v FROM documents)
        |SELECT * FROM (
        |  SELECT doc_id, 0::BIGINT AS block_idx, 'Article' AS jsonld_type,
        |    'Story ' || doc_id::VARCHAR AS name,
        |    '2026-07-14' AS date_published, NULL::VARCHAR AS price,
        |    'A. Writer' AS author_name
        |  FROM d WHERE v = 0
        |  UNION ALL
        |  SELECT doc_id, 0::BIGINT, 'Product', 'Widget ' || doc_id::VARCHAR,
        |    NULL, '19.99', NULL
        |  FROM d WHERE v = 1
        |  UNION ALL
        |  SELECT doc_id, 0::BIGINT, 'Organization', 'Example Corp',
        |    NULL, NULL, NULL
        |  FROM d WHERE v = 2
        |  UNION ALL
        |  SELECT doc_id, 1::BIGINT, 'WebSite', 'Example Site',
        |    NULL, NULL, NULL
        |  FROM d WHERE v = 2)
        |ORDER BY doc_id, block_idx""".stripMargin,
    "html_tables_extract" ->
      """WITH d AS (SELECT doc_id, doc_id % 4 AS v FROM documents)
        |SELECT * FROM (
        |  SELECT doc_id, 0::BIGINT AS table_idx, 2::BIGINT AS n_rows,
        |    2::BIGINT AS n_cols, true AS has_header,
        |    '| name | qty |' || chr(10) || '| --- | --- |' || chr(10) ||
        |      '| item ' || doc_id::VARCHAR || ' | 3 |' || chr(10) ||
        |      '| b&w | 7 |' AS markdown
        |  FROM d WHERE v = 0
        |  UNION ALL
        |  SELECT doc_id, 0::BIGINT, 2::BIGINT, 2::BIGINT, false,
        |    '|  |  |' || chr(10) || '| --- | --- |' || chr(10) ||
        |      '| a\|b | bold text |' || chr(10) || '| only |  |'
        |  FROM d WHERE v = 1
        |  UNION ALL
        |  SELECT doc_id, 0::BIGINT, 1::BIGINT, 1::BIGINT, false,
        |    '|  |' || chr(10) || '| --- |' || chr(10) || '| outer inner tail |'
        |  FROM d WHERE v = 2
        |  UNION ALL
        |  SELECT doc_id, 1::BIGINT, 1::BIGINT, 1::BIGINT, false,
        |    '|  |' || chr(10) || '| --- |' || chr(10) || '| t2 |'
        |  FROM d WHERE v = 2)
        |ORDER BY doc_id, table_idx""".stripMargin,
    "image_container_probe" ->
      """SELECT * FROM (VALUES
        |  ('anim.gif', 'gif', 2::BIGINT, 1::BIGINT, 2::BIGINT, true, 3::BIGINT),
        |  ('pages.tif', 'tiff_II', 8::BIGINT, 4::BIGINT, 2::BIGINT, false,
        |   -1::BIGINT)
        |) t(media_id, container, width, height, n_units, animated, loop_count)
        |ORDER BY media_id""".stripMargin,
    "image_dhash_pairs" ->
      """SELECT id_a, id_b, hamming FROM (VALUES
        |  ('pattern.bmp', 'pattern2.bmp', 2::BIGINT)) t(id_a, id_b, hamming)
        |ORDER BY id_a, id_b""".stripMargin,
    // the cross-format pair set as literals — the engine must sniff and
    // decode three codecs into one comparable hash family
    "image_dhash_mixed_pairs" ->
      """SELECT id_a, id_b, hamming FROM (VALUES
        |  ('pattern.bmp', 'pattern.png', 0::BIGINT),
        |  ('pattern.bmp', 'pattern2.bmp', 2::BIGINT),
        |  ('pattern.png', 'pattern2.bmp', 2::BIGINT),
        |  ('photo.jpg', 'photo2.jpg', 4::BIGINT),
        |  ('photo.jpg', 'photo_exif.jpg', 0::BIGINT),
        |  ('photo2.jpg', 'photo_exif.jpg', 4::BIGINT)) t(id_a, id_b, hamming)
        |ORDER BY id_a, id_b""".stripMargin,
    // the survivor set as literals — each perceptual cluster keeps its
    // min-id member, across formats
    "image_exif_report" ->
      """SELECT * FROM (VALUES
        |  ('photo_exif.jpg', 0::BIGINT, 'make', 'GraftCam'),
        |  ('photo_exif.jpg', 1::BIGINT, 'model', 'Mark II'),
        |  ('photo_exif.jpg', 2::BIGINT, 'orientation', '6'),
        |  ('photo_exif.jpg', 3::BIGINT, 'datetime', '2026:08:05 12:00:00'),
        |  ('photo_exif.jpg', 4::BIGINT, 'exposure_time', '1/250'),
        |  ('photo_exif.jpg', 5::BIGINT, 'f_number', '28/10'),
        |  ('photo_exif.jpg', 6::BIGINT, 'iso', '200'),
        |  ('photo_exif.jpg', 7::BIGINT, 'datetime_original', '2026:08:05 11:58:30'),
        |  ('photo_exif.jpg', 8::BIGINT, 'gps_latitude_ref', 'N'),
        |  ('photo_exif.jpg', 9::BIGINT, 'gps_latitude', '48/1,51/1,2979/100'),
        |  ('photo_exif.jpg', 10::BIGINT, 'gps_longitude_ref', 'E'),
        |  ('photo_exif.jpg', 11::BIGINT, 'gps_longitude', '2/1,17/1,4038/100')
        |) t(media_id, tag_idx, tag, value)
        |ORDER BY media_id, tag_idx""".stripMargin,
    "png_text_metadata" ->
      """SELECT * FROM (VALUES
        |  ('meta.png', 0::BIGINT, 'Title', 'Diagonal ramp pattern'),
        |  ('meta.png', 1::BIGINT, 'Software', 'graft png24'),
        |  ('meta.png', 2::BIGINT, 'Comment', 'café ✓ utf-8 comment'),
        |  ('meta.png', 3::BIGINT, 'Description',
        |   'deflate compressed latin-1 æøå description'),
        |  ('meta.png', 4::BIGINT, 'Annotation', 'compressed utf-8 ✓ annotation')
        |) t(media_id, tag_idx, keyword, value)
        |ORDER BY media_id, tag_idx""".stripMargin,
    "image_gps_strip" ->
      """SELECT * FROM (VALUES
        |  ('photo.jpg', 0::BIGINT, 0::BIGINT, 0::BIGINT, false, true, true),
        |  ('photo2.jpg', 0::BIGINT, 0::BIGINT, 0::BIGINT, false, true, true),
        |  ('photo_exif.jpg', 4::BIGINT, 12::BIGINT, 0::BIGINT, false, true, true)
        |) t(media_id, n_gps_tags, n_tags, n_tags_after, gps_after,
        |    dims_preserved, dhash_preserved)
        |ORDER BY media_id""".stripMargin,
    "media_dedup_survivors" ->
      """SELECT media_id, kind FROM (VALUES
        |  ('halves.bmp', 'image'), ('pattern.bmp', 'image'),
        |  ('photo.jpg', 'image'), ('rgb.bmp', 'image')) t(media_id, kind)
        |ORDER BY media_id""".stripMargin,
    // the audio survivor set as literals — the gain/layout cluster
    // keeps its min-id member, everything else is its own cluster
    "audio_dedup_survivors" ->
      """SELECT media_id, kind FROM (VALUES
        |  ('byte8.wav', 'audio'), ('quiet.wav', 'audio'),
        |  ('stereo.wav', 'audio'), ('sweep.wav', 'audio')
        |) t(media_id, kind)
        |ORDER BY media_id""".stripMargin,
    // the planted audio perceptual structure as literals — the
    // volume/channel-layout cluster at Hamming 0, the half-silenced
    // copy at 5, the spectral/DC outliers excluded
    "audio_fingerprint_pairs" ->
      """SELECT id_a, id_b, hamming FROM (VALUES
        |  ('quiet.wav', 'stereo.wav', 5::BIGINT),
        |  ('quiet.wav', 'tone.wav', 5::BIGINT),
        |  ('quiet.wav', 'tone_half.wav', 5::BIGINT),
        |  ('stereo.wav', 'tone.wav', 0::BIGINT),
        |  ('stereo.wav', 'tone_half.wav', 0::BIGINT),
        |  ('tone.wav', 'tone_half.wav', 0::BIGINT)) t(id_a, id_b, hamming)
        |ORDER BY id_a, id_b""".stripMargin,
    // expected activity segmentation as literals — PCM decode +
    // 8-window RMS envelope; quiet.wav's first half is digital silence
    "audio_activity_report" ->
      """SELECT media_id, n_windows, n_active, longest_run, first_active,
        |  active_ratio_micros FROM (VALUES
        |  ('byte8.wav', 8::BIGINT, 8::BIGINT, 8::BIGINT, 0::BIGINT, 1000000::BIGINT),
        |  ('quiet.wav', 8::BIGINT, 4::BIGINT, 4::BIGINT, 4::BIGINT, 500000::BIGINT),
        |  ('stereo.wav', 8::BIGINT, 8::BIGINT, 8::BIGINT, 0::BIGINT, 1000000::BIGINT),
        |  ('sweep.wav', 8::BIGINT, 8::BIGINT, 8::BIGINT, 0::BIGINT, 1000000::BIGINT),
        |  ('tone.wav', 8::BIGINT, 8::BIGINT, 8::BIGINT, 0::BIGINT, 1000000::BIGINT),
        |  ('tone_half.wav', 8::BIGINT, 8::BIGINT, 8::BIGINT, 0::BIGINT, 1000000::BIGINT)
        |) t(media_id, n_windows, n_active, longest_run, first_active,
        |    active_ratio_micros)
        |ORDER BY media_id""".stripMargin,
    // the WHOLE unigram model replayed: weighted substring counts, the
    // top-50 + all-chars vocabulary, ln(cnt/total) scores, the Viterbi
    // DP as a recursive CTE with the best/pieces arrays as LIST state
    // (candidates ordered logp DESC, pieces ASC, split ASC -- the
    // engine's pinned tie rule), and the per-doc sequential fold
    // the DP re-run with the backpointer list in the recursive state,
    // then the segmentation reconstructed by a second recursive walk
    "unigram_encode_words" ->
      (unigramVocabCtes + """
        |,
        |vit AS (
        |  WITH RECURSIVE v(word, i, best, pieces, back) AS (
        |    SELECT word, 0, [0.0::DOUBLE], [0], [0] FROM dwords
        |    UNION ALL
        |    SELECT v.word, v.i + 1, list_append(v.best, w.cand),
        |           list_append(v.pieces, w.np), list_append(v.back, w.j)
        |    FROM v, LATERAL (
        |      SELECT vb.cand, vb.np, vb.j FROM (
        |        SELECT v.best[(u.j+1)::INT] + vo.logp AS cand,
        |               v.pieces[(u.j+1)::INT] + 1 AS np, u.j AS j
        |        FROM unnest(range(greatest(0, v.i + 1 - 4), v.i + 1)) AS u(j)
        |        JOIN vocab vo ON vo.piece = substr(v.word, (u.j+1)::INT, (v.i+1-u.j)::INT)
        |      ) vb ORDER BY vb.cand DESC, vb.np ASC, vb.j ASC LIMIT 1
        |    ) w
        |    WHERE v.i < len(v.word))
        |  SELECT word, pieces[(len(word)+1)::INT] AS np, back
        |  FROM v WHERE i = len(word)),
        |walk AS (
        |  WITH RECURSIVE wk(word, i, pieces) AS (
        |    SELECT word, len(word), []::VARCHAR[] FROM vit
        |    UNION ALL
        |    SELECT wk.word, b.back[(wk.i+1)::INT]::INT,
        |      list_prepend(substr(wk.word, (b.back[(wk.i+1)::INT]+1)::INT,
        |        (wk.i - b.back[(wk.i+1)::INT])::INT), wk.pieces)
        |    FROM wk JOIN vit b USING (word) WHERE wk.i > 0)
        |  SELECT word, pieces FROM wk WHERE i = 0)
        |SELECT w.word, array_to_string(w.pieces, ' ') AS segmentation,
        |  v.np::BIGINT AS n_pieces
        |FROM walk w JOIN vit v USING (word) ORDER BY w.word""".stripMargin),
    // the EM round replayed end-to-end: integer micro-log-prob
    // checkpoint, Long-arithmetic DP with backpointers, walk, usage
    // recount, prune + char floor, renormalize
    "unigram_em_vocab" -> unigramEmOracle(1),
    // two rounds compound: round 2's DP runs on round 1's re-quantized
    // scores over the PRUNED vocab — the checkpoint discipline chains
    "unigram_em2_vocab" -> unigramEmOracle(2),
    "unigram_segment_stats" ->
      (unigramCtes + """
        |SELECT doc_id, n_words, n_oov_words, n_pieces, round(logp_raw, 6) AS logp,
        |  CAST(CASE WHEN n_words > n_oov_words
        |       THEN floor(n_pieces::DOUBLE / (n_words - n_oov_words)
        |         * 1000000 + 0.5)
        |       ELSE 0 END AS BIGINT) AS pieces_per_word_micros
        |FROM folded ORDER BY doc_id""".stripMargin),
    // the same piece counts chained into the deterministic packing
    // window (the pack_bpe_windows construction, seed u0)
    "pack_unigram_windows" ->
      (unigramCtes + """,
        |tk AS (SELECT doc.doc_id, coalesce(f.n_pieces, 0)::BIGINT AS tokens
        |       FROM documents doc LEFT JOIN folded f ON f.doc_id = doc.doc_id)
        |SELECT doc_id, position, "offset"::BIGINT AS "offset",
        |  ("offset" // 512)::BIGINT AS first_window,
        |  (("offset" + greatest(tokens - 1, 0)) // 512)::BIGINT AS last_window
        |FROM (
        |  SELECT doc_id, tokens,
        |    row_number() OVER w AS position,
        |    coalesce(sum(tokens) OVER (
        |      w ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS "offset"
        |  FROM tk
        |  WINDOW w AS (ORDER BY md5(doc_id::VARCHAR || ':u0'), doc_id))
        |ORDER BY position""".stripMargin),
    // the full two-stage replay: automaton totals as per-position
    // substring sums, the density gate, %3 batching, and the
    // whole-batch contract routing (clean iff no survivor exceeds 10)
    "gazetteer_gate_pipeline" ->
      """WITH t(term) AS (
        |  SELECT unnest(['and', 'data', 'the ', 'ing '])),
        |m AS (
        |  SELECT d.doc_id, len(d.text)::BIGINT AS n_chars,
        |    sum(coalesce(list_sum(list_transform(
        |      range(1, greatest(len(d.text) - len(t.term) + 2, 1)),
        |      i -> (d.text[i::INT:(i + len(t.term) - 1)::INT] = t.term)::INT)),
        |      0))::BIGINT AS n_matches
        |  FROM documents d, t GROUP BY 1, 2),
        |surv AS (
        |  SELECT doc_id % 3 AS batch_id,
        |    CASE WHEN n_matches > 10 THEN 1 ELSE 0 END AS bad
        |  FROM m WHERE NOT (1000 * n_matches > 20 * n_chars)),
        |g AS (SELECT batch_id, count(*)::BIGINT AS n, sum(bad)::BIGINT AS viol
        |      FROM surv GROUP BY 1),
        |ids AS (SELECT unnest([0, 1, 2])::BIGINT AS batch_id)
        |SELECT i.batch_id, coalesce(g.viol, 0) = 0 AS clean,
        |  (CASE WHEN coalesce(g.viol, 0) = 0 THEN coalesce(g.n, 0)
        |        ELSE 0 END)::BIGINT AS n_stored,
        |  (CASE WHEN coalesce(g.viol, 0) = 0 THEN 0
        |        ELSE g.n END)::BIGINT AS n_quarantined
        |FROM ids i LEFT JOIN g USING (batch_id) ORDER BY batch_id""".stripMargin,
    // both verdicts replayed with the same list kernels; the ratio gate
    // is the identical integer cross-multiplication
    "blocklist_gate" ->
      """WITH c AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(text), '\s+'),
        |                t -> t <> '') AS w FROM documents),
        |n AS (SELECT doc_id, len(w)::BIGINT AS n_tokens,
        |    len(list_filter(w, t -> t IN ('slow', 'dup')))::BIGINT AS n_blocked
        |  FROM c)
        |SELECT doc_id, n_tokens, n_blocked,
        |  CAST(CASE WHEN n_tokens > 0
        |       THEN floor(n_blocked::DOUBLE / n_tokens * 1000000 + 0.5)
        |       ELSE 0 END AS BIGINT) AS blocked_ratio_micros,
        |  n_blocked > 0 AS drop_any,
        |  1000 * n_blocked > 50 * n_tokens AS drop_ratio
        |FROM n ORDER BY doc_id""".stripMargin,
    // the WHOLE SIF model replayed: corpus unigram counts, the one
    // integer-division weight T/(T + 1000·cnt), md5-parity ±1 word
    // vectors, and the per-dim sums folded in document order with
    // list_reduce — bit-for-bit the engine's sequential fold
    "sif_embedding" ->
      """WITH base AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(text), '\s+'),
        |                t -> t <> '') AS w FROM documents),
        |tok AS (SELECT doc_id, r['pos'] AS pos, r['term'] AS term FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(w) + 1),
        |      i -> {'pos': i, 'term': w[i]})) AS r FROM base)),
        |cnt AS (SELECT term, count(*)::BIGINT AS c FROM tok GROUP BY term),
        |tot AS (SELECT count(*)::BIGINT AS t FROM tok),
        |vocab AS (SELECT term, c, list_transform(range(0, 8), d ->
        |    CASE WHEN ('0x' || substr(md5('sif:' || term || ':' || d), 1, 1))::INT
        |              % 2 = 0 THEN 1.0 ELSE -1.0 END) AS vec
        |  FROM cnt),
        |wtok AS (SELECT k.doc_id, k.pos,
        |    list_transform(v.vec,
        |      x -> ((tot.t)::DOUBLE / (tot.t + 1000 * v.c)::DOUBLE) * x) AS contrib
        |  FROM tok k JOIN vocab v USING (term), tot),
        |folded AS (SELECT doc_id, count(*)::BIGINT AS n_tokens,
        |    list_reduce(
        |      list_prepend([0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0],
        |                   list(contrib ORDER BY pos)),
        |      (acc, x) -> list_transform(range(1, 9),
        |                    i -> acc[i] + x[i])) AS emb
        |  FROM wtok GROUP BY doc_id)
        |SELECT doc_id, n_tokens,
        |  round(emb[1], 6) AS e0, round(emb[2], 6) AS e1,
        |  round(emb[3], 6) AS e2, round(emb[4], 6) AS e3,
        |  round(emb[5], 6) AS e4, round(emb[6], 6) AS e5,
        |  round(emb[7], 6) AS e6, round(emb[8], 6) AS e7
        |FROM folded ORDER BY doc_id""".stripMargin,
  )
}
