package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: token counting,
  * quality scoring, n-gram-heuristic language ID, and content
  * fingerprinting. Everything here is pure Catalyst column composition
  * (split/filter/array_* — codegen-compatible, no UDFs), and every ratio
  * is an exact integer division so results hash-match a SQL oracle.
  */
object TextAnalysis {

  def tokens(text: Column): Column = split(trim(text), "\\s+")

  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** Space-joined word n-grams of order `n` over a token-array column —
    * empty array when the document is shorter than `n`. The size guard
    * matters: `sequence(1, 0)` in Spark is the DESCENDING [1, 0], so an
    * unguarded transform would fabricate grams for short docs. Shared
    * by [[NgramLm.gramCounts]] and [[Testbed.bleu]] so the two engines'
    * gram definitions can never drift apart.
    */
  def wordGrams(toks: Column, n: Int): Column =
    // imperative kernel behind the same guards (round-18 opt): the
    // transform/slice/array_join composition is interpreted per element
    // and dominated every gram-counting query; WordNGramsAll replicates
    // it exactly (incl. array_join's null-element skipping), so every
    // downstream count/set is bit-identical (property-tested)
    when(size(toks) >= n,
      graft.functions.WordNGramsAll.wordNGramsAll(toks, n))
      .otherwise(array().cast("array<string>"))

  /** Character n-grams of order `n` over a string column — the char
    * analog of [[wordGrams]], same descending-sequence guard; empty
    * array for strings shorter than `n` (null string included).
    */
  def charGrams(s: Column, n: Int): Column =
    // imperative code-point kernel, same guards — see [[wordGrams]]
    when(length(s) >= n,
      graft.functions.CharNGrams.charNGrams(s, n))
      .otherwise(array().cast("array<string>"))

  /** Count of tokens that appear in `stopwords`. */
  def stopwordHits(toks: Column, stopwords: Seq[String]): Column =
    size(filter(toks, t => t.isin(stopwords: _*))).cast("long")

  /** Vocabulary richness: distinct tokens / tokens. */
  def distinctRatio(toks: Column): Column =
    size(array_distinct(toks)).cast("double") / size(toks)

  /** Mean token length (separator chars excluded). */
  def avgWordLen(text: Column, toks: Column): Column =
    length(regexp_replace(text, "\\s", "")).cast("double") / size(toks)

  /** Homoglyph confusables → their Latin look-alikes — the
    * spam/evasion counter for dedup and blocklist KEYS: visually
    * identical strings written with Cyrillic/Greek/ligature
    * substitutions collapse to one canonical form before hashing.
    * The pair table is the committed UTS #39-derived snapshot at
    * `src/main/resources/graft/confusables_snapshot.txt` (228
    * single-codepoint rows: Cyrillic/Greek lookalikes, letterlike
    * symbols, Roman numeral forms, the fullwidth ASCII block, space/
    * hyphen/quote key-poisoners — the PSL-list convention: data file
    * in the upstream format, loud parse), applied with `translate` —
    * a single codegen'd pass whose pair strings compile INTO the plan,
    * and the SAME function with the same pairs replays in
    * DuckDB/Postgres. Loader contract: one BMP source → one BMP
    * target per row, sources never ASCII, duplicates refuse.
    */
  private lazy val confusablePairs: (String, String) = {
    val in = getClass.getResourceAsStream("/graft/confusables_snapshot.txt")
    require(in != null, "classpath resource graft/confusables_snapshot.txt missing")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try {
      val from = new StringBuilder
      val to = new StringBuilder
      val seen = scala.collection.mutable.Set[Int]()
      src.getLines().foreach { raw =>
        val line = raw.takeWhile(_ != '#').trim
        if (line.nonEmpty) {
          val parts = line.split(";").map(_.trim)
          require(parts.length == 2, s"bad confusables row: $raw")
          val s = Integer.parseInt(parts(0), 16)
          val t = Integer.parseInt(parts(1), 16)
          require(s >= 0x80 && s <= 0xFFFF && t <= 0xFFFF,
            s"confusables row out of the 1:1 BMP contract: $raw")
          // a surrogate code point would embed a LONE UTF-16 surrogate
          // into the translate pair strings and corrupt every
          // normalized string fed to UTF-8 hashing
          require(!(s >= 0xD800 && s <= 0xDFFF) && !(t >= 0xD800 && t <= 0xDFFF),
            s"confusables row maps a surrogate code point: $raw")
          require(seen.add(s), f"duplicate confusables source U+$s%04X")
          from.append(s.toChar); to.append(t.toChar)
        }
      }
      (from.toString, to.toString)
    } finally src.close()
  }
  lazy val HomoglyphFrom: String = confusablePairs._1
  lazy val HomoglyphTo: String = confusablePairs._2

  def homoglyphNormalize(text: Column): Column =
    translate(text, HomoglyphFrom, HomoglyphTo)

  /** Count of confusable code points in the text (the evasion
    * suspicion signal): length minus length-with-confusables-deleted.
    */
  def homoglyphCount(text: Column): Column =
    length(text) - length(translate(text, HomoglyphFrom, ""))

  /** Composite quality score in [0,1]: rewards vocabulary diversity,
    * function-word presence (gibberish has none), and non-trivial length.
    * The exact weights are engine-defined; the point is the shape —
    * cheap, columnar, and monotone in each signal.
    */
  def qualityScore(text: Column, stopwords: Seq[String]): Column = {
    val t = tokens(text)
    lit(0.4) * distinctRatio(t) +
      lit(0.3) * (stopwordHits(t, stopwords).cast("double") / size(t)) +
      lit(0.3) * least(size(t).cast("double") / 100.0, lit(1.0))
  }

  /** Stopword lists for the n-gram-heuristic language ID. */
  val StopwordsEn: Seq[String] = Seq("the", "a", "of", "to", "in", "and", "is")
  val StopwordsEs: Seq[String] = Seq("el", "la", "de", "que", "y", "los", "una")
  val StopwordsDe: Seq[String] = Seq("der", "die", "das", "und", "ist", "von", "ein")

  /** Language scores: stopword-hit counts per language. */
  def langScores(text: Column): (Column, Column, Column) = {
    val t = tokens(text)
    (stopwordHits(t, StopwordsEn), stopwordHits(t, StopwordsEs), stopwordHits(t, StopwordsDe))
  }

  /** Argmax of the language scores with deterministic tie-break en>es>de. */
  def langPredict(en: Column, es: Column, de: Column): Column =
    when(en >= es && en >= de, "en").when(es >= de, "es").otherwise("de")

  /** Order-invariant bag-of-words content fingerprint: md5 over the
    * sorted distinct token set — catches shuffled/reordered copies that
    * exact text dedup misses.
    */
  def bagOfWordsFingerprint(text: Column): Column =
    md5(array_join(array_sort(array_distinct(tokens(text))), " ").cast("binary"))

  /** Unicode normalization (UAX #15) — the first transform of every
    * serious text pipeline (C4/Gopher lineage runs NFKC before
    * tokenization): visually-identical strings with different
    * codepoint sequences (é composed vs e+combining-acute, ligatures,
    * fullwidth forms) would otherwise defeat exact dedup keys,
    * stopword matches, and tokenizer vocabularies. Bounded per-row
    * kernels over `java.text.Normalizer`; NFC is the oracle-checkable
    * form (DuckDB ships `nfc_normalize`; both sides implement the same
    * published algorithm, so parity is exact), NFKC adds the
    * compatibility foldings (ligature/fullwidth/superscript collapse)
    * tokenizer pipelines prefer.
    */
  def nfcNormalize(text: Column): Column =
    udf((s: String) => Option(s).map(
      java.text.Normalizer.normalize(_, java.text.Normalizer.Form.NFC)))
      .apply(text)

  def nfkcNormalize(text: Column): Column =
    udf((s: String) => Option(s).map(
      java.text.Normalizer.normalize(_, java.text.Normalizer.Form.NFKC)))
      .apply(text)

  /** Deflate size of the UTF-8 text (zlib BEST_COMPRESSION) — the
    * compression-ratio quality signal the RefinedWeb/MassiveText
    * lineage uses: highly repetitive spam compresses far below prose,
    * random/encrypted junk barely compresses at all, and the ratio
    * needs no language model. Emitted as the exact BYTE COUNT (pair it
    * with `octet_length` for the ratio) so no float crosses the engine
    * boundary; deterministic for a fixed JDK zlib (the gzip-fixture
    * convention — the committed oracle literals pin the container's
    * JDK). [[charBigramEntropy]] remains the fully engine-portable
    * cousin for corpora where the JDK pin is unacceptable.
    */
  def deflateSize(text: Column): Column =
    udf((s: String) => Option(s).map { t =>
      val raw = t.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val d = new java.util.zip.Deflater(
        java.util.zip.Deflater.BEST_COMPRESSION)
      try {
        d.setInput(raw); d.finish()
        val buf = new Array[Byte](8192)
        var n = 0L
        while (!d.finished()) n += d.deflate(buf)
        n
      } finally d.end()
    }).apply(text)

  /** StarCoder-pipeline code filters (Li et al. 2023, "StarCoder: may
    * the source be with you", §3 data curation — the line-length +
    * alphanumeric screens every code-corpus pipeline runs): per-doc
    * line stats and the three gates — max line ≤ `maxLineLen`
    * (minified/data blobs), mean line ≤ `maxAvgLineLen` (same, in
    * aggregate), alphanumeric fraction ≥ `alnumPctMin`% (binary/
    * art/table junk), plus an auto-generated-marker screen. Pure
    * column expressions; every ratio decided by exact integer
    * cross-multiplication (the gopherRules discipline — no float
    * boundary can flip a gate between engines). Empty/null text gates
    * false on the alnum rule (no content ⇒ not code worth keeping).
    */
  def codeStats(df: DataFrame, idCol: String, textCol: String,
                maxLineLen: Long = 1000, maxAvgLineLen: Long = 100,
                alnumPctMin: Long = 25): DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    val lines = split(t, "\n")
    df.select(col(idCol), t.as("__t"), lines.as("__l"))
      .select(col(idCol),
        size(col("__l")).cast("long").as("n_lines"),
        length(col("__t")).cast("long").as("n_chars"),
        aggregate(col("__l"), lit(0L),
          (acc, l) => greatest(acc, length(l).cast("long")))
          .as("max_line_len"),
        length(regexp_replace(col("__t"), "[^A-Za-z0-9]", ""))
          .cast("long").as("n_alnum"),
        col("__t").rlike("(?i)auto-?generated|do not edit")
          .as("autogen_marker"))
      .withColumn("rule_max_line", col("max_line_len") <= maxLineLen)
      // mean line length ≤ maxAvg ⇔ n_chars ≤ maxAvg · n_lines (the
      // newline chars excluded from the numerator would only help, so
      // charge them: strictest consistent integer form)
      .withColumn("rule_avg_line",
        col("n_chars") <= lit(maxAvgLineLen) * col("n_lines"))
      .withColumn("rule_alnum_frac",
        lit(100L) * col("n_alnum") >= lit(alnumPctMin) * col("n_chars") &&
          col("n_chars") > 0)
      .withColumn("passed",
        col("rule_max_line") && col("rule_avg_line") &&
          col("rule_alnum_frac") && !col("autogen_marker"))
  }

  /** PII redaction — the scrubbing pass every large-corpus pipeline runs
    * before training: emails, URLs, IPv4 addresses, and phone-like digit
    * runs become typed placeholder tokens. Pure codegen'd
    * `regexp_replace` chain (no UDF); patterns stay inside the RE2∩Java
    * common subset so a SQL oracle evaluates them identically — which is
    * why the URL terminator spells the whitespace class out explicitly:
    * Java's `\s` includes vertical tab (\x0B), RE2's does not, and that
    * one-character disagreement would silently break cross-engine
    * parity on real text. Order matters: emails and URLs first (they
    * contain digits an IP/phone pattern would otherwise chew on), then
    * IPs, then phones.
    */
  def redactPii(text: Column): Column = {
    val email = regexp_replace(text,
      "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}", "<EMAIL>")
    val url = regexp_replace(email, "https?://[^ \\t\\n\\x0B\\f\\r]+", "<URL>")
    val ip = regexp_replace(url, "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b", "<IP>")
    regexp_replace(ip, "\\+?\\d[\\d -]{7,}\\d", "<PHONE>")
  }

  /** Mojibake (UTF-8-read-as-Latin-1) detection score: telltale
    * two-char sequences per 1000 chars. When UTF-8 bytes are decoded
    * as ISO-8859-1/Windows-1252, every multibyte char becomes a lead
    * byte seen as \u00C2/\u00C3/\u00E0-\u00EF followed by a
    * continuation byte (0x80-0xBF) seen as a C1 control, a
    * \u00A0-\u00BF symbol, or a cp1252 printable — sequences
    * vanishingly rare in clean text of any language. Pure codegen'd
    * regexp count, no UDF.
    */
  def mojibakeScore(text: Column): Column = {
    val marker = "[\u00C2\u00C3\u00E0-\u00EF][\u0080-\u00BF\u20AC\u201A\u0192\u201E\u2026\u2020\u2021\u02C6\u2030\u0160\u2039\u0152\u017D\u2018\u2019\u201C\u201D\u2022\u2013\u2014\u02DC\u2122\u0161\u203A\u0153\u017E\u0178]"
    when(length(text) > 0,
      regexp_count(text, lit(marker)) * lit(1000.0) / length(text))
      .otherwise(lit(0.0))
  }

  /** Windows-1252 codepoints for bytes 0x80-0x9F in byte order (the
    * five undefined bytes keep their C1 control so the map stays 1:1).
    */
  private val Cp1252High: String = "\u20AC\u0081\u201A\u0192\u201E\u2026\u2020\u2021\u02C6\u2030\u0160\u2039\u0152\u008D\u017D\u008F\u0090\u2018\u2019\u201C\u201D\u2022\u2013\u2014\u02DC\u2122\u0161\u203A\u0153\u009D\u017E\u0178"
  private val C1Controls: String = (0x80 to 0x9f).map(_.toChar).mkString

  /** Repair double-encoded text: fold cp1252-lens printables back to
    * their byte-value C1 controls (`translate`, 1:1), re-encode the
    * chars as ISO-8859-1 bytes (a bijection on 0x00-0xFF) and decode
    * those bytes as UTF-8 — the exact inverse of the corruption
    * (UTF-8 bytes shown through a Latin-1 or cp1252 lens).
    *
    * Three guards make the rewrite total (it never throws, whatever
    * the corpus contains — Spark 4's encode/decode are strict):
    *  1. [[mojibakeScore]] ≥ `threshold`: the repair is identity on
    *     ASCII but lossy on REAL Latin-1 content, so the gate is the
    *     contract, not a nicety;
    *  2. after the fold every char must be ≤ U+00FF (a decoder that
    *     already destroyed undefined cp1252 bytes leaves U+FFFD —
    *     those rows are unrepairable and pass through);
    *  3. the recovered bytes must be valid UTF-8 (a high score that
    *     is NOT double-encoding, e.g. genuinely Latin-1-heavy noise,
    *     must not die in the decode).
    * All codegen'd (translate/rlike/encode/is_valid_utf8/decode, with
    * CaseWhen/And short-circuiting keeping the strict calls inside
    * their guards) — no UDF.
    */
  def fixMojibake(text: Column, threshold: Double = 5.0): Column = {
    val folded = translate(text, Cp1252High, C1Controls)
    val bytes = encode(folded, "ISO-8859-1")
    when(mojibakeScore(text) >= threshold &&
        !folded.rlike("[^\\x00-\\xFF]") && is_valid_utf8(bytes),
      decode(bytes, "UTF-8"))
      .otherwise(text)
  }

  /** Blocklist ("bad words") document gate — the C4 cleaning rule
    * (Raffel et al. 2020 §2.2 drops any page containing a listed word)
    * plus the softer ratio gate successors use (drop only when listed
    * tokens exceed `maxPermille` per mille of the document). Reports
    * counts, both verdicts, and the ratio so a pipeline can pick its
    * severity; the ratio gate is an integer cross-multiplication
    * (`1000·n_blocked > maxPermille·n_tokens`) — no float boundary can
    * flip it between engines (the gopherRules discipline).
    *
    * Scale: one narrow scan; the blocklist is a literal array evaluated
    * per row (no join, no shuffle) — sized for curated lists (10²-10³
    * terms). Null text ⇒ zero counts, both gates pass.
    */
  def blocklistGate(df: DataFrame, idCol: String, textCol: String,
                    blocklist: Seq[String],
                    maxPermille: Int = 20): DataFrame = {
    require(blocklist.nonEmpty, "blocklist must not be empty")
    require(maxPermille >= 0 && maxPermille <= 1000,
      s"maxPermille must be in [0,1000] (got $maxPermille)")
    val toks = tokens(coalesce(col(textCol), lit("")))
    val clean = filter(toks, t => length(t) > 0)
    val blocked = filter(clean, t => t.isInCollection(blocklist))
    df.select(col(idCol),
        size(clean).cast("long").as("n_tokens"),
        size(blocked).cast("long").as("n_blocked"))
      // exact-integer ratio — tie-capable at a round boundary, so it
      // leaves as the bit-identical floor pin (Tables.micros)
      .withColumn("blocked_ratio_micros",
        when(col("n_tokens") > 0,
          graft.Tables.micros(col("n_blocked").cast("double") / col("n_tokens")))
          .otherwise(lit(0L)))
      .withColumn("drop_any", col("n_blocked") > 0)
      .withColumn("drop_ratio",
        lit(1000L) * col("n_blocked") > lit(maxPermille.toLong) * col("n_tokens"))
  }

  /** Phrase-blocklist document gate at GAZETTEER scale — the
    * [[blocklistGate]] contract (any-hit verdict + a density verdict by
    * integer cross-multiplication) when the list is 10⁴+ multi-word
    * PHRASES instead of 10²-10³ single tokens: the per-token
    * `isInCollection` membership can't see phrases, and per-phrase
    * regex/LIKE pays O(|phrases|) per document — [[Gazetteer]]'s
    * Aho–Corasick automaton finds every occurrence of every phrase in
    * ONE pass per document (O(chars + matches), flat in |phrases|;
    * SCALE.md "Gazetteer probe": 200× the dictionary = 0.6× wall). Per doc:
    * `(n_chars, n_matches, n_terms_hit, drop_any, drop_density)` with
    * `drop_density ⇔ 1000·n_matches > maxPerMilleChars·n_chars` —
    * float-free, so both verdicts replay exactly relationally.
    *
    * Scale: the scan is [[Gazetteer.matchCounts]]'s narrow projection +
    * explode (the corpus never shuffles to be MATCHED); the per-doc
    * rollup and the left join back to the full id set (zero-hit docs
    * must report 0, not vanish) are one aggregation + one equi-join on
    * the id — both map-side-combining, both id-keyed.
    */
  def gazetteerGate(df: DataFrame, idCol: String, textCol: String,
                    phrases: Seq[String],
                    maxPerMilleChars: Int = 20): DataFrame = {
    require(maxPerMilleChars >= 0 && maxPerMilleChars <= 1000,
      s"maxPerMilleChars must be in [0,1000] (got $maxPerMilleChars)")
    val hits = Gazetteer.matchCounts(df, idCol, textCol, phrases)
      .groupBy(col(idCol))
      .agg(sum(col("n_matches")).cast("long").as("n_matches"),
        count(lit(1)).cast("long").as("n_terms_hit"))
    df.select(col(idCol),
        length(coalesce(col(textCol), lit(""))).cast("long").as("n_chars"))
      .join(hits, Seq(idCol), "left")
      .withColumn("n_matches", coalesce(col("n_matches"), lit(0L)))
      .withColumn("n_terms_hit", coalesce(col("n_terms_hit"), lit(0L)))
      .withColumn("drop_any", col("n_matches") > 0)
      .withColumn("drop_density", lit(1000L) * col("n_matches") >
        lit(maxPerMilleChars.toLong) * col("n_chars"))
  }

  /** Corpus vocabulary profile: the `k` most frequent whitespace tokens
    * with exact counts, ordered (count desc, token asc) — the total
    * order makes the boundary deterministic under ties.
    *
    * Scale: the token explode is narrow; the count partial-aggregates
    * map-side (the shuffle carries the VOCABULARY, not the token
    * stream); the sort+limit compiles to TakeOrdered (per-partition
    * top-k heaps, k rows to the driver) — never a global sort.
    */
  def vocabTopK(df: DataFrame, textCol: String, k: Int): DataFrame =
    df.select(explode(tokens(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(k)

  /** Count-min-sketch heavy-hitter estimates checked against the exact
    * [[vocabTopK]] counts — the sketch is the 100 TB answer (one
    * treeAggregate builds it; memory is O(1/eps × ln(1/(1-confidence))),
    * independent of vocabulary size), and this returns per-token proof
    * it honors its bound here: `(token, n, est, within_bound)` where
    * CMS guarantees `n <= est <= n + eps*N` (overestimate-only; N =
    * total token count). The exact top-k pass is test-time anchoring —
    * at corpus scale you keep only the sketch.
    */
  def vocabTopKCmsChecked(df: DataFrame, textCol: String, k: Int,
                          eps: Double = 0.001, confidence: Double = 0.99,
                          seed: Int = 42): DataFrame = {
    val toks = df.select(explode(tokens(col(textCol))).as("token"))
    val cms = toks.stat.countMinSketch("token", eps, confidence, seed)
    val bc = df.sparkSession.sparkContext.broadcast(cms)
    val bound = math.ceil(eps * cms.totalCount).toLong
    // k rows — the UDF evaluates k times total, not per corpus row
    val est = udf((t: String) => bc.value.estimateCount(t))
    vocabTopK(df, textCol, k)
      .withColumn("est", est(col("token")))
      .withColumn("within_bound", col("est") >= col("n") &&
        col("est") <= col("n") + lit(bound))
  }

  /** Gopher-style repetition metric: per document, the fraction of word
    * n-gram slots covered by the single most frequent n-gram —
    * boilerplate and degenerate generations repeat one phrase, natural
    * text does not. Returns `(idCol, n_grams, top_n, rep_ratio,
    * repetitive)` where `rep_ratio = top_n / n_grams` (exact
    * integer-over-integer, hash-stable) and `repetitive` gates at
    * `maxRatio`. Documents with fewer than `n` tokens have no n-grams
    * and report ratio 0 (never flagged).
    *
    * Scale: one narrow n-gram explode, a (doc, gram) partial-aggregating
    * count, and a per-doc max — two hash-aggregate exchanges keyed on the
    * doc id, no windows, no driver state.
    */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String,
                      n: Int = 2, maxRatio: Double = 0.2): DataFrame = {
    val grams = df.select(col(idCol), tokens(col(textCol)).as("__w"))
      .select(col(idCol), explode(
        when(size(col("__w")) >= n, transform(
          sequence(lit(0), size(col("__w")) - n),
          i => concat_ws(" ", slice(col("__w"), i + 1, lit(n)))))
          .otherwise(array().cast("array<string>"))).as("__g"))
    // n_grams = sum of per-gram counts in the SAME aggregation that takes
    // the max, so only the id column feeds the second plan branch (docs
    // with no n-grams must still report a zero row) — the gram branch
    // tokenizes once, and the id branch prunes to a near-free scan.
    // Callers whose df is itself expensive should persist it upstream
    // (no cross-branch CSE in Catalyst).
    val top = grams.groupBy(col(idCol), col("__g")).agg(count(lit(1)).as("__c"))
      .groupBy(col(idCol))
      .agg(max(col("__c")).as("top_n"), sum(col("__c")).as("n_grams"))
    val ratio = when(col("n_grams") > 0,
      col("top_n").cast("double") / col("n_grams")).otherwise(lit(0.0))
    df.select(col(idCol))
      .join(top, Seq(idCol), "left")
      .withColumn("n_grams", coalesce(col("n_grams"), lit(0L)))
      .withColumn("top_n", coalesce(col("top_n"), lit(0L)))
      .withColumn("rep_ratio", ratio)
      .withColumn("repetitive", col("rep_ratio") > maxRatio)
      .select(col(idCol), col("n_grams"), col("top_n"), col("rep_ratio"), col("repetitive"))
  }

  /** Character-bigram Shannon entropy per document — the compressibility
    * quality signal (low entropy = repetitive/boilerplate/degenerate
    * text, high = natural prose; gibberish maximizes it). Uses the
    * algebraic form H = log2(T) - (Σ n·log2 n)/T over per-bigram counts
    * n with T = Σ n, so one narrow explode + two hash aggregations
    * compute it with no second pass over the text. Documents shorter
    * than 2 chars have no bigrams and are omitted (no entropy defined).
    *
    * Scale: the (doc, gram) count partial-aggregates map-side; both
    * exchanges are keyed by the doc id. Same shape as
    * [[repetitionStats]].
    */
  def charBigramEntropy(df: DataFrame, idCol: String, textCol: String,
                        outCol: String = "entropy"): DataFrame = {
    // charGrams(·, 2): same windows the inline transform/substr
    // composition produced, through the imperative kernel (round-18 opt)
    val grams = df
      .select(col(idCol), explode(charGrams(col(textCol), 2)).as("__g"))
    grams.groupBy(col(idCol), col("__g")).agg(count(lit(1)).as("__n"))
      .groupBy(col(idCol))
      .agg(sum(col("__n")).as("__t"),
        sum(col("__n").cast("double") * log2(col("__n").cast("double"))).as("__s"))
      .select(col(idCol),
        (log2(col("__t").cast("double")) - col("__s") / col("__t").cast("double"))
          .as(outCol))
  }

  /** The Gopher quality rule battery (Rae et al. 2021, table A1) as one
    * single-scan columnar projection — the word-level document filters
    * a web-scale corpus runs before anything model-based:
    *
    *   - word count within `[minWords, maxWords]`
    *   - mean word length within [3, 10] characters
    *   - ≤ 10% of words are symbol-ish (contain `#` or `...`)
    *   - ≥ 80% of words contain at least one alphabetic character
    *   - ≤ 90% of lines start like a bullet (`- ` or `•`)
    *   - ≥ 2 stopword hits
    *
    * Every rule is evaluated as an EXACT integer cross-multiplication
    * (`5·alpha ≥ 4·words`, never `alpha/words ≥ 0.8`), so rule outcomes
    * are bit-identical in any engine with no float boundary to sit on.
    * Returns one row per document: the raw counts, each rule's boolean,
    * and the conjunction `passed` — keep the counts, they are what a
    * corpus owner tunes thresholds against.
    *
    * Scale shape: pure narrow projection, no joins, no shuffle; the
    * filter composes map-side with whatever scan feeds it.
    */
  def gopherRules(df: DataFrame, idCol: String, textCol: String,
                  stopwords: Seq[String] = StopwordsEn,
                  minWords: Long = 50, maxWords: Long = 100000): DataFrame = {
    // coalesce on BOTH sides: a null-text document must report zero
    // counts and definite rule outcomes, not NULL booleans (the same
    // asymmetry fix as bleu/rougeN)
    val toks = filter(tokens(coalesce(col(textCol), lit(""))),
      t => length(t) > 0)
    val lines = filter(split(coalesce(col(textCol), lit("")), "\n"),
      l => length(l) > 0)
    df.select(col(idCol), toks.as("__w"), lines.as("__l"))
      .select(col(idCol),
        size(col("__w")).cast("long").as("n_words"),
        aggregate(col("__w"), lit(0L), (acc, t) => acc + length(t))
          .as("n_word_chars"),
        size(filter(col("__w"), t =>
          t.contains("#") || t.contains("..."))).cast("long").as("n_symbol_words"),
        size(filter(col("__w"), t => t.rlike("[A-Za-z]")))
          .cast("long").as("n_alpha_words"),
        size(col("__l")).cast("long").as("n_lines"),
        size(filter(col("__l"), l =>
          l.startsWith("- ") || l.startsWith("•"))).cast("long")
          .as("n_bullet_lines"),
        stopwordHits(col("__w"), stopwords).as("n_stopword_hits"))
      .withColumn("rule_word_count",
        col("n_words") >= minWords && col("n_words") <= maxWords)
      .withColumn("rule_mean_word_len",
        col("n_word_chars") >= lit(3L) * col("n_words") &&
          col("n_word_chars") <= lit(10L) * col("n_words") && col("n_words") > 0)
      .withColumn("rule_symbol_ratio",
        lit(10L) * col("n_symbol_words") <= col("n_words"))
      .withColumn("rule_alpha_ratio",
        lit(5L) * col("n_alpha_words") >= lit(4L) * col("n_words"))
      .withColumn("rule_bullet_ratio",
        lit(10L) * col("n_bullet_lines") <= lit(9L) * col("n_lines"))
      .withColumn("rule_stopwords", col("n_stopword_hits") >= 2)
      .withColumn("passed",
        col("rule_word_count") && col("rule_mean_word_len") &&
          col("rule_symbol_ratio") && col("rule_alpha_ratio") &&
          col("rule_bullet_ratio") && col("rule_stopwords"))
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    * SIGMOD 2003 — the MOSS algorithm): hash every char `k`-gram, then
    * in each sliding window of `w` consecutive hashes select the
    * minimum (rightmost on ties). Guarantee: any substring match of
    * length ≥ k + w − 1 between two documents shares at least one
    * selected fingerprint, at expected density 2/(w+1) — the
    * position-robust plagiarism/content-reuse detector the rolling
    * [[bagOfWordsFingerprint]] (order-invariant, whole-doc) cannot
    * provide. Returns `(idCol, pos, fp)` — distinct selections,
    * 1-based gram position.
    *
    * The "rightmost minimum per window" selection is ONE window pass:
    * `min(struct(hash, −pos))` over a `w`-row frame picks the min hash
    * and, among ties, the largest position — no self-join in the
    * engine (the oracle replays it as the equivalent window + w-bounded
    * join). Hashes are [[graft.ops.Sketch.hash60]] (15 md5 hex chars,
    * positive), so signed/unsigned window minima agree cross-engine.
    * Scale: explode is O(chars); the window partitions by document —
    * no global ordering, no shuffle beyond the per-doc key.
    */
  def winnowingFingerprints(df: DataFrame, idCol: String, textCol: String,
                            k: Int = 5, w: Int = 4): DataFrame = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    require(w >= 1, s"w must be >= 1 (got $w)")
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("__p"))
    val frame = byDoc.rowsBetween(-(w - 1), 0)
    df.filter(length(col(textCol)) >= k)
      .select(col(idCol),
        explode(sequence(lit(1), length(col(textCol)) - (k - 1))).as("__p"),
        col(textCol))
      .select(col(idCol), col("__p"),
        graft.ops.Sketch.hash60(col(textCol).substr(col("__p"), lit(k))).as("__h"))
      .withColumn("__rn", row_number().over(byDoc))
      .withColumn("__sel",
        min(struct(col("__h"), (-col("__p")).as("np"))).over(frame))
      .filter(col("__rn") >= w)
      .select(col(idCol), (-col("__sel.np")).cast("long").as("pos"),
        col("__sel.__h").as("fp"))
      .distinct()
  }

  /** Content-reuse pairs from winnowing fingerprints: an inverted-index
    * equi-join on the fingerprint hash, counting DISTINCT shared
    * fingerprints per document pair. `maxDf` drops fingerprints present
    * in more than that many documents BEFORE the join — MOSS's own
    * "ignore ubiquitous matches" step, and the lever that kills the
    * hot-posting quadratic blowup at corpus scale (a boilerplate gram
    * shared by 10⁵ docs would otherwise emit 10¹⁰ pairs); the df
    * computation is one bounded agg over the fingerprint relation.
    * Returns `(id_a, id_b, n_shared)` with `n_shared >= minShared`,
    * id_a < id_b.
    */
  def winnowingOverlapPairs(fingerprints: DataFrame, idCol: String,
                            maxDf: Int = 20, minShared: Int = 2): DataFrame = {
    require(maxDf >= 2, s"maxDf must be >= 2 (got $maxDf)")
    require(minShared >= 1, s"minShared must be >= 1 (got $minShared)")
    val fp = fingerprints.select(col(idCol).as("__id"), col("fp")).distinct()
      .localCheckpoint()
    val rare = fp.groupBy(col("fp")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDf).select(col("fp"))
    val kept = fp.join(rare, Seq("fp"))
    kept.select(col("__id").as("id_a"), col("fp"))
      .join(kept.select(col("__id").as("id_b"), col("fp")), Seq("fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Pairwise Jensen-Shannon divergence (nats) between every two
    * slices' hashed-unigram distributions — the corpus DRIFT monitor:
    * where [[graft.ops.Sketch.bottomkJaccard]] measures what shingle
    * SETS two slices share, this measures how differently they WEIGHT
    * a shared vocabulary (two crawl snapshots with identical vocab but
    * shifted topic mix have Jaccard ≈ 1 and JSD ≫ 0). Distributions
    * live on the 4096 [[Importance.tokenBucket]] md5 buckets with
    * additive `alpha` smoothing over the full support, so the measure
    * is total (no zero-probability terms), bounded by ln 2, and every
    * term replays in SQL.
    *
    * Scale shape: one corpus scan collapsing map-side to ≤4096 rows
    * per slice (the DSIR distribution shape); everything after —
    * pair enumeration, the 4096-bucket support expansion, the
    * divergence sum — is over |slices|²·4096 bounded rows.
    */
  /** Hashed-unigram bucket counts of `df` per `sliceCol` — the
    * distribution relation [[jsdToReference]] consumes; ≤4096 rows per
    * slice after the map-side collapse. Shared by the batch and
    * streaming drift monitors so their distributions can never drift
    * apart in definition.
    */
  def vocabBuckets(df: DataFrame, sliceCol: String, textCol: String): DataFrame =
    df.select(col(sliceCol).as("__s"),
        explode(filter(tokens(col(textCol)), t => length(t) > 0)).as("__tok"))
      .withColumn("__b", Importance.tokenBucket(col("__tok")))
      .groupBy(col("__s"), col("__b")).agg(count(lit(1)).as("__c"))

  /** JS divergence of every slice's bucket distribution against ONE
    * reference distribution — the production drift-monitor shape: the
    * reference (yesterday's corpus, the accepted baseline) is a ≤4096-
    * row broadcast, and each incoming slice/window compares against it
    * independently. `dist` is [[vocabBuckets]] output (`__s`,`__b`,
    * `__c`); `ref` is `(__b, __c)`. Same full-support smoothing and
    * arithmetic as [[vocabJsDivergence]]. Returns `(slice, jsd)`.
    */
  def jsdToReference(dist: DataFrame, ref: DataFrame,
                     alpha: Double = 1.0): DataFrame = {
    require(alpha > 0, s"alpha must be > 0 (got $alpha)")
    val spark = dist.sparkSession
    val buckets = 4096
    val cnt = dist.localCheckpoint()
    val tot = cnt.groupBy(col("__s")).agg(sum(col("__c")).as("__t"))
    val refTot = ref.agg(sum(col("__c")).as("__rt"))
    val support = broadcast(tot.crossJoin(refTot))
      .crossJoin(spark.range(buckets).select(col("id").cast("int").as("__b")))
    val zp = col("__t") + lit(alpha * buckets)
    val zq = col("__rt") + lit(alpha * buckets)
    support
      .join(cnt, Seq("__s", "__b"), "left")
      .join(broadcast(ref.select(col("__b"), col("__c").as("__rc"))),
        Seq("__b"), "left")
      .withColumn("__p", (coalesce(col("__c"), lit(0L)) + alpha) / zp)
      .withColumn("__q", (coalesce(col("__rc"), lit(0L)) + alpha) / zq)
      .withColumn("__m", (col("__p") + col("__q")) / 2)
      .groupBy(col("__s").as("slice"))
      .agg(round(sum(
        lit(0.5) * col("__p") * log(col("__p") / col("__m")) +
        lit(0.5) * col("__q") * log(col("__q") / col("__m"))), 6).as("jsd"))
  }

  def vocabJsDivergence(df: DataFrame, sliceCol: String, textCol: String,
                        alpha: Double = 1.0): DataFrame = {
    require(alpha > 0, s"alpha must be > 0 (got $alpha)")
    val spark = df.sparkSession
    val buckets = 4096
    val cnt = df.select(col(sliceCol).as("__s"),
        explode(filter(tokens(col(textCol)), t => length(t) > 0)).as("__tok"))
      .withColumn("__b", Importance.tokenBucket(col("__tok")))
      .groupBy(col("__s"), col("__b")).agg(count(lit(1)).as("__c"))
      .localCheckpoint()
    val tot = cnt.groupBy(col("__s")).agg(sum(col("__c")).as("__t"))
    val slices = cnt.select(col("__s")).distinct()
    val pairs = slices.select(col("__s").as("slice_a"))
      .crossJoin(slices.select(col("__s").as("slice_b")))
      .filter(col("slice_a") < col("slice_b"))
      .join(tot.select(col("__s").as("slice_a"), col("__t").as("__ta")), Seq("slice_a"))
      .join(tot.select(col("__s").as("slice_b"), col("__t").as("__tb")), Seq("slice_b"))
    val support = broadcast(pairs)
      .crossJoin(spark.range(buckets).select(col("id").cast("int").as("__b")))
    val za = col("__ta") + lit(alpha * buckets)
    val zb = col("__tb") + lit(alpha * buckets)
    support
      .join(cnt.select(col("__s").as("slice_a"), col("__b"), col("__c").as("__ca")),
        Seq("slice_a", "__b"), "left")
      .join(cnt.select(col("__s").as("slice_b"), col("__b"), col("__c").as("__cb")),
        Seq("slice_b", "__b"), "left")
      .withColumn("__p", (coalesce(col("__ca"), lit(0L)) + alpha) / za)
      .withColumn("__q", (coalesce(col("__cb"), lit(0L)) + alpha) / zb)
      .withColumn("__m", (col("__p") + col("__q")) / 2)
      .groupBy(col("slice_a"), col("slice_b"))
      .agg(round(sum(
        lit(0.5) * col("__p") * log(col("__p") / col("__m")) +
        lit(0.5) * col("__q") * log(col("__q") / col("__m"))), 6).as("jsd"))
  }
}
