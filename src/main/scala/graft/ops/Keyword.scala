package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._

import graft.Tables.pinned

/** Keyword (lexical) retrieval: corpus-statistics BM25 scoring and
  * reciprocal-rank fusion — the lexical half of hybrid search. The
  * reference retrieves by vector similarity only
  * (`src/server/agents/chatbot.py:188-210`), but a production RAG/
  * training-data stack pairs that with a BM25 leg and fuses the two
  * rankings; both legs and the fusion are pure relational algebra, so
  * they belong in the engine.
  *
  * Scale shape: document length comes from the token array WITHOUT a
  * full-corpus token explode — only tokens matching the (tiny) query
  * term set are exploded, so the heavy shuffle is O(matches), not
  * O(corpus tokens). The tokenized projection is cached and the corpus
  * stats (N, avg doclen) are taken as driver literals on the same
  * action, so the corpus parquet is scanned ONCE per query — without
  * the cache, Catalyst re-derives the tokenize subtree under the stats
  * aggregation, the document-frequency broadcast, and the final join
  * (three scans; at 100 TB two of them are pure waste). Per-term
  * document frequencies are broadcast; the final top-k is a
  * TakeOrderedAndProject.
  */
object Keyword {

  /** The BM25 per-(doc, term) score expression — ONE definition shared
    * by the scan, indexed, single-query, and batch paths, whose
    * bit-for-bit parity is a spec'd and oracle-pinned contract
    * (`bm25_indexed_topk` shares `bm25_topk`'s oracle; batch ≡
    * per-question in the dispatch specs). Robertson/Sparck-Jones with
    * the +1 idf floor:
    * `idf = ln(1 + (N - df + 0.5)/(df + 0.5))`,
    * `score = idf · tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))`.
    */
  private def termScore(tf: Column, dl: Column, df: Column,
                        nDocs: Long, avgdl: Double, k1: Double, b: Double): Column = {
    val idf = log(lit(1.0) + (lit(nDocs) - df + lit(0.5)) / (df + lit(0.5)))
    val denom = tf + lit(k1) * (lit(1.0) - lit(b) + lit(b) * dl / lit(avgdl))
    idf * (tf * lit(k1 + 1.0)) / denom
  }

  /** BM25 score of every document containing at least one of
    * `queryTerms`, highest first, top `topK`. Output: `(idCol,
    * bm25 DOUBLE)` with the score rounded to 6 decimals; RANKING runs on
    * the rounded score with an id tiebreak — deliberately, because the
    * DuckDB oracle evaluates the same formula in a different engine and
    * last-ulp divergence on the raw double could flip which documents
    * make the top-k cut; rounding first makes the cut itself
    * cross-engine stable (same convention as the vector-search queries,
    * whose oracles also order by the rounded score).
    *
    * Standard Robertson/Sparck-Jones BM25 with the +1 idf floor
    * (Lucene's variant, always positive):
    * `idf = ln(1 + (N - df + 0.5)/(df + 0.5))`,
    * `score = Σ_t idf_t · tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))`.
    *
    * Eager: the corpus stats land as plan literals ([[withBm25Corpus]])
    * and the tiny top-k result is localCheckpoint-materialized.
    */
  def bm25(docs: DataFrame, idCol: String, textCol: String, queryTerms: Seq[String],
           k1: Double = 1.2, b: Double = 0.75, topK: Int = 10): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    withBm25Corpus(docs, idCol, textCol, queryTerms) { (nDocs, avgdl, tf, df) =>
      tf.join(broadcast(df), "__term")
        .withColumn("__s",
          termScore(col("__tf"), col("__dl"), col("__df"), nDocs, avgdl, k1, b))
        .groupBy(col(idCol))
        .agg(sum(col("__s")).as("__raw"))
        // bm25 passes through ln (idf) — transcendental, so round(6) is
        // the score convention here and at every other bm25 site; exact
        // integer ratios leave as micros instead
        .select(col(idCol), round(col("__raw"), 6).as("bm25"))
        .orderBy(col("bm25").desc, col(idCol))
        .limit(topK)
        .localCheckpoint()
    }
  }

  /** The corpus prelude of [[bm25]] and [[bm25BatchRank]], which differ
    * only in `terms`: the tokenized projection (id, doclen, hits of
    * `terms` — small per row) pinned, N and avgdl taken as plan
    * literals from one stats action that also populates the pin, and
    * `body` run on (N, avgdl, per-(doc, term) tf, per-term df). avgdl
    * is over the WHOLE corpus (docs with zero term hits count), and no
    * stats subtree survives in the result plan to re-derive the scan.
    */
  private def withBm25Corpus[T](docs: DataFrame, idCol: String, textCol: String,
                                terms: Seq[String])(
      body: (Long, Double, DataFrame, DataFrame) => T): T =
    pinned(docs
        .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("__w"))
        .select(col(idCol), size(col("__w")).cast("long").as("__dl"),
          filter(col("__w"), t => t.isin(terms: _*)).as("__qw"))) { base =>
      val statsRow = base.agg(count(lit(1)), sum(col("__dl"))).head()
      val nDocs = statsRow.getLong(0)
      val sumdl = if (statsRow.isNullAt(1)) 0L else statsRow.getLong(1)
      val avgdl = if (nDocs == 0) 1.0 else sumdl.toDouble / nDocs
      val tf = base
        .select(col(idCol), col("__dl"), explode(col("__qw")).as("__term"))
        .groupBy(col(idCol), col("__dl"), col("__term"))
        .agg(count(lit(1)).as("__tf"))
      body(nDocs, avgdl, tf, tf.groupBy(col("__term")).agg(count(lit(1)).as("__df")))
    }

  /** Positional exact-phrase search: documents containing the
    * `phrase` word sequence contiguously, with occurrence counts and the
    * first match position — the phrase-query capability a bag-of-words
    * BM25 can't express (the lexical sidecar stores per-(term,doc)
    * aggregates; phrase matching needs positions).
    *
    * Plan shape: ONE pass — positional postings `(doc, pos, term)` from
    * one posexplode, filtered to the m phrase terms AT THE SCAN
    * (everything else never leaves the projection); each posting emits
    * one `(start = pos − i, leg = i)` row per phrase slot i its term
    * occupies (a transform+filter+explode over the literal phrase — no
    * per-leg plan branches, no re-scan); a start is a real occurrence
    * iff all m legs agree ⇒ one hash-aggregate on (doc, start) and one
    * on doc — two narrow shuffles total, no self-join chain. The
    * (doc, start, leg) triples are UNIQUE by construction (token
    * positions are unique within a doc), so plain `count` equals the
    * distinct-leg count without a dedup round. Hot terms inflate only
    * their own postings, never a join key; the exchange volume is
    * Σ tf(term_i) — what an inverted index would read for the query.
    *
    * A repeated term in the phrase contributes one leg per position it
    * occupies ("a b a" needs 'a' at start AND start+2). Matching is
    * case-sensitive whitespace-token equality —
    * [[TextAnalysis.tokens]], the corpus-wide tokenizer contract.
    */
  def phraseSearch(docs: DataFrame, idCol: String, textCol: String,
                   phrase: Seq[String]): DataFrame = {
    val postings = docs
      .select(col(idCol),
        posexplode(TextAnalysis.tokens(coalesce(col(textCol), lit("")))))
      .toDF(idCol, "__pos", "__term")
      .filter(col("__term").isInCollection(phrase.distinct))
    phraseAgree(postings, idCol, "__pos", "__term", phrase)
  }

  /** The leg-agreement tail shared by [[phraseSearch]] (scan postings)
    * and [[phraseSearchIndexed]] (sidecar postings): expand each
    * `(id, pos, term)` row into its matching (start, leg) slots, then
    * the two-aggregate agreement count.
    */
  private def phraseAgree(postings: DataFrame, idCol: String, posCol: String,
                          termCol: String, phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must be non-empty")
    require(phrase.forall(_.nonEmpty), "phrase terms must be non-empty")
    val m = phrase.length
    val phraseLit = array(phrase.map(lit): _*)
    val slots = filter(
      transform(sequence(lit(0), lit(m - 1)),
        i => struct((col(posCol) - i).as("start"), i.as("leg"))),
      x => element_at(phraseLit, x("leg") + 1) === col(termCol) &&
        x("start") >= 0)
    postings
      .select(col(idCol), explode(slots).as("__sl"))
      .select(col(idCol), col("__sl.start").as("__start"))
      .groupBy(col(idCol), col("__start"))
      .agg(count(lit(1)).as("__hits"))
      .filter(col("__hits") === m)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_matches"),
        min(col("__start")).cast("long").as("first_pos"))
  }

  /** Bucket count sized to the corpus (round 19, guide §6 small files /
    * §2.2): the bucket layout exists for term-pruned reads at scale, but
    * a FIXED 64 buckets makes a 5k-doc corpus write 64 near-empty
    * parquet directories (measured: the bucket-partitioned write was the
    * dominant job of rag_e2e's index build) while a billion-doc corpus
    * would under-partition. One bucket per ~16Ki docs, clamped to
    * [8, 4096]; the count is recorded in `_stats`, so readers and
    * incremental appenders keep following whatever the build chose.
    * Callers pass an explicit count to pin it (tests, fixtures).
    */
  private[ops] def bucketsForCorpus(n: Long): Int =
    math.min(4096L, math.max(8L, (n + 16383) >> 14)).toInt

  /** Positional inverted index for [[phraseSearchIndexed]] — the
    * position-aware sibling of [[buildLexicalIndex]] (the bag-of-words
    * postings can't serve phrase queries). Writes
    * `path/postings`: `(term, id, positions ARRAY<INT>)` partitioned by
    * `bucket = xxhash64(term) % buckets` (a phrase's term set prunes to
    * its buckets at the file index), and `path/_stats`: `"N buckets
    * stamp"`. Positions are 0-based token offsets in ascending order.
    *
    * Same store-stamp discipline as the lexical index: built FOR a
    * [[VersionedStore]] table it refuses to serve once the store moves
    * (stamp checked by the query path); stats retire first so a
    * mid-build failure leaves an index that refuses, never one serving
    * partial postings. [[appendToPositionalIndexForStore]] folds
    * appended rows in O(new docs) — positional postings are
    * per-(doc, term) facts exactly like the lexical ones.
    */
  def buildPositionalIndex(docs: DataFrame, idCol: String, textCol: String,
                           path: String, buckets: Int = 0,
                           store: Option[String] = None): Unit = {
    val spark = docs.sparkSession
    val stamp = store.map(t => (t, VersionedStore.currentState(spark, t)
      .map(_.version).getOrElse(0L)))
    retireStats(spark, path)
    val (n, bk) = writePositionalPostings(docs, idCol, textCol, path, buckets,
      "overwrite")
    stamp.foreach { case (table, v0) =>
      val v1 = VersionedStore.currentState(spark, table).map(_.version).getOrElse(0L)
      require(v1 == v0,
        s"store $table moved from version $v0 to $v1 during the index build — " +
          "the postings describe a superseded snapshot; rebuild")
    }
    graft.Fs.writeString(spark, s"$path/_stats",
      s"$n $bk ${stamp.map("v" + _._2).getOrElse("-")}")
  }

  /** Tokenize `docs` and write `(term, id, positions)` rows into
    * `path/postings` under the bucket layout; returns the doc count of
    * exactly the rows written. Shared by the full build ("overwrite")
    * and the incremental appender ("append" — per-(doc, term) facts, so
    * new-doc rows land next to the old ones and query-time matching
    * needs no merge step).
    */
  private def writePositionalPostings(docs: DataFrame, idCol: String,
                                      textCol: String, path: String,
                                      buckets: Int, mode: String): (Long, Int) = {
    val toks = docs
      .select(col(idCol).as("id"),
        posexplode(TextAnalysis.tokens(coalesce(col(textCol), lit("")))))
      .toDF("id", "__pos", "term")
      .filter(length(col("term")) > 0)
    val n = docs.count()
    val bk = if (buckets > 0) buckets else bucketsForCorpus(n)
    toks.groupBy(col("term"), col("id"))
      .agg(array_sort(collect_list(col("__pos").cast("int"))).as("positions"))
      .withColumn("bucket", pmod(xxhash64(col("term")), lit(bk)).cast("int"))
      .repartition(col("bucket")) // bounded file count, as in writePostings
      .write.mode(mode).partitionBy("bucket").parquet(s"$path/postings")
    (n, bk)
  }

  /** Incremental positional-index maintenance — the
    * [[appendToLexicalIndexForStore]] contract verbatim: fold the rows
    * appended to `table` since the index's stamp and advance it;
    * O(new docs) tokenize + append, exact (per-(doc, term) facts, no
    * merge step), valid only over pure-append history (a compaction
    * fails loudly — rebuild), stamp-first crash-safety.
    */
  def appendToPositionalIndexForStore(spark: org.apache.spark.sql.SparkSession,
                                      table: String, idCol: String,
                                      textCol: String, path: String): Unit = {
    val stats = graft.Fs.readString(spark, s"$path/_stats").trim.split(" ")
    require(stats.length >= 3, s"damaged _stats at $path — rebuild")
    val (n0, buckets, stamp) = (stats(0).toLong, stats(1).toInt, stats(2))
    require(stamp.startsWith("v"),
      s"positional index at $path carries no store stamp — incremental " +
        "maintenance needs the build-time snapshot version; rebuild with " +
        "buildPositionalIndex(store = ...)")
    VersionedStore.appendedSince(spark, table, stamp.drop(1).toLong, "positional index",
      "incremental postings would double-count rewritten rows; rebuild").foreach {
      case (version, newSegs) =>
        retireStats(spark, path) // stamp-first crash-safety
        val nNew =
          if (newSegs.isEmpty) 0L
          else writePositionalPostings(VersionedStore.readSegments(spark, table, newSegs),
            idCol, textCol, path, buckets, "append")._1
        graft.Fs.writeString(spark, s"$path/_stats", s"${n0 + nNew} $buckets v$version")
    }
  }

  /** [[phraseSearch]] served from a [[buildPositionalIndex]] sidecar:
    * the same one-shuffle leg-agreement plan, but the legs read ONLY the
    * phrase terms' postings — bucket partition pruning at the file
    * index plus a term filter inside each bucket; the corpus text is
    * never touched. Output matches [[phraseSearch]] column for column
    * (`id`, n_matches, first_pos), and serving a maintained index is
    * bit-identical to the scan path (spec'd).
    *
    * `store`: when given, refuses to serve if the store's manifest
    * version moved past the index stamp (the [[bm25Indexed]] staleness
    * contract).
    */
  def phraseSearchIndexed(spark: org.apache.spark.sql.SparkSession,
                          indexPath: String, phrase: Seq[String],
                          store: Option[String] = None): DataFrame = {
    require(phrase.nonEmpty, "phrase must be non-empty")
    require(phrase.forall(_.nonEmpty), "phrase terms must be non-empty")
    val stats = graft.Fs.readString(spark, s"$indexPath/_stats").trim.split(" ")
    require(stats.length >= 3, s"damaged _stats at $indexPath — rebuild")
    val buckets = stats(1).toInt
    val stamp = stats(2)
    store.foreach { t =>
      val v = VersionedStore.currentState(spark, t).map(_.version).getOrElse(0L)
      require(stamp == s"v$v",
        s"positional index at $indexPath is stamped $stamp but store $t is at " +
          s"v$v — stale index; rebuild")
    }
    val terms = phrase.distinct
    val flat = readPostings(spark, indexPath)
      .filter(col("bucket").isin(bucketsOfTerms(terms, buckets): _*) &&
        col("term").isInCollection(terms))
      .select(col("id"), col("term"), explode(col("positions")).as("__p"))
    phraseAgree(flat, "id", "__p", "term", phrase)
  }

  /** The bucket ids [[buildPositionalIndex]]/[[writePostings]] assign
    * the given terms, distinct, in first-seen order: the writers'
    * Catalyst expression `pmod(xxhash64(term), buckets)` (whose `buckets`
    * the analyzer widens to BIGINT, as here) evaluated on the driver, so
    * build and probe share one partitioning function and no DataFrame is
    * built.
    */
  private[graft] def bucketsOfTerms(terms: Seq[String], buckets: Int): Seq[Int] = {
    import org.apache.spark.sql.catalyst.expressions.{Pmod, XxHash64}
    terms.map(t => Pmod(new XxHash64(Seq(Literal(t))), Literal(buckets.toLong)).eval()
      .asInstanceOf[Long].toInt).distinct
  }

  /** A lexical or positional index's commit point as one query read it:
    * the `_stats` text and its modification time. Every build, rebuild
    * and incremental maintenance retires `_stats` before it touches the
    * postings and writes it again after ([[retireStats]]), so the pair
    * names one postings state, in this process or any other: an append
    * changes the text, a rebuild in place the modification time. That
    * last holds only where the rebuild lands at a later time than the
    * build it replaces reads: on a filesystem whose mtime grain is one
    * second, two writes of identical `_stats` text within that second
    * look like one state.
    */
  private final case class IndexState(text: String, modTime: Long) {
    def fields: Array[String] = text.trim.split(" ")
  }

  private def indexState(spark: org.apache.spark.sql.SparkSession,
                         indexPath: String): IndexState = {
    val p = s"$indexPath/_stats"
    // text first: a commit landing between the reads pairs the old text
    // with the new time, which keys a fresh resolution, never a stale one
    val text = graft.Fs.readString(spark, p)
    IndexState(text, graft.Fs.modTime(spark, p))
  }

  /** Retire an index's commit point before its postings change: delete
    * `_stats` (a build or maintenance that fails after this leaves an
    * index that refuses to serve) and drop the prepared plans kept for
    * `path`. The next `_stats` keys a new state anyway; dropping them is
    * the belt and braces `vacuum` wears with `ParquetIO.invalidate`.
    */
  private def retireStats(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    graft.Fs.delete(spark, s"$path/_stats")
    graft.PreparedPlans.invalidate(path)
  }

  /** The `postings` table of a lexical or positional index — the one
    * reader every index query goes through. The data schema comes from
    * one parquet footer ([[graft.ParquetFooters.sparkSchema]]) plus the
    * `bucket` partition column both builds write, so the read runs no
    * schema-inference job. A postings directory holding no data file
    * falls through to Spark's inference, which fails loudly. A prepared
    * [[bm25Indexed]] plan holds the relation it read, so a later query
    * at the same index state reads no footer, lists no bucket directory
    * and builds no relation.
    */
  private def readPostings(spark: org.apache.spark.sql.SparkSession,
                           indexPath: String): DataFrame = {
    val dir = s"$indexPath/postings"
    graft.ParquetFooters.sparkSchema(spark, dir) match {
      case Some(data) =>
        spark.read.schema(data.add("bucket", org.apache.spark.sql.types.IntegerType))
          .parquet(dir)
      case None => spark.read.parquet(dir)
    }
  }

  /** Build the persistent lexical index for [[bm25Indexed]]: the
    * production shape for a store queried repeatedly, where [[bm25]]'s
    * per-query corpus scan (tokenize + filter) is the dominant cost.
    * Pays the full tokenize + explode ONCE at build time and writes:
    *
    *   - `path/postings`: `(term, id, tf, dl)` — the inverted index,
    *     partitioned by `bucket = xxhash64(term) % buckets` so a query's
    *     term set prunes to its buckets at the file index (plus row-group
    *     term stats inside each bucket). The document length rides ON the
    *     posting (standard impact-ordered-index denormalization, +8 bytes
    *     per posting) so query-time length normalization never touches a
    *     corpus-sized table — query cost is strictly O(matched postings);
    *   - `path/_stats`: `"N sumdl buckets stamp"` — corpus totals plus the
    *     staleness stamp, one tiny text file, so query time reads no
    *     corpus-sized aggregate at all.
    *
    * The analog of the reference's persistent store index (S16,
    * `src/server/utils/embedding.py:348-368`) for the lexical leg — and
    * like the reference, which rebuilds its index after every merge,
    * the sidecar describes the corpus AS OF BUILD TIME. Pass `store`
    * (the [[VersionedStore]] table `docs` was read from) to stamp the
    * store's manifest version into `_stats`: [[bm25Indexed]] given the
    * same store then REFUSES to serve once the store has moved on,
    * instead of silently ranking without the appended rows (the exact
    * [[Ivf.requireModelMatch]] treatment for the lexical leg). If the
    * store commits a new version mid-build the build itself fails —
    * a stamp must never promise a snapshot the index doesn't hold.
    * Without `store` (a plain parquet corpus) the stamp is `-` and
    * staleness is the caller's contract.
    */
  def buildLexicalIndex(docs: DataFrame, idCol: String, textCol: String,
                        path: String, buckets: Int = 0,
                        store: Option[String] = None): Unit = {
    val spark = docs.sparkSession
    buildIndexImpl(docs, idCol, textCol, path, buckets,
      store.map(t => (t, VersionedStore.currentState(spark, t)
        .map(_.version).getOrElse(0L))))
  }

  /** [[buildLexicalIndex]] with the store snapshot taken INSIDE the
    * build, in stamp-safe order: the version is captured strictly BEFORE
    * the rows are read, so the stamp can never claim a newer snapshot
    * than the postings hold (the dangerous direction — a stale index
    * serving as fresh). Any commit landing between the capture and the
    * sidecar write fails the build loudly; rebuild. Prefer this over
    * passing store-read rows to [[buildLexicalIndex]] yourself, where a
    * commit between YOUR read and the build call slips under the stamp
    * (that variant's end-of-build recheck only catches commits after
    * ITS version capture).
    */
  def buildLexicalIndexForStore(spark: org.apache.spark.sql.SparkSession,
                                table: String, idCol: String, textCol: String,
                                path: String, buckets: Int = 0): Unit = {
    val v0 = VersionedStore.currentState(spark, table).map(_.version).getOrElse(0L)
    val docs = VersionedStore.read(spark, table).getOrElse(
      throw new IllegalStateException(s"no rows to index at $table"))
    buildIndexImpl(docs, idCol, textCol, path, buckets, Some((table, v0)))
  }

  private def buildIndexImpl(docs: DataFrame, idCol: String, textCol: String,
                             path: String, buckets: Int,
                             storeStamp: Option[(String, Long)]): Unit = {
    val spark = docs.sparkSession
    // retire the previous stats FIRST: the postings overwrite below is
    // not atomic with the stats write, so a build that fails mid-way
    // (including the moved-during-build recheck) must leave an index
    // that refuses to serve ("no stats") rather than one that silently
    // scores fresh postings under the superseded corpus totals
    retireStats(spark, path)
    val (n, sumdl, bk) = writePostings(docs, idCol, textCol, path, buckets, "overwrite")
    storeStamp.foreach { case (table, v0) =>
      val v1 = VersionedStore.currentState(spark, table).map(_.version).getOrElse(0L)
      require(v1 == v0,
        s"store $table moved from version $v0 to $v1 during the index build — " +
          "the postings describe a superseded snapshot; rebuild")
    }
    graft.Fs.writeString(spark, s"$path/_stats",
      s"$n $sumdl $bk ${storeStamp.map("v" + _._2).getOrElse("-")}")
  }

  /** Tokenize `docs` and write their `(term, id, tf, dl)` postings into
    * `path/postings` under the bucket layout; returns (nDocs, Σdl) of
    * exactly the rows written. Shared by the full build ("overwrite")
    * and the incremental appender ("append" — postings rows are
    * per-(doc, term) facts, so new-doc rows land next to the old ones
    * and query-time df/tf aggregation needs no merge step at all).
    */
  private def writePostings(docs: DataFrame, idCol: String, textCol: String,
                            path: String, buckets: Int, mode: String): (Long, Long, Int) = {
    pinned(docs.select(col(idCol).as("id"),
        TextAnalysis.tokens(col(textCol)).as("__w"))) { toks =>
      // one action populates the cache and yields the stats totals
      val statsRow = toks.agg(count(lit(1)), sum(size(col("__w")).cast("long"))).head()
      val n = statsRow.getLong(0)
      val sumdl = if (statsRow.isNullAt(1)) 0L else statsRow.getLong(1)
      val bk = if (buckets > 0) buckets else bucketsForCorpus(n)
      toks.select(col("id"), size(col("__w")).cast("long").as("dl"),
          explode(col("__w")).as("term"))
        .groupBy(col("term"), col("id"), col("dl")).agg(count(lit(1)).as("tf"))
        .withColumn("bucket", pmod(xxhash64(col("term")), lit(bk)).cast("int"))
        // co-locate each bucket before the Hive-partitioned write: without
        // this every write task spills a file into every bucket directory —
        // O(tasks × buckets) small files, a real file-index cost at scale;
        // with it each bucket is one task's output (one exchange of narrow
        // posting rows buys a bounded file count)
        .repartition(col("bucket"))
        .write.mode(mode).partitionBy("bucket").parquet(s"$path/postings")
      (n, sumdl, bk)
    }
  }

  /** Incremental index maintenance: fold the rows appended to `table`
    * since the index's stamp into an existing [[buildLexicalIndexForStore]]
    * index, and advance the stamp — O(new docs) tokenize + postings
    * append instead of the full O(corpus) rebuild, the lexical analog of
    * [[Ivf.appendAssigned]]. Exact, not approximate: postings are
    * per-(doc, term) facts and df/N/avgdl are derived at query time /
    * from the stats sidecar, so serving the maintained index is
    * bit-for-bit identical to a fresh rebuild at the same store version.
    *
    * Valid ONLY while the store history since the stamp is pure append —
    * a compaction/repair/re-index rewrites old rows into new segments,
    * and appending postings for those would double-count every rewritten
    * doc; that history fails loudly (rebuild). Crash-safety follows the
    * build's stamp-first discipline: `_stats` is retired before postings
    * are appended, so a maintenance that dies mid-way leaves an index
    * that refuses to serve, never one scoring partial postings under
    * stale totals.
    */
  def appendToLexicalIndexForStore(spark: org.apache.spark.sql.SparkSession,
                                   table: String, idCol: String, textCol: String,
                                   path: String): Unit = {
    val stats = graft.Fs.readString(spark, s"$path/_stats").trim.split(" ")
    val (n0, sumdl0, buckets) = (stats(0).toLong, stats(1).toLong, stats(2).toInt)
    val stamp = if (stats.length >= 4) stats(3) else "-"
    require(stamp.startsWith("v"),
      s"lexical index at $path carries no store stamp — incremental maintenance " +
        "needs the build-time snapshot version; rebuild with buildLexicalIndexForStore")
    VersionedStore.appendedSince(spark, table, stamp.drop(1).toLong, "lexical index",
      "a compaction/repair/re-index rewrote segments the index already covers, " +
        "and incremental postings would double-count rewritten rows; rebuild " +
        "with buildLexicalIndexForStore").foreach { case (version, newSegs) =>
      // stamp-first: a failure below leaves a loud no-stats index
      retireStats(spark, path)
      val (nNew, sumdlNew) =
        if (newSegs.isEmpty) (0L, 0L)
        else {
          val (a, b, _) = writePostings(VersionedStore.readSegments(spark, table, newSegs),
            idCol, textCol, path, buckets, "append")
          (a, b)
        }
      // no moved-during-maintenance recheck needed, unlike the build: the
      // rows came from EXPLICIT immutable segment directories, so this run
      // is snapshot-isolated by construction — a commit landing meanwhile
      // just means the stamped version is already behind, which the
      // query-time staleness guard reports and the NEXT incremental run
      // folds in (segments are never mutated; vacuum only reclaims
      // segments retired from the live set, which pure-append never does)
      graft.Fs.writeString(spark, s"$path/_stats",
        s"${n0 + nNew} ${sumdl0 + sumdlNew} $buckets v$version")
    }
  }

  /** The lexical-registration sidecar inside a [[VersionedStore]] table
    * (underscore-named: invisible to the file index). Content: three
    * lines — index path, id column, text column. Its presence makes
    * every writer coming through [[Ingest.appendRespectingLayout]] (all
    * batch AND streaming writers) maintain the index automatically.
    */
  def lexicalMarkerPath(table: String): String = s"$table/_lexical"

  /** Register a lexical index to `table` and (re)build it fresh — from
    * here on the append seam keeps it maintained: each append folds its
    * own rows in (O(new docs), [[appendToLexicalIndexForStore]]) and a
    * compaction restamps in O(1) when provably exact, so a continuously
    * ingested store serves [[bm25Indexed]] without ever tripping the
    * staleness guard. The registration builds BEFORE writing the marker:
    * a half-registered state is an unmarked (ignored) index, never a
    * marked-but-missing one.
    */
  def registerLexicalIndex(spark: org.apache.spark.sql.SparkSession,
                           table: String, idCol: String, textCol: String,
                           indexPath: String): Unit =
    SidecarRegistry.register(spark, table, SidecarRegistry.LexicalIndex,
      SidecarRegistry.Registration(indexPath, idCol, textCol))

  /** [[bm25]] against a [[buildLexicalIndex]] sidecar instead of the
    * corpus: scores and ranking are IDENTICAL (same formula, same
    * rounded-rank + id tiebreak), but the plan touches no corpus text —
    * the term set prunes the postings table to its hash buckets
    * (partition pruning + row-group term stats), document frequencies
    * aggregate from those postings, document length rides on each
    * posting, and corpus totals are literals from the stats file.
    * Repeated queries therefore scale with O(matched postings), not
    * O(corpus) — no per-query touch grows with the corpus at all.
    *
    * Staleness contract: pass `store` (the [[VersionedStore]] table the
    * index was built over) and the query REQUIRES the index's build-time
    * stamp to equal the store's current manifest version — an append
    * since the build makes new docs invisible and df/N/avgdl wrong, so
    * a stale index is a loud error demanding a rebuild, never silently
    * wrong rankings (the reference rebuilds its index after every
    * merge, `src/server/utils/embedding.py:348-368`; this is the
    * query-side enforcement of that contract). Passing `store` to an
    * index built without one fails too: an unstamped index makes no
    * snapshot promise, so it cannot back a versioned-store query.
    *
    * Reuse per index state: the plan is a prepared plan
    * ([[graft.PreparedPlans]]) keyed by the index path, its `_stats`
    * text and modification time, the term and bucket counts (each
    * padded to a multiple of 8, [[graft.PreparedPlans.inList]]),
    * `topK`, `k1`, `b` and `idName`. It is analyzed once per key, over
    * the postings relation the first query of that state read
    * ([[readPostings]]); each query binds its terms and their buckets
    * into it. The staleness check reads `_stats` on every query.
    */
  def bm25Indexed(spark: org.apache.spark.sql.SparkSession, indexPath: String,
                  queryTerms: Seq[String], k1: Double = 1.2, b: Double = 0.75,
                  topK: Int = 10, idName: String = "id",
                  store: Option[String] = None): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val st = indexStats(spark, indexPath, store)
    val buckets = graft.PreparedPlans.inList(bucketsOfTerms(queryTerms, st.buckets).map(Literal(_)))
    graft.PreparedPlans.dataset(spark, indexPath,
      (st.state, topK, k1, b, idName),
      buckets ++ graft.PreparedPlans.inList(queryTerms.map(Literal(_)))) { slots =>
      val (bucketCols, termCols) = slots.splitAt(buckets.size)
      val tf = indexedPostings(spark, indexPath, st, bucketCols, termCols)
      val df = tf.groupBy(col("term")).agg(count(lit(1)).as("__df"))
      tf.join(broadcast(df), "term")
        .withColumn("__s",
          termScore(col("tf"), col("dl"), col("__df"), st.nDocs, st.avgdl, k1, b))
        .groupBy(col("id"))
        .agg(sum(col("__s")).as("__raw"))
        .select(col("id").as(idName), round(col("__raw"), 6).as("bm25"))
        .orderBy(col("bm25").desc, col(idName))
        .limit(topK)
    }
  }

  /** Batch [[bm25Indexed]]: rank every query's term set from a
    * [[buildLexicalIndex]] sidecar — the serving shape for a request
    * batch against a maintained index: ONE pruned postings read for the
    * union of all term sets (no corpus touch at all), the same staleness
    * contract as [[bm25Indexed]] (`store`), per question identical
    * scores/ranking to [[bm25]]/[[bm25Indexed]]. `queryTerms` carries
    * `(qid, term)` pairs (deduplicated here — a duplicate would double
    * its term's contribution); output `(qidName, id, rank)` with
    * rank ≤ `topKPerQuery`.
    */
  def bm25IndexedBatchRank(spark: org.apache.spark.sql.SparkSession, indexPath: String,
                           queryTerms: DataFrame, k1: Double = 1.2, b: Double = 0.75,
                           topKPerQuery: Int = 10,
                           store: Option[String] = None): DataFrame = {
    val Seq(qidName, termName) = queryTerms.columns.toSeq
    // deduped defensively: a duplicate (qid, term) pair would silently
    // double that term's contribution through the fan-out join
    val queryTermsD = queryTerms.distinct()
    val allTerms = queryTermsD.select(col(termName)).distinct()
      .collect().map(_.getString(0)).toSeq
    require(allTerms.nonEmpty, "queryTerms must carry at least one (qid, term) pair")
    val st = indexStats(spark, indexPath, store)
    val tf = indexedPostings(spark, indexPath, st,
      bucketsOfTerms(allTerms, st.buckets).map(lit), allTerms.map(lit))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("__df"))
    val scored = tf.join(broadcast(df), "term")
      .join(broadcast(queryTermsD.withColumnRenamed(termName, "term")), "term")
      .withColumn("__s",
        termScore(col("tf"), col("dl"), col("__df"), st.nDocs, st.avgdl, k1, b))
      .groupBy(col(qidName), col("id"))
      .agg(sum(col("__s")).as("__raw"))
      .select(col(qidName).as("__qid"), col("id"), round(col("__raw"), 6).as("__bm25"))
    Similarity.boundedRank(scored, qidName, "id", topKPerQuery, "COSINE", "__bm25", "rank")
      .select(col(qidName), col("id"), col("rank"))
  }

  /** A lexical index's `_stats` as one query read it: its state
    * ([[IndexState]]) and the corpus totals it holds.
    */
  private final case class IndexStats(state: IndexState, nDocs: Long, sumdl: Long,
                                      buckets: Int) {
    def avgdl: Double = if (nDocs == 0) 1.0 else sumdl.toDouble / nDocs
  }

  /** Staleness-guarded `_stats` read shared by the pruned query path
    * ([[bm25Indexed]], [[bm25IndexedBatchRank]]) and the unpruned mining
    * path ([[prfExpandTermsIndexed]]); runs on every query, whatever the
    * query reuses.
    */
  private def indexStats(spark: org.apache.spark.sql.SparkSession, indexPath: String,
                         store: Option[String]): IndexStats = {
    val state = indexState(spark, indexPath)
    val stats = state.fields
    // pre-dl-on-posting indexes wrote a 3-field _stats and a doclen/ dir;
    // serving one would die deep in Catalyst on the missing `dl` posting
    // column — detect the layout here and name the remedy instead
    require(stats.length >= 4 && !graft.Fs.exists(spark, s"$indexPath/doclen"),
      s"old lexical index format at $indexPath (3-field _stats / separate doclen " +
        "directory, predating dl-on-posting) — rebuild with buildLexicalIndex")
    val stamp = stats(3)
    store.foreach { t =>
      require(stamp.startsWith("v"),
        s"lexical index at $indexPath carries no store stamp — it was not built " +
          s"against a versioned store, so it cannot serve queries for $t; rebuild " +
          "with buildLexicalIndex(..., store = Some(table))")
      val cur = VersionedStore.currentState(spark, t).map(_.version).getOrElse(0L)
      require(stamp.drop(1).toLong == cur,
        s"lexical index at $indexPath is stale: built at store version ${stamp.drop(1)} " +
          s"but $t is now at version $cur — appended rows would be invisible and " +
          "df/N/avgdl wrong. Rebuild with buildLexicalIndex (the reference rebuilds " +
          "after every merge).")
    }
    IndexStats(state, stats(0).toLong, stats(1).toLong, stats(2).toInt)
  }

  /** Shared index-read head of [[bm25Indexed]]/[[bm25IndexedBatchRank]]:
    * the postings (term, id, tf, dl) pruned to the query terms' hash
    * buckets ([[bucketsOfTerms]]) and to the terms, both given as
    * columns (literals, or a prepared plan's slots). Builds the plan
    * without running a Spark job.
    */
  private def indexedPostings(spark: org.apache.spark.sql.SparkSession, indexPath: String,
                              st: IndexStats, buckets: Seq[Column],
                              terms: Seq[Column]): DataFrame =
    readPostings(spark, indexPath)
      .filter(col("bucket").isin(buckets: _*) && col("term").isin(terms: _*))

  /** Batch [[bm25]]: rank every query's term set against the corpus in
    * ONE corpus scan (a per-question [[bm25]] loop would re-tokenize the
    * corpus once per question — the same job-per-row trap
    * [[Chat.answerBatch]] exists to avoid). `queryTerms` carries
    * `(qid, term)` pairs — query-batch-sized, so it broadcasts;
    * deduplicated here, since a duplicate pair would silently double
    * that term's contribution.
    *
    * Per question the scores and ranking are IDENTICAL to [[bm25]]:
    * df/N/avgdl are corpus-global (shared across questions), tf is per
    * (doc, term), and each question sums exactly its own term rows via
    * the broadcast pair join; rounding (6 decimals) and the rank
    * tiebreak (rounded score desc, id) match term for term. Output:
    * `(qidName, id, rank)` with rank ≤ `topKPerQuery`.
    */
  def bm25BatchRank(docs: DataFrame, idCol: String, textCol: String,
                    queryTerms: DataFrame, k1: Double = 1.2, b: Double = 0.75,
                    topKPerQuery: Int = 10): DataFrame = {
    val Seq(qidName, termName) = queryTerms.columns.toSeq
    // deduped defensively: a duplicate (qid, term) pair would silently
    // double that term's contribution through the fan-out join
    val queryTermsD = queryTerms.distinct()
    val allTerms = queryTermsD.select(col(termName)).distinct()
      .collect().map(_.getString(0)).toSeq
    require(allTerms.nonEmpty, "queryTerms must carry at least one (qid, term) pair")
    withBm25Corpus(docs, idCol, textCol, allTerms) { (nDocs, avgdl, tf, df) =>
      val scored = tf.join(broadcast(df), "__term")
        .join(broadcast(queryTermsD.withColumnRenamed(termName, "__term")), "__term")
        .withColumn("__s",
          termScore(col("__tf"), col("__dl"), col("__df"), nDocs, avgdl, k1, b))
        .groupBy(col(qidName), col(idCol))
        .agg(sum(col("__s")).as("__raw"))
        .select(col(qidName).as("__qid"), col(idCol), round(col("__raw"), 6).as("__bm25"))
      // the shared bounded-rank tail (per-partition top-k heap before the
      // rank window, exactly the final ordering: rounded score desc, id) —
      // the rank exchange carries ≤ k×|batch| rows per partition instead
      // of every matched (question, doc) row
      Similarity
        .boundedRank(scored, qidName, idCol, topKPerQuery, "COSINE", "__bm25", "rank")
        .select(col(qidName), col(idCol), col("rank"))
        .localCheckpoint() // ≤ topK×|batch| rows
    }
  }

  /** Reciprocal-rank fusion (RRF) of independent rankings, in two
    * shapes that compute the same thing: [[rrfFuse]] over ranked frames,
    * [[rrfFuseRanked]] over ranked id lists already on the driver.
    *
    * The arithmetic, shared by both: an id at rank r (1 = best) of a
    * ranking contributes `1.0/(c + r)` (an integer sum, then one
    * division); ids absent from a ranking get nothing from it. The
    * contributions are summed per id and leave as micros,
    * `floor(x·10⁶ + ½)` as a long ([[graft.Tables.micros]]), instead of
    * `round(double, 6)`, whose tie handling is engine-build-sensitive.
    * Each id gets at most one term per ranking, and with two rankings
    * the sum of two doubles is the same in either order, so the micros
    * are bit-identical on any engine and in both shapes. The top `topK`
    * ids, micros descending, ties by id ascending in Spark's order for
    * the id type (nulls first).
    *
    * This shape: each input carries `(idCol, rankCol)`; output
    * `(idCol, rrf_micros BIGINT)` best first. One union + one hash
    * aggregation — rankings are top-k-bounded, so this is cheap at any
    * corpus size.
    */
  def rrfFuse(rankings: Seq[DataFrame], idCol: String, rankCol: String,
              c: Int = 60, topK: Int = 10): DataFrame = {
    require(rankings.nonEmpty, "need at least one ranking")
    val contrib: Column = lit(1.0) / (lit(c) + col(rankCol))
    rankings
      .map(_.select(col(idCol), contrib.as("__c")))
      .reduce(_ union _)
      .groupBy(col(idCol))
      .agg(sum(col("__c")).as("__raw"))
      .select(col(idCol), graft.Tables.micros(col("__raw")).as("rrf_micros"))
      .orderBy(col("rrf_micros").desc, col(idCol))
      .limit(topK)
  }

  /** [[rrfFuse]] over rankings already collected to the driver: each list
    * holds ids best first (rank = position + 1), the same arithmetic
    * (documented at [[rrfFuse]]), the same cut and order. `idOrder` must
    * be Spark's order for the id type — [[sparkOrder]] — so a tie on
    * micros falls the way the plan's `orderBy(id)` does. Returns
    * `(id, rrf_micros)` best first. The fusion of two bounded legs costs
    * no Spark job this way.
    */
  def rrfFuseRanked[K](rankings: Seq[Seq[K]], c: Int = 60, topK: Int = 10)
                      (implicit idOrder: Ordering[K]): Seq[(K, Long)] = {
    require(rankings.nonEmpty, "need at least one ranking")
    val raw = scala.collection.mutable.HashMap.empty[K, Double]
    for (ranking <- rankings; (id, i) <- ranking.zipWithIndex)
      raw(id) = raw.getOrElse(id, 0.0) + 1.0 / (c + (i + 1))
    raw.toSeq
      .map { case (id, x) => (id, math.floor(x * 1000000d + 0.5d).toLong) }
      .sorted(Ordering.Tuple2(Ordering.Long.reverse, idOrder).on[(K, Long)](_.swap))
      .take(topK)
  }

  /** Spark's ascending order (nulls first, as `orderBy(col)` sorts) over
    * the external values of `dt` that `collect()` returns — strings by
    * UTF-8 bytes, numbers by value — for driver-side tie-breaks that
    * must match a plan's.
    */
  def sparkOrder(dt: org.apache.spark.sql.types.DataType): Ordering[Any] = {
    import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
    import org.apache.spark.sql.catalyst.expressions.RowOrdering
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(dt)
    val rows = RowOrdering.createNaturalAscendingOrdering(Seq(dt))
    Ordering.by[Any, InternalRow](v => InternalRow(toCatalyst(v)))(rows)
  }

  /** Relative-score (alpha-weighted) fusion — the other standard hybrid
    * besides [[rrfFuse]]: each leg's scores are min-max normalized to
    * [0,1] WITHIN its retrieved set, then blended as Σ weightᵢ·normᵢ
    * (a document absent from a leg contributes 0 from it). The
    * weighting knob RRF deliberately lacks: `alpha = 0.7` vector /
    * `0.3` lexical is the tunable production default this models.
    *
    * Determinism contract: normalization runs on the 6dp-ROUNDED leg
    * scores (both engines agree on those bits by the leg operators' own
    * contracts), a degenerate leg (max = min) normalizes every present
    * doc to 1.0, and the final cut ranks on the rounded fused score
    * with an id tiebreak — the [[bm25]] convention end to end.
    *
    * Legs are top-k-bounded by construction, so the min/max aggregates
    * and the fusion agg are driver-cheap at any corpus size.
    */
  def relativeScoreFuse(legs: Seq[(DataFrame, Double)], idCol: String,
                        scoreCol: String, topK: Int = 10): DataFrame = {
    require(legs.nonEmpty, "need at least one leg")
    require(legs.forall(_._2 >= 0), "leg weights must be >= 0")
    legs.map { case (leg, weight) =>
      // materialize the (topK-bounded) leg once: its plan feeds BOTH the
      // min/max aggregate and the blend join, and Catalyst has no
      // cross-branch CSE — a knn leg would otherwise re-run its corpus
      // scan for the aggregate
      val r = leg.select(col(idCol), round(col(scoreCol), 6).as("__s"))
        .localCheckpoint()
      val mm = r.agg(min(col("__s")).as("__mn"), max(col("__s")).as("__mx"))
      r.crossJoin(broadcast(mm))
        .select(col(idCol),
          (lit(weight) * when(col("__mx") === col("__mn"), lit(1.0))
            .otherwise((col("__s") - col("__mn")) / (col("__mx") - col("__mn"))))
            .as("__c"))
    }
      .reduce(_ union _)
      .groupBy(col(idCol))
      .agg(sum(col("__c")).as("__raw"))
      .select(col(idCol), round(col("__raw"), 6).as("fused"))
      .orderBy(col("fused").desc, col(idCol))
      .limit(topK)
  }

  /** Pseudo-relevance-feedback query expansion (Rocchio's positive-only
    * form, restricted to term selection): run the initial [[bm25]],
    * take the top `fbDocs` documents as the feedback set, score every
    * feedback-set term by (occurrences in the feedback docs) × (smooth
    * corpus idf — [[tfidfTopTerms]]'s formula), and append the top
    * `expandTerms` terms not already in the query. The deterministic,
    * data-driven counterpart of the reference's LLM query-rewrite seam
    * (V5): same goal — turn a sparse query into one that matches the
    * corpus's vocabulary — computed from the corpus itself.
    *
    * Scale: one bm25 pass (its own documented shape), then ONE corpus
    * tokenize into a persisted per-(doc, term) tf table from which both
    * the df table and the feedback tf derive (the feedback side is an
    * `fbDocs`-bounded IN filter over it), plus an id-only count scan
    * for N. Two driver round-trips, both bounded: `fbDocs` ids and
    * `expandTerms` terms.
    */
  def prfExpandTerms(docs: DataFrame, idCol: String, textCol: String,
                     queryTerms: Seq[String], fbDocs: Int = 5, expandTerms: Int = 3,
                     k1: Double = 1.2, b: Double = 0.75): Seq[String] = {
    require(fbDocs >= 1, s"fbDocs must be >= 1 (got $fbDocs)")
    require(expandTerms >= 0, s"expandTerms must be >= 0 (got $expandTerms)")
    if (expandTerms == 0) return queryTerms
    val fb = bm25(docs, idCol, textCol, queryTerms, k1, b, topK = fbDocs)
      .select(col(idCol)).collect().map(_.get(0)).toSeq
    if (fb.isEmpty) return queryTerms
    // ONE tokenize pass: tf per (doc, term) feeds BOTH branches (df and
    // the feedback tf) — pinned, since the two branches meet in one
    // plan and would otherwise each re-derive the full corpus explode
    val added = pinned(docs.select(col(idCol).as("__id"),
        explode(filter(TextAnalysis.tokens(col(textCol)), t => length(t) > 0))
          .as("term"))
      .groupBy(col("__id"), col("term")).agg(count(lit(1)).as("tf"))) { tf =>
      val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val ftf = tf.filter(col("__id").isin(fb: _*))
        .groupBy(col("term")).agg(sum(col("tf")).as("ftf"))
      val nDocs = docs.select(col(idCol)).count()
      rocchioSelect(ftf, dfreq, nDocs, queryTerms, expandTerms)
    }
    queryTerms ++ added
  }

  /** Shared Rocchio candidate-selection tail of [[prfExpandTerms]] and
    * [[prfExpandTermsIndexed]] — ONE implementation of the scoring
    * formula and tiebreak is what makes the scan/index identity a
    * structural fact rather than a convention.
    */
  private def rocchioSelect(ftf: DataFrame, dfreq: DataFrame, nDocs: Long,
                            queryTerms: Seq[String], expandTerms: Int): Seq[String] =
    ftf.filter(!col("term").isin(queryTerms: _*))
      .join(dfreq.hint("SHUFFLE_HASH"), "term")
      .withColumn("sc", col("ftf") *
        (log((lit(1.0) + lit(nDocs.toDouble)) / (lit(1.0) + col("df"))) + lit(1.0)))
      .orderBy(col("sc").desc, col("term").asc)
      .limit(expandTerms)
      .select(col("term")).collect().map(_.getString(0)).toSeq

  /** [[prfExpandTerms]] served from a maintained [[buildLexicalIndex]]
    * sidecar — the production shape: the initial ranking reads
    * term-pruned postings ([[bm25Indexed]]), and candidate mining reads
    * the POSTINGS table (term, id, tf — narrow fixed-width rows, a
    * small fraction of raw text IO) instead of re-tokenizing the
    * corpus. df = postings-per-term, feedback tf = Σ tf over the
    * feedback ids' postings, N from `_stats` — term for term the same
    * numbers as the scan path, so the two paths return IDENTICAL
    * expansions (the index is a layout change, never a semantics
    * change). Same staleness contract (`store`). The mining read is
    * unpruned by construction — the candidate terms are unknown until
    * read — which is exactly the scan the index makes cheap.
    */
  def prfExpandTermsIndexed(spark: org.apache.spark.sql.SparkSession, indexPath: String,
                            queryTerms: Seq[String], fbDocs: Int = 5, expandTerms: Int = 3,
                            k1: Double = 1.2, b: Double = 0.75,
                            store: Option[String] = None): Seq[String] = {
    require(fbDocs >= 1, s"fbDocs must be >= 1 (got $fbDocs)")
    require(expandTerms >= 0, s"expandTerms must be >= 0 (got $expandTerms)")
    if (expandTerms == 0) return queryTerms
    val fb = bm25Indexed(spark, indexPath, queryTerms, k1, b, topK = fbDocs,
        store = store)
      .select(col("id")).collect().map(_.get(0)).toSeq
    if (fb.isEmpty) return queryTerms
    val st = indexStats(spark, indexPath, store)
    // the build indexes every token verbatim (including the '' a
    // whitespace-only doc tokenizes to); mining must drop it exactly as
    // the scan path's empty-token filter does
    val postings = readPostings(spark, indexPath)
      .filter(length(col("term")) > 0)
    val dfreq = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val ftf = postings.filter(col("id").isin(fb: _*))
      .groupBy(col("term")).agg(sum(col("tf")).as("ftf"))
    queryTerms ++ rocchioSelect(ftf, dfreq, st.nDocs, queryTerms, expandTerms)
  }

  /** Per-document keyword extraction: the top-`k` terms by TF-IDF
    * (sklearn's smooth form: idf = ln((1+N)/(1+df)) + 1, score =
    * tf · idf) — the "what is this document about" signal a curation
    * pipeline uses for topic tagging, facet filters, and cheap
    * relevance features. Same whitespace tokenization as [[bm25]];
    * empty tokens (whitespace-only docs) never become terms.
    *
    * Returns `(idCol, rank, term, tf, df, score)`, rank 1-based per
    * document, ties on score broken by term ascending.
    *
    * Scale: tf is one explode + hash agg keyed (doc, term); df is a
    * term-keyed agg of THAT (never a second corpus pass). The df join
    * is SHUFFLE_HASH on term — document frequencies span the whole
    * vocabulary, which at corpus scale is far past broadcast range
    * (contrast [[bm25]], whose df table is query-terms-bounded and
    * broadcasts). N arrives by broadcasting a 1-row count aggregated
    * from a second id-only scan (column-pruned — it reads no text).
    * The top-k window partitions by document: its partitions are
    * one doc's distinct terms, bounded by document length.
    */
  def tfidfTopTerms(docs: DataFrame, idCol: String, textCol: String,
                    k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    val tf = docs
      .select(col(idCol),
        explode(filter(TextAnalysis.tokens(col(textCol)), t => length(t) > 0))
          .as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDf = docs.select(col(idCol)).agg(count(lit(1)).as("__n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("score").desc, col("term"))
    tf.join(dfreq.hint("SHUFFLE_HASH"), "term")
      .crossJoin(broadcast(nDf))
      .withColumn("score",
        col("tf") * (log((lit(1.0) + col("__n")) / (lit(1.0) + col("df"))) + lit(1.0)))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("rank"), col("term"), col("tf"), col("df"),
        col("score"))
  }
}
