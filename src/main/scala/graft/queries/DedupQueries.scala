package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.functions.SimHash64
import graft.ops.{Curation, Dedup}

/** Dedup-suite parity queries over the `documents` / `embeddings` tables.
  * Jaccard and ratio columns are exact small-integer divisions, so they
  * hash-match DuckDB without rounding; cosine outputs are rounded to 6
  * (cross-engine ulp noise).
  */
object DedupQueries {
  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // P5 exact dedup with deterministic representative (min doc_id).
    "dedup_exact" -> ((s, d) => {
      import s.implicits._
      Dedup.exact(documents(s, d), "doc_id", "text").orderBy($"doc_id")
    }),

    // Exact word-3-gram Jaccard near-dup pairs (inverted-index join).
    "dedup_ngram_jaccard" -> ((s, d) => {
      import s.implicits._
      Dedup.ngramJaccardPairs(documents(s, d), "doc_id", "text", threshold = 0.2)
        .orderBy($"id_a", $"id_b")
    }),

    // Cross-corpus scored overlap: docs < 250 as the incoming batch,
    // the rest as the standing corpus — every cross pair with J >= 0.2,
    // exactly (bipartite AllPairs/PPJoin; the scored generalization of
    // decontaminate).
    "crosscorpus_jaccard_join" -> ((s, d) => {
      import s.implicits._
      val docs = documents(s, d)
      Dedup.ngramJaccardJoin(
          docs.filter($"doc_id" < 250), "doc_id", "text",
          docs.filter($"doc_id" >= 250), "doc_id", "text", threshold = 0.2)
        .orderBy($"id_a", $"id_b")
    }),

    // Corpus-level boilerplate line removal (CCNet/RefinedWeb cleanup):
    // plant a universal header (500 occurrences), an even-doc banner
    // (250), and 7 rotating footers (~71 each) around every document,
    // then strip lines appearing in > 100 docs — header and banner go,
    // footers and unique bodies survive in original order. The heavy set
    // is broadcast; the corpus never shuffles for the filter.
    "dedup_lines_boilerplate" -> ((s, d) => {
      import s.implicits._
      val corpus = documents(s, d).select(
        $"doc_id",
        concat_ws("\n",
          lit("HEADER: site nav"),
          when($"doc_id" % 2 === 0, lit("SUBSCRIBE NOW")),
          $"text",
          concat(lit("FOOTER-"), ($"doc_id" % 7).cast("string"))).as("text"))
      Curation.removeBoilerplateLines(corpus, "doc_id", "text",
          maxOccurrences = 100)
        .orderBy($"doc_id")
    }),

    // Exact duplicated-span removal (Lee et al. substring dedup at
    // k-gram granularity): every 8-token run occurring twice anywhere in
    // the corpus is stripped from all its occurrences; unique text is
    // untouched. Digest-keyed shuffles, semi-join back, per-doc rebuild.
    "dedup_span_removal" -> ((s, d) => {
      import s.implicits._
      Dedup.removeDuplicatedSpans(documents(s, d), "doc_id", "text", k = 8)
        .orderBy($"doc_id")
    }),

    // The wave-3/4 operators composed as ONE plan — the canonical
    // LLM-training-data prep: canonical-normalize → exact span dedup →
    // keep docs that are mostly original AND above an entropy floor →
    // deterministic train/val assignment → per-split token accounting.
    // Every leg is individually hash-green; this pins the COMPOSITION.
    "training_mix_e2e" -> ((s, d) => {
      import s.implicits._
      // persist + eager count: normalizeText feeds THREE consumers (the
      // span-dedup gram pass, its final token rebuild, and the entropy
      // leg) — without the pin the corpus is re-read and re-normalized
      // per consumer, and the consumers race the cache on first action
      // (the Dedup.ngramJaccardPairs convention). One normalize pass
      // instead of three. REGISTRY CONTRACT: the returned frame is lazy,
      // so the pin cannot be released in-body — every declared-query
      // runner (Bench, Verify, OptProbe) calls catalog.clearCache()
      // after its action; ad-hoc callers must do the same.
      val norm = documents(s, d).select($"doc_id",
        graft.functions.NormalizeText.normalizeText($"text").as("text"))
        .persist()
      norm.count(): Unit
      val spanned = Dedup.removeDuplicatedSpans(norm, "doc_id", "text", k = 8)
      val ent = graft.ops.TextAnalysis.charBigramEntropy(norm, "doc_id", "text")
      val kept = spanned.join(ent, "doc_id")
        .filter($"n_removed" * 2 < $"n_tokens" && $"entropy" >= 5.0)
      graft.ops.Sampling.hashSplit(kept, "doc_id",
          Seq("train" -> 0.9, "val" -> 0.1), seed = "e2e")
        .groupBy($"split")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_tokens" - $"n_removed").as("kept_tokens"))
        .orderBy($"split")
    }),

    // MinHash+LSH near-dup pairs — approximate candidate generation,
    // exact verify. FULL hash oracle: the hash family is md5-derived
    // universal hashing mod 2^31-1 (MinHashBands), so DuckDB replays
    // signatures, band keys, and the candidate set bit-for-bit; the
    // size filter is provably redundant against the J >= t verify
    // (J >= t forces min_sz >= t*max_sz), so the oracle needs only
    // band-collision ∩ verified-Jaccard. DedupSpec's subset/recall
    // invariants stay as the banded ≡ brute-force guard.
    "dedup_minhash_lsh" -> ((s, d) => {
      import s.implicits._
      Dedup.minhashNearDupPairs(documents(s, d), "doc_id", "text", threshold = 0.2)
        .orderBy($"id_a", $"id_b")
    }),

    // Auto-banded MinHash+LSH: bands chosen by the weighted-error
    // integral (Dedup.optimalBands — at t=0.2, n=32 it picks b=16/r=2,
    // a higher-recall curve than the hand default b=8/r=4). The oracle
    // replays the FULL pipeline at the auto operating point (j // 2
    // band keys), so the query is green only if the engine actually
    // runs the banding the rule chose.
    "dedup_minhash_auto" -> ((s, d) => {
      import s.implicits._
      Dedup.minhashNearDupPairsAuto(documents(s, d), "doc_id", "text", threshold = 0.2)
        .orderBy($"id_a", $"id_b")
    }),

    // Near-dup clustering: connected components over the exact jaccard
    // pairs (min-id canonical representative) — the keep-one-per-cluster
    // step that follows pair generation in a dedup pipeline.
    "dedup_near_clusters" -> ((s, d) => {
      import s.implicits._
      Dedup.connectedComponents(
          Dedup.ngramJaccardPairs(documents(s, d), "doc_id", "text", threshold = 0.2))
        .orderBy($"id")
    }),

    // Soft dedup: every document keeps a SAMPLING WEIGHT 1/cluster_size
    // instead of near-dups being dropped — a cluster contributes total
    // mass 1, so information survives without the repetition bias; the
    // weights feed weighted mixture sampling downstream.
    "softdedup_weights" -> ((s, d) => {
      import s.implicits._
      val docs = documents(s, d)
      Dedup.softDedupWeights(docs, "doc_id",
          Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.2))
        .orderBy($"doc_id")
    }),

    // Duplication-rate report: cluster-size histogram over the near-dup
    // components (singletons derived relationally from total − member
    // counts — no driver round-trip), the "how duplicated is this
    // corpus" number a curation run reports before choosing thresholds.
    "dedup_cluster_histogram" -> ((s, d) => {
      import s.implicits._
      // deterministic md5 slice (50%): the exact-pair ground-truth leg
      // is verification ballast, not a production plan — the slice
      // keeps the invariant oracle-checked while the suite scales
      // (the minhash_recall_probe convention, VERDICT r13 task 5)
      val docs = documents(s, d).filter(
        substring(md5($"doc_id".cast("string")), 1, 1).isin("0", "1", "2", "3", "4", "5", "6", "7"))
      val comp = Dedup.connectedComponents(
        Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.2))
      val hist = comp.groupBy($"component").agg(count(lit(1)).as("sz"))
        .groupBy($"sz").agg(count(lit(1)).as("n_clusters"))
      val singles = docs.agg(count(lit(1)).as("__t"))
        .crossJoin(comp.agg(count(lit(1)).as("__m")))
        .select(lit(1L).as("sz"), ($"__t" - $"__m").as("n_clusters"))
      hist.unionByName(singles)
        .filter($"n_clusters" > 0)
        .select($"sz".as("cluster_size"), $"n_clusters",
          ($"sz" * $"n_clusters").as("n_docs"))
        .orderBy($"cluster_size")
    }),

    // Corpus-level set similarity from bottom-k minwise sketches: every
    // lang-slice pair's distinct-shingle Jaccard estimated from k=256
    // longs per slice — the dataset-overlap question ("how much does
    // crawl A overlap crawl B") answered WITHOUT joining raw corpora.
    // md5-derived hashes make both signatures and the estimate
    // bit-replayable by the oracle.
    // Frontier seen-set membership: a 16 Ki-bit / 5-hash Bloom filter
    // built from the crawled URL set, then EVERY candidate URL probed
    // map-side against the literal word array (no join — the filter
    // rides the plan, the shape a 1000-executor frontier needs). The
    // md5-derived positions make build and probe bit-replayable, so
    // the oracle recomputes the exact filter AND the exact
    // false-positive count; no-false-negatives is structural.
    "frontier_bloom_seen" -> ((s, d) => {
      import s.implicits._
      val urls = documents(s, d).select($"doc_id",
        concat(lit("https://example.com/item/"), $"doc_id".cast("string"))
          .as("url"),
        ($"doc_id" % 2 === 0).as("truth"))
      val crawled = urls.filter($"truth").select($"url")
      val words = graft.ops.Sketch.collectBloom(
        graft.ops.Sketch.bloomBuild(crawled, "url", 16384, 5), 16384)
      graft.ops.Sketch.bloomMightContain(urls, "url", words, 5)
        .agg(count(lit(1)).as("n_candidates"),
          sum(when($"truth", 1L).otherwise(0L)).as("n_seen"),
          sum(when($"might_contain", 1L).otherwise(0L)).as("n_hits"),
          sum(when($"might_contain" && !$"truth", 1L).otherwise(0L))
            .as("n_false_positives"),
          sum(when($"truth" && !$"might_contain", 1L).otherwise(0L))
            .as("n_false_negatives"))
    }),

    // The seen-set maintained INCREMENTALLY as the crawl ingests: half
    // the crawled URLs land in a versioned store and build the bloom
    // sidecar, the other half appends and FOLDS in at O(batch)
    // (bit_or merge — the HLL-sidecar discipline). The fold must equal
    // a from-scratch rebuild word-for-word (asserted into the output),
    // and the probe counts replay exactly in the oracle.
    "frontier_bloom_incremental" -> ((s, d) => {
      import s.implicits._
      val root = s"${System.getProperty("java.io.tmpdir")}/graft-bloomsc-" +
        s"${Integer.toHexString(d.hashCode)}-${java.lang.ProcessHandle.current().pid()}"
      graft.Fs.delete(s, root)
      val table = s"$root/seen"
      val side = s"$root/bloom"
      val urls = documents(s, d).select($"doc_id",
        concat(lit("https://example.com/item/"), $"doc_id".cast("string"))
          .as("url"),
        ($"doc_id" % 3 === 0).as("truth"))
      graft.ops.VersionedStore.append(s, table,
        urls.filter($"doc_id" % 6 === 0).select($"url"))
      graft.ops.Sketch.buildBloomSidecarForStore(s, table, "url", "url", side)
      graft.ops.VersionedStore.append(s, table,
        urls.filter($"doc_id" % 6 === 3).select($"url"))
      graft.ops.Sketch.appendToBloomSidecar(s, table, "url", "url", side)
      // fold ≡ rebuild, word for word (bounded: m/64 longs each)
      val folded = s.read.parquet(s"$side/words")
        .collect().map(r => r.getAs[Long]("word_idx") -> r.getAs[Long]("word")).toMap
      val rebuilt = graft.ops.Sketch.bloomBuild(
          graft.ops.VersionedStore.read(s, table).get, "url",
          graft.ops.Sketch.BloomSidecarM, graft.ops.Sketch.BloomSidecarK)
        .collect().map(r => r.getAs[Long]("word_idx") -> r.getAs[Long]("word")).toMap
      val foldEq = folded == rebuilt
      graft.ops.Sketch.probeBloomSidecar(s, table, side, urls, "url")
        .agg(count(lit(1)).as("n_candidates"),
          sum(when($"truth", 1L).otherwise(0L)).as("n_seen"),
          sum(when($"might_contain", 1L).otherwise(0L)).as("n_hits"),
          sum(when($"might_contain" && !$"truth", 1L).otherwise(0L))
            .as("n_false_positives"),
          sum(when($"truth" && !$"might_contain", 1L).otherwise(0L))
            .as("n_false_negatives"))
        .withColumn("fold_equals_rebuild", lit(foldEq))
    }),

    "corpus_bottomk_jaccard" -> ((s, d) => {
      import s.implicits._
      val sig = graft.ops.Sketch.bottomkSignatures(
        documents(s, d), "lang", "text", k = 256, n = 3)
      graft.ops.Sketch.bottomkJaccard(sig, "lang", k = 256)
        .orderBy($"slice_a", $"slice_b")
    }),

    // LSH recall measurement — the production monitoring op for any
    // banded dedup: on a deterministic sample, exact-Jaccard ground
    // truth vs the MinHash+LSH pair set, recall = caught/exact. The
    // 1-(1-j^r)^b curve is theory; THIS measures it on the corpus's own
    // similarity distribution, and the md5-portable hash family means
    // the oracle replays both legs and the statistic bit-for-bit.
    "minhash_recall_probe" -> ((s, d) => {
      import s.implicits._
      val sample = documents(s, d).filter($"doc_id" < 200)
      val exact = Dedup.ngramJaccardPairs(sample, "doc_id", "text",
        threshold = 0.2).select($"id_a", $"id_b")
      val lsh = Dedup.minhashNearDupPairs(sample, "doc_id", "text",
          threshold = 0.2)
        .select($"id_a", $"id_b", lit(1L).as("__c"))
      exact.join(lsh, Seq("id_a", "id_b"), "left")
        .agg(count(lit(1)).as("n_exact"),
          sum(coalesce($"__c", lit(0L))).as("n_caught"))
        // recall = caught/exact is an exact integer ratio: leave as
        // pure-Long micros (round-half-up), never round(double, 6) —
        // the tie- and engine-build-sensitive pattern
        .withColumn("recall_micros",
          expr("CAST((2*1000000*n_caught + n_exact) DIV (2*n_exact) AS BIGINT)"))
    }),

    // Leakage-safe train/test split: every doc follows its near-dup
    // CLUSTER representative's hash point, so no near-duplicate pair
    // straddles the boundary — the eval-inflation leak a per-document
    // hash split cannot prevent. Oracle replays the cluster closure and
    // the md5 split on the representative.
    "leakage_safe_split" -> ((s, d) => {
      import s.implicits._
      // deterministic md5 slice (50%) — see dedup_cluster_histogram
      val docs = documents(s, d).filter(
        substring(md5($"doc_id".cast("string")), 1, 1).isin("0", "1", "2", "3", "4", "5", "6", "7"))
      graft.ops.Sampling.leakageSafeSplit(docs.select($"doc_id"), "doc_id",
          Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.2),
          Seq("train" -> 0.8, "test" -> 0.2), seed = "ls0")
        .orderBy($"doc_id")
    }),

    // Survivor selection: the corpus minus every doc whose cluster
    // representative is a smaller id (the actual "dedup the corpus" step).
    "dedup_survivors" -> ((s, d) => {
      import s.implicits._
      val docs = documents(s, d)
      Dedup.nearDupSurvivors(docs, "doc_id",
          Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.2))
        .select($"doc_id").orderBy($"doc_id")
    }),

    // SimHash near-dup pairs: banded candidate join + exact Hamming
    // verify. FULLY oracle-checked since the token hash became
    // engine-portable (first 8 md5 bytes — the integer DuckDB spells
    // ('0x'||substr(md5(t),1,16))::UBIGINT): the oracle recomputes
    // every fingerprint and brute-forces all pairs; the banded join
    // must equal it exactly (pigeonhole completeness, bands >
    // maxHamming).
    "dedup_simhash_pairs" -> ((s, d) => {
      import s.implicits._
      Dedup.simhashNearDupPairs(documents(s, d), "doc_id", "text", maxHamming = 3, bands = 4)
        .orderBy($"id_a", $"id_b")
    }),

    // SimHash fingerprints, hash-checked bit-for-bit (emitted as the
    // 64-char binary string both engines can render without signed/
    // unsigned casts — DuckDB's UBIGINT << 63 overflows, strings don't).
    "fingerprint_simhash" -> ((s, d) => {
      import s.implicits._
      documents(s, d)
        .select($"doc_id",
          lpad(bin(SimHash64.simhash64(split($"text", "\\s+"))), 64, "0")
            .as("simhash_bits"))
        .orderBy($"doc_id")
    }),

    // Oracle anchor for the fingerprint family: a fingerprint is a pure
    // function of the text. The corpus is unioned with itself so EVERY
    // text group carries two independently-evaluated fingerprints (the
    // test corpus has no planted exact dups at sf0.01 — without the
    // doubling the invariant would be vacuous); each group must then
    // hold exactly one distinct value, and the group count is
    // independently recomputable by the oracle.
    "fingerprint_consistency_invariant" -> ((s, d) => {
      import s.implicits._
      val fp = documents(s, d)
        .select($"text", SimHash64.simhash64(split($"text", "\\s+")).as("__fp"))
      fp.union(fp)
        .groupBy($"text")
        .agg(count_distinct($"__fp").as("__nfp"), count(lit(1)).as("__n"))
        .agg(
          bool_and($"__nfp" === 1).as("identical_texts_identical_fingerprints"),
          bool_and($"__n" >= 2).as("every_group_checked"),
          count(lit(1)).as("n_text_groups"))
    }),

    // Exact embedding-cosine near-dup pairs.
    "dedup_embedding_cosine" -> ((s, d) => {
      import s.implicits._
      Dedup.embeddingNearDupPairs(embeddings(s, d), "vec_id", "embedding", threshold = 0.35)
        .select($"id_a", $"id_b", round($"sim", 6).as("sim"))
        .orderBy($"id_a", $"id_b")
    }),

    // SRP-LSH approximate variant — fully oracle-checked since the
    // hyperplanes became md5-derived Rademacher signs: the oracle
    // regenerates every plane, recomputes every bucket, and replays the
    // candidate join + exact-cosine verify relationally.
    "dedup_embedding_lsh" -> ((s, d) => {
      import s.implicits._
      Dedup.embeddingNearDupLsh(embeddings(s, d), "vec_id", "embedding",
          threshold = 0.35, nTables = 6, nBits = 6)
        .select($"id_a", $"id_b", round($"sim", 6).as("sim"))
        .orderBy($"id_a", $"id_b")
    }),

    // Contract anchor for the MinHash family (dedup_minhash_lsh now also
    // carries a FULL hash oracle via the md5-derived universal hashes —
    // this invariant stays as the banded ≡ brute-force guard): every
    // emitted pair must be an exact-Jaccard pair at the same threshold
    // with the identical jaccard value (the LSH path verifies exactly),
    // and the banding must find at least one pair on a corpus with
    // planted duplicates. The expected value of each bit is a constant —
    // a hash mismatch names the violated invariant.
    // The MinHash sidecar lifecycle end to end: half the corpus into a
    // versioned store + sidecar build, the other half appended + folded
    // (O(new docs)), then an arriving batch of 20 RE-KEYED store texts
    // near-dup-checked against the WHOLE history through the sidecar.
    // Anchor bits: every incremental pair sits in the exact bipartite
    // PPJoin set with identical jaccard, and all 20 planted duplicates
    // are found (J=1 ⇒ identical signatures ⇒ guaranteed candidates).
    "incremental_neardup_check" -> ((s, d) => {
      import s.implicits._
      // pid-suffixed: concurrent driver/builder JVMs must never share
      // the store dir (the store_time_travel treatment)
      val root = s"${System.getProperty("java.io.tmpdir")}/graft-ndsc-" +
        s"${Integer.toHexString(d.hashCode)}-${java.lang.ProcessHandle.current().pid()}"
      graft.Fs.delete(s, root)
      val table = s"$root/store"
      val side = s"$root/bands"
      val docs = documents(s, d).select($"doc_id", $"text")
      graft.ops.VersionedStore.append(s, table, docs.filter($"doc_id" % 2 === 0))
      Dedup.buildMinhashSidecarForStore(s, table, "doc_id", "text", side)
      graft.ops.VersionedStore.append(s, table, docs.filter($"doc_id" % 2 =!= 0))
      Dedup.appendToMinhashSidecar(s, table, "doc_id", "text", side)
      val batch = docs.filter($"doc_id" < 20)
        .select(($"doc_id" + 100000L).as("doc_id"), $"text")
      val inc = Dedup.nearDupAgainstStore(s, batch, "doc_id", "text",
          table, side, threshold = 0.2)
        .select($"batch_id".as("id_a"), $"store_id".as("id_b"),
          $"jaccard".as("__j_inc"))
      val exact = Dedup.ngramJaccardJoin(batch, "doc_id", "text",
          docs, "doc_id", "text", threshold = 0.2)
        .select($"id_a", $"id_b", $"jaccard".as("__j_exact"))
      inc.join(exact, Seq("id_a", "id_b"), "left")
        .agg(
          bool_and($"__j_exact".isNotNull).as("subset_of_exact"),
          bool_and(coalesce($"__j_inc" === $"__j_exact", lit(false)))
            .as("jaccard_matches_exact"),
          (sum(when($"id_b" === $"id_a" - 100000L && $"__j_inc" >= 1.0, 1L)
            .otherwise(0L)) === 20L).as("all_planted_found"))
    }),

    // The EMBEDDING sidecar lifecycle, FULLY hash-checked (unlike the
    // seed-defined MinHash set, SRP buckets are md5-derived, so the
    // oracle regenerates every plane, bucket, candidate, and verified
    // cosine): half the vectors into a store + sidecar build, the rest
    // appended + folded, then 20 re-keyed vectors checked against the
    // whole history.
    "incremental_embdup_check" -> ((s, d) => {
      import s.implicits._
      val root = s"${System.getProperty("java.io.tmpdir")}/graft-srpsc-" +
        s"${Integer.toHexString(d.hashCode)}-${java.lang.ProcessHandle.current().pid()}"
      graft.Fs.delete(s, root)
      val table = s"$root/store"
      val side = s"$root/buckets"
      val emb = embeddings(s, d).select($"vec_id", $"embedding")
      graft.ops.VersionedStore.append(s, table, emb.filter($"vec_id" % 2 === 0))
      Dedup.buildSrpSidecarForStore(s, table, "vec_id", "embedding", side)
      graft.ops.VersionedStore.append(s, table, emb.filter($"vec_id" % 2 =!= 0))
      Dedup.appendToSrpSidecar(s, table, "vec_id", "embedding", side)
      val batch = emb.filter($"vec_id" < 20 && $"embedding".isNotNull)
        .select(($"vec_id" + 1000000L).as("vec_id"), $"embedding")
      Dedup.embNearDupAgainstStore(s, batch, "vec_id", "embedding",
          table, side, threshold = 0.35)
        .select($"batch_id", $"store_id", round($"sim", 6).as("sim"))
        .orderBy($"batch_id", $"store_id")
    }),

    "dedup_minhash_subset_invariant" -> ((s, d) => {
      import s.implicits._
      // deterministic md5 slice (50%) — see dedup_cluster_histogram
      val docs = documents(s, d).filter(
        substring(md5($"doc_id".cast("string")), 1, 1).isin("0", "1", "2", "3", "4", "5", "6", "7"))
      val lsh = Dedup.minhashNearDupPairs(docs, "doc_id", "text", threshold = 0.2)
        .select($"id_a", $"id_b", $"jaccard".as("__j_lsh"))
      val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.2)
        .select($"id_a", $"id_b", $"jaccard".as("__j_exact"))
      lsh.join(exact, Seq("id_a", "id_b"), "left")
        .agg(
          bool_and($"__j_exact".isNotNull).as("subset_of_exact"),
          bool_and(coalesce($"__j_lsh" === $"__j_exact", lit(false)))
            .as("jaccard_matches_exact"),
          (count(lit(1)) >= 1).as("found_pairs"))
    }),

    // Oracle anchor for the SimHash family (fingerprints are
    // engine-defined, so dedup_simhash_pairs stays rows-only — but the
    // banding's pigeonhole contract is total): with bands > maxHamming,
    // the banded candidate join must find EXACTLY the brute-force
    // all-pairs set at the same Hamming bound, with identical distances.
    "dedup_simhash_equivalence_invariant" -> ((s, d) => {
      import s.implicits._
      val docs = documents(s, d)
      val banded = Dedup.simhashNearDupPairs(docs, "doc_id", "text",
          maxHamming = 3, bands = 4)
        .select($"id_a", $"id_b", $"hamming".as("__hb"))
      // narrow (id, 8-byte fingerprint) rows: the quadratic pass is a
      // hamming evaluation per pair, not a payload shuffle — the same
      // documented ≤10^4-docs oracle bound as dedup_embedding_cosine
      val hashed = docs.filter(length(trim($"text")) > 0)
        .select($"doc_id", SimHash64.simhash64(split(trim($"text"), "\\s+")).as("h"))
      val brute = hashed.as("a").join(hashed.as("b"), $"a.doc_id" < $"b.doc_id")
        .withColumn("__h", graft.functions.SimHash64.hamming64($"a.h", $"b.h"))
        .filter($"__h" <= 3)
        .select($"a.doc_id".as("id_a"), $"b.doc_id".as("id_b"), $"__h")
      banded.join(brute, Seq("id_a", "id_b"), "full_outer")
        .agg(
          bool_and($"__hb".isNotNull && $"__h".isNotNull && $"__hb" === $"__h")
            .as("banded_equals_bruteforce"),
          (count(lit(1)) >= 1).as("found_pairs"))
    }),

    // Same anchor shape for the SRP-LSH embedding family: verified pairs
    // are a subset of the exact cosine pairs with identical sims.
    "dedup_embedding_lsh_subset_invariant" -> ((s, d) => {
      import s.implicits._
      val emb = embeddings(s, d)
      val lsh = Dedup.embeddingNearDupLsh(emb, "vec_id", "embedding",
          threshold = 0.35, nTables = 6, nBits = 6)
        .select($"id_a", $"id_b", $"sim".as("__s_lsh"))
      val exact = Dedup.embeddingNearDupPairs(emb, "vec_id", "embedding", threshold = 0.35)
        .select($"id_a", $"id_b", $"sim".as("__s_exact"))
      lsh.join(exact, Seq("id_a", "id_b"), "left")
        .agg(
          bool_and($"__s_exact".isNotNull).as("subset_of_exact"),
          bool_and(coalesce($"__s_lsh" === $"__s_exact", lit(false)))
            .as("sim_matches_exact"),
          (count(lit(1)) >= 1).as("found_pairs"))
    }),

    // SemDeDup (Abbas et al. 2023): semantic near-dup pairs generated
    // ONLY within nearest-centroid clusters — the Σ|cluster|² candidate
    // bound that makes exact-cosine dedup web-scale. Centroids here are
    // four fixed corpus vectors so the oracle can replay the argmin
    // assignment (production uses the maintained Ivf.fit model — same
    // code path, collected centroids either way).
    "semantic_dedup_pairs" -> ((s, d) => {
      import s.implicits._
      val emb = embeddings(s, d)
      val model = semanticModel(s, d)
      Dedup.semanticDedupPairs(emb, "vec_id", "embedding", model, threshold = 0.35)
        .select($"cluster_id".cast("long").as("cluster_id"), $"id_a", $"id_b",
          round($"sim", 6).as("sim"))
        .orderBy($"id_a", $"id_b")
    }),

    // The full SemDeDup pass: component/min-id survivors of the
    // cluster-scoped pair graph. The oracle replays assignment, pairs,
    // reachability, and the anti-join.
    "semantic_dedup_survivors" -> ((s, d) => {
      import s.implicits._
      val emb = embeddings(s, d)
      val model = semanticModel(s, d)
      Dedup.semanticDedup(emb, "vec_id", "embedding", model, threshold = 0.35)
        .select($"vec_id", $"label")
        .orderBy($"vec_id")
    }),

    // Semantic decontamination — the paraphrase leg of eval-leakage
    // removal: n-gram decontamination catches verbatim overlap; this
    // catches REWORDED eval material by max cosine to the (collected,
    // bounded) eval matrix riding ONE codegen'd expression — corpus
    // scanned once, no join, no shuffle. The oracle replays every
    // corpus×eval cosine and the max/threshold relationally.
    "decontaminate_semantic" -> ((s, d) => {
      import s.implicits._
      val emb = embeddings(s, d)
      val evalVecs = Dedup.collectEvalVectors(
        emb.filter($"vec_id" < 20), "embedding")
      Dedup.semanticContamination(
          emb.filter($"vec_id" >= 20).select($"vec_id", $"embedding"),
          "embedding", evalVecs, threshold = 0.35)
        .select($"vec_id", $"max_eval_sim", $"leaked")
        .orderBy($"vec_id")
    }),

    // What the dedup bought: per duplicated content group, the
    // representative, copy count, and bytes reclaimed — the accounting
    // row a curation run reports next to the cluster histogram. The
    // corpus has no exact duplicates at oracle scale, so duplicates are
    // PLANTED in-plan (the mojibake_repair_roundtrip convention): every
    // doc_id % 4 == 1 collapses to one of four bucket texts of distinct
    // lengths, so n_copies > 1 is non-empty and the copy-count ×
    // bytes-saved arithmetic actually faces the oracle.
    "dedup_savings_report" -> ((s, d) => {
      import s.implicits._
      val bucket = pmod($"doc_id", lit(16))
      val planted = when(pmod($"doc_id", lit(4)) === 1,
          concat(lit("dup "), bucket.cast("string"), lit(" "),
            repeat(lit("pad "), (bucket + 1).cast("int"))))
        .otherwise($"text")
      val docs = documents(s, d).select($"doc_id", planted.as("text"))
      Dedup.exact(docs, "doc_id", "text")
        .filter($"n_copies" > 1)
        .join(docs.select($"doc_id",
          length($"text").cast("long").as("bytes_each")), Seq("doc_id"))
        .select($"doc_id", $"n_copies", $"bytes_each",
          (($"n_copies" - 1) * $"bytes_each").as("bytes_saved"))
        .orderBy($"doc_id")
    }),

    // LSH band planning: the (bands × rows) trade every MinHash dedup
    // tunes before touching data — S-curve capture probabilities at the
    // 0.8 target and ±0.1, inflection points, the chosen factorization.
    "dedup_lsh_band_plan" -> ((s, d) => {
      import s.implicits._
      val _ = d // planning relation, corpus-independent
      Dedup.lshBandPlan(s, numHashes = 32, threshold = 0.8)
        .orderBy($"bands")
    }),
  )

  /** Fixed-centroid model for the semantic-dedup oracle queries: the
    * first four embedding vectors (vec_id 0..3), the relationally-
    * recomputable stand-in for a production [[graft.ops.Ivf.fit]] model.
    */
  private def semanticModel(s: SparkSession, d: String): graft.ops.Ivf.IvfModel =
    graft.ops.Ivf.IvfModel(
      embeddings(s, d).filter(col("vec_id") < 4)
        .orderBy(col("vec_id")).select(col("embedding"))
        .collect().map(_.getSeq[Float](0).toArray))

  val oracles: Map[String, String] = Map(
    "dedup_exact" ->
      """SELECT min(doc_id) AS doc_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY doc_id""".stripMargin,
    // full MinHash+LSH replay: md5-derived universal hashes mod the
    // Mersenne prime 2^31-1 (every product < 2^63 — no u64 wrap, which
    // DuckDB's checked arithmetic cannot express), band keys as the
    // comma-joined signature slices (injective — no bucket-collision
    // ambiguity), candidates = equal (band, key), then the exact-Jaccard
    // verify at the same threshold. Mirrors MinHashBands exactly.
    "dedup_minhash_lsh" ->
      """WITH g AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(w)-1),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
        |  FROM (SELECT doc_id, regexp_split_to_array(text, '\s+') AS w FROM documents)),
        |p AS (
        |  SELECT j,
        |    (1 + ('0x'||substr(md5('minhash-a:'||j::VARCHAR),1,16))::UBIGINT
        |         % 2147483646)::BIGINT AS a,
        |    (('0x'||substr(md5('minhash-b:'||j::VARCHAR),1,16))::UBIGINT
        |         % 2147483647)::BIGINT AS b
        |  FROM range(32) t(j)),
        |x AS (
        |  SELECT doc_id,
        |    (('0x'||substr(md5(s),1,16))::UBIGINT % 2147483647)::BIGINT AS x
        |  FROM (SELECT doc_id, unnest(sh) AS s FROM g WHERE len(sh) > 0)),
        |sigs AS (
        |  SELECT doc_id, j, min((a * x + b) % 2147483647) AS sig
        |  FROM x CROSS JOIN p GROUP BY doc_id, j),
        |bk AS (
        |  SELECT doc_id, j // 4 AS band,
        |    string_agg(sig::VARCHAR, ',' ORDER BY j) AS bh
        |  FROM sigs GROUP BY doc_id, j // 4),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bk a JOIN bk b
        |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id)
        |SELECT id_a, id_b, jaccard FROM (
        |  SELECT id_a, id_b,
        |    len(list_intersect(ga.sh, gb.sh))::DOUBLE /
        |      len(list_distinct(list_concat(ga.sh, gb.sh))) AS jaccard
        |  FROM cand
        |  JOIN g ga ON ga.doc_id = cand.id_a
        |  JOIN g gb ON gb.doc_id = cand.id_b)
        |WHERE jaccard >= 0.2 ORDER BY id_a, id_b""".stripMargin,
    "dedup_minhash_auto" ->
      """WITH g AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(w)-1),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
        |  FROM (SELECT doc_id, regexp_split_to_array(text, '\s+') AS w FROM documents)),
        |p AS (
        |  SELECT j,
        |    (1 + ('0x'||substr(md5('minhash-a:'||j::VARCHAR),1,16))::UBIGINT
        |         % 2147483646)::BIGINT AS a,
        |    (('0x'||substr(md5('minhash-b:'||j::VARCHAR),1,16))::UBIGINT
        |         % 2147483647)::BIGINT AS b
        |  FROM range(32) t(j)),
        |x AS (
        |  SELECT doc_id,
        |    (('0x'||substr(md5(s),1,16))::UBIGINT % 2147483647)::BIGINT AS x
        |  FROM (SELECT doc_id, unnest(sh) AS s FROM g WHERE len(sh) > 0)),
        |sigs AS (
        |  SELECT doc_id, j, min((a * x + b) % 2147483647) AS sig
        |  FROM x CROSS JOIN p GROUP BY doc_id, j),
        |bk AS (
        |  SELECT doc_id, j // 2 AS band,
        |    string_agg(sig::VARCHAR, ',' ORDER BY j) AS bh
        |  FROM sigs GROUP BY doc_id, j // 2),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bk a JOIN bk b
        |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id)
        |SELECT id_a, id_b, jaccard FROM (
        |  SELECT id_a, id_b,
        |    len(list_intersect(ga.sh, gb.sh))::DOUBLE /
        |      len(list_distinct(list_concat(ga.sh, gb.sh))) AS jaccard
        |  FROM cand
        |  JOIN g ga ON ga.doc_id = cand.id_a
        |  JOIN g gb ON gb.doc_id = cand.id_b)
        |WHERE jaccard >= 0.2 ORDER BY id_a, id_b""".stripMargin,
    "dedup_ngram_jaccard" ->
      """WITH g AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(w)-1),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
        |  FROM (SELECT doc_id, regexp_split_to_array(text, '\s+') AS w FROM documents))
        |SELECT id_a, id_b, jaccard FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.sh, b.sh))::DOUBLE /
        |      len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
        |  FROM g a JOIN g b ON a.doc_id < b.doc_id)
        |WHERE jaccard >= 0.2 ORDER BY id_a, id_b""".stripMargin,
    "training_mix_e2e" ->
      s"""WITH nrm AS (SELECT doc_id, trim(regexp_replace(lower(nfc_normalize(
        |    text)), '[\\t\\n\\f\\r ]+', ' ', 'g')) AS text FROM documents),
        |t AS (SELECT doc_id,
        |        regexp_split_to_array(coalesce(text, ''),
        |          '[\\t\\n\\f\\r ]+') AS tk
        |      FROM nrm),
        |g AS (SELECT doc_id, unnest(list_transform(range(1, len(tk)-8+2),
        |        i -> {'pos': i, 'h': md5(array_to_string(tk[i:i+7], ' '))})) AS pg
        |      FROM t WHERE len(tk) >= 8),
        |f AS (SELECT doc_id, pg.pos AS pos, pg.h AS h FROM g),
        |d AS (SELECT h FROM f GROUP BY h HAVING count(*) >= 2),
        |cv AS (SELECT DISTINCT doc_id, cpos FROM (
        |  SELECT f.doc_id AS doc_id, unnest(range(f.pos, f.pos + 8)) AS cpos
        |  FROM f SEMI JOIN d ON f.h = d.h)),
        |cl AS (SELECT doc_id, list(cpos) AS cov FROM cv GROUP BY doc_id),
        |span AS (SELECT t.doc_id, len(tk) AS n_tokens,
        |           coalesce(len(cl.cov), 0) AS n_removed
        |         FROM t LEFT JOIN cl USING (doc_id)),
        |ge AS (SELECT doc_id, unnest(list_transform(range(1, len(text)),
        |         i -> substr(text, i, 2))) AS gr
        |       FROM nrm WHERE len(text) >= 2),
        |ce AS (SELECT doc_id, gr, count(*) AS n FROM ge GROUP BY doc_id, gr),
        |ae AS (SELECT doc_id, CAST(sum(n) AS DOUBLE) AS t2,
        |         sum(CAST(n AS DOUBLE) * log2(CAST(n AS DOUBLE))) AS s
        |       FROM ce GROUP BY doc_id),
        |ent AS (SELECT doc_id, log2(t2) - s / t2 AS entropy FROM ae),
        |kept AS (SELECT span.doc_id, n_tokens, n_removed
        |         FROM span JOIN ent USING (doc_id)
        |         WHERE n_removed * 2 < n_tokens AND entropy >= 5.0),
        |asg AS (SELECT doc_id, n_tokens, n_removed,
        |          CASE WHEN substring(md5(doc_id::VARCHAR || ':e2e'), 1, 8)
        |               < '${graft.ops.Sampling.hexThreshold(0.9)}'
        |          THEN 'train' ELSE 'val' END AS split
        |        FROM kept)
        |SELECT split, count(*)::BIGINT AS n_docs,
        |  sum(n_tokens - n_removed)::BIGINT AS kept_tokens
        |FROM asg GROUP BY split ORDER BY split""".stripMargin,
    "dedup_span_removal" ->
      """WITH t AS (SELECT doc_id,
        |             regexp_split_to_array(coalesce(text, ''),
        |               '[\t\n\f\r ]+') AS tk
        |           FROM documents),
        |g AS (SELECT doc_id, unnest(list_transform(range(1, len(tk)-8+2),
        |        i -> {'pos': i, 'h': md5(array_to_string(tk[i:i+7], ' '))})) AS pg
        |      FROM t WHERE len(tk) >= 8),
        |f AS (SELECT doc_id, pg.pos AS pos, pg.h AS h FROM g),
        |d AS (SELECT h FROM f GROUP BY h HAVING count(*) >= 2),
        |cv AS (SELECT DISTINCT doc_id, cpos FROM (
        |  SELECT f.doc_id AS doc_id, unnest(range(f.pos, f.pos + 8)) AS cpos
        |  FROM f SEMI JOIN d ON f.h = d.h)),
        |cl AS (SELECT doc_id, list(cpos) AS cov FROM cv GROUP BY doc_id)
        |SELECT t.doc_id,
        |  coalesce(array_to_string(list_transform(
        |    list_filter(range(1, len(tk)+1),
        |      i -> NOT list_contains(coalesce(cl.cov, []), i)),
        |    i -> tk[i]), ' '), '') AS clean_text,
        |  len(tk) AS n_tokens,
        |  coalesce(len(cl.cov), 0) AS n_removed
        |FROM t LEFT JOIN cl USING (doc_id) ORDER BY t.doc_id""".stripMargin,
    "dedup_lines_boilerplate" ->
      """WITH corpus AS (
        |  SELECT doc_id, concat_ws(chr(10),
        |    'HEADER: site nav',
        |    CASE WHEN doc_id % 2 = 0 THEN 'SUBSCRIBE NOW' END,
        |    text,
        |    'FOOTER-' || CAST(doc_id % 7 AS VARCHAR)) AS text
        |  FROM documents),
        |ls AS (SELECT doc_id, string_split(text, chr(10)) AS arr FROM corpus),
        |flat AS (
        |  SELECT doc_id, pl.pos AS pos, pl.line AS line
        |  FROM (SELECT doc_id, unnest(list_transform(range(1, len(arr)+1),
        |          i -> {'pos': i, 'line': arr[i]})) AS pl FROM ls)),
        |heavy AS (SELECT line FROM flat GROUP BY line
        |          HAVING count(DISTINCT doc_id) > 100),
        |kept AS (SELECT f.* FROM flat f ANTI JOIN heavy h ON f.line = h.line),
        |rebuilt AS (SELECT doc_id,
        |            string_agg(line, chr(10) ORDER BY pos) AS clean_text,
        |            count(*) AS n_kept FROM kept GROUP BY doc_id),
        |tot AS (SELECT doc_id, len(string_split(text, chr(10))) AS total
        |        FROM corpus)
        |SELECT t.doc_id, coalesce(r.clean_text, '') AS clean_text,
        |       coalesce(r.n_kept, 0) AS n_kept,
        |       t.total - coalesce(r.n_kept, 0) AS n_removed
        |FROM tot t LEFT JOIN rebuilt r USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin,
    "crosscorpus_jaccard_join" ->
      """WITH g AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(w)-1),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
        |  FROM (SELECT doc_id, regexp_split_to_array(text, '\s+') AS w FROM documents))
        |SELECT id_a, id_b, jaccard FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.sh, b.sh))::DOUBLE /
        |      len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
        |  FROM g a JOIN g b ON a.doc_id < 250 AND b.doc_id >= 250)
        |WHERE jaccard >= 0.2 ORDER BY id_a, id_b""".stripMargin,
    "dedup_near_clusters" ->
      """WITH RECURSIVE g AS MATERIALIZED (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(w)-1),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
        |  FROM (SELECT doc_id, regexp_split_to_array(text, '\s+') AS w FROM documents)),
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
        |  SELECT reach.id, e.dst FROM reach JOIN e ON reach.r = e.src)
        |SELECT id, min(r) AS component FROM reach GROUP BY id ORDER BY id""".stripMargin,
    // the component closure again, joined back to EVERY document with
    // 1/cluster_size (exact single division) as the sampling weight
    "softdedup_weights" ->
      """WITH RECURSIVE g AS MATERIALIZED (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(w)-1),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
        |  FROM (SELECT doc_id, regexp_split_to_array(text, '\s+') AS w FROM documents)),
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
        |sz AS (SELECT c.id, n.n AS sz FROM comp c JOIN (
        |  SELECT component, count(*)::BIGINT AS n FROM comp GROUP BY component) n
        |  USING (component))
        |SELECT d.doc_id, coalesce(sz.sz, 1)::BIGINT AS cluster_size,
        |  CAST((2*1000000 + coalesce(sz.sz, 1)) // (2*coalesce(sz.sz, 1))
        |    AS BIGINT) AS weight_micros
        |FROM documents d LEFT JOIN sz ON sz.id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // the component closure again, aggregated to the size histogram;
    // singleton clusters = total docs − component members
    "dedup_cluster_histogram" ->
      """WITH RECURSIVE g AS MATERIALIZED (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(w)-1),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
        |  FROM (SELECT doc_id, regexp_split_to_array(text, '\s+') AS w FROM documents
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
        |hist AS (
        |  SELECT sz, count(*) AS n_clusters FROM (
        |    SELECT component, count(*) AS sz FROM comp GROUP BY component)
        |  GROUP BY sz),
        |single AS (
        |  SELECT 1 AS sz,
        |    (SELECT count(*) FROM documents
        |     WHERE substr(md5(doc_id::VARCHAR), 1, 1) IN ('0', '1', '2', '3', '4', '5', '6', '7'))
        |      - (SELECT count(*) FROM comp) AS n_clusters)
        |SELECT sz::BIGINT AS cluster_size, n_clusters::BIGINT AS n_clusters,
        |  (sz * n_clusters)::BIGINT AS n_docs
        |FROM (SELECT * FROM hist UNION ALL SELECT * FROM single)
        |WHERE n_clusters > 0 ORDER BY cluster_size""".stripMargin,
    // signatures: k smallest 60-bit md5 hashes over each slice's
    // distinct 3-shingles; estimate: re-rank each pair's signature
    // union, fraction of union-minima present in both
    "frontier_bloom_incremental" ->
      """WITH urls AS (
        |  SELECT doc_id, 'https://example.com/item/' || doc_id::VARCHAR AS url,
        |    doc_id % 3 = 0 AS truth
        |  FROM documents),
        |bpos AS (
        |  SELECT (('0x' || substr(md5('bloom:' || i::VARCHAR || ':' || url),
        |           1, 15))::BIGINT % 65536) AS p
        |  FROM urls, (SELECT unnest(range(0, 5)) AS i) s
        |  WHERE truth),
        |words AS (
        |  SELECT p // 64 AS word_idx, bit_or(1::UBIGINT << (p % 64)::INT) AS word
        |  FROM bpos GROUP BY 1),
        |cpos AS (
        |  SELECT url, truth,
        |    (('0x' || substr(md5('bloom:' || i::VARCHAR || ':' || url),
        |     1, 15))::BIGINT % 65536) AS p
        |  FROM urls, (SELECT unnest(range(0, 5)) AS i) s),
        |probe AS (
        |  SELECT url, truth,
        |    bool_and(coalesce((w.word >> (c.p % 64)::INT) & 1, 0) = 1) AS hit
        |  FROM cpos c LEFT JOIN words w ON w.word_idx = c.p // 64
        |  GROUP BY 1, 2)
        |SELECT count(*)::BIGINT AS n_candidates,
        |  sum(CASE WHEN truth THEN 1 ELSE 0 END)::BIGINT AS n_seen,
        |  sum(CASE WHEN hit THEN 1 ELSE 0 END)::BIGINT AS n_hits,
        |  sum(CASE WHEN hit AND NOT truth THEN 1 ELSE 0 END)::BIGINT
        |    AS n_false_positives,
        |  sum(CASE WHEN truth AND NOT hit THEN 1 ELSE 0 END)::BIGINT
        |    AS n_false_negatives,
        |  true AS fold_equals_rebuild
        |FROM probe""".stripMargin,
    "frontier_bloom_seen" ->
      """WITH urls AS (
        |  SELECT doc_id, 'https://example.com/item/' || doc_id::VARCHAR AS url,
        |    doc_id % 2 = 0 AS truth
        |  FROM documents),
        |bpos AS (
        |  SELECT (('0x' || substr(md5('bloom:' || i::VARCHAR || ':' || url),
        |           1, 15))::BIGINT % 16384) AS p
        |  FROM urls, (SELECT unnest(range(0, 5)) AS i) s
        |  WHERE truth),
        |words AS (
        |  -- UBIGINT: DuckDB's signed << overflows at bit 63; the bit
        |  -- patterns match Spark's signed longs and only counts output
        |  SELECT p // 64 AS word_idx, bit_or(1::UBIGINT << (p % 64)::INT) AS word
        |  FROM bpos GROUP BY 1),
        |cpos AS (
        |  SELECT url, truth,
        |    (('0x' || substr(md5('bloom:' || i::VARCHAR || ':' || url),
        |     1, 15))::BIGINT % 16384) AS p
        |  FROM urls, (SELECT unnest(range(0, 5)) AS i) s),
        |probe AS (
        |  SELECT url, truth,
        |    bool_and(coalesce((w.word >> (c.p % 64)::INT) & 1, 0) = 1) AS hit
        |  FROM cpos c LEFT JOIN words w ON w.word_idx = c.p // 64
        |  GROUP BY 1, 2)
        |SELECT count(*)::BIGINT AS n_candidates,
        |  sum(CASE WHEN truth THEN 1 ELSE 0 END)::BIGINT AS n_seen,
        |  sum(CASE WHEN hit THEN 1 ELSE 0 END)::BIGINT AS n_hits,
        |  sum(CASE WHEN hit AND NOT truth THEN 1 ELSE 0 END)::BIGINT
        |    AS n_false_positives,
        |  sum(CASE WHEN truth AND NOT hit THEN 1 ELSE 0 END)::BIGINT
        |    AS n_false_negatives
        |FROM probe""".stripMargin,
    "corpus_bottomk_jaccard" ->
      """WITH sh AS (
        |  SELECT DISTINCT lang, ('0x' || substr(md5(s), 1, 15))::BIGINT AS hv
        |  FROM (SELECT lang, unnest(list_transform(range(1, len(w)-1),
        |          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
        |        FROM (SELECT lang, regexp_split_to_array(trim(text), '\s+') AS w
        |              FROM documents))),
        |sig AS (
        |  SELECT lang, hv FROM (
        |    SELECT lang, hv,
        |      row_number() OVER (PARTITION BY lang ORDER BY hv) AS rn
        |    FROM sh) WHERE rn <= 256),
        |pr AS (
        |  SELECT a.lang AS slice_a, b.lang AS slice_b
        |  FROM (SELECT DISTINCT lang FROM sig) a,
        |       (SELECT DISTINCT lang FROM sig) b
        |  WHERE a.lang < b.lang),
        |u AS (
        |  SELECT slice_a, slice_b, hv, count(*) AS cnt,
        |    max(CASE WHEN s.lang = slice_a THEN 1 ELSE 0 END) AS in_a,
        |    max(CASE WHEN s.lang = slice_b THEN 1 ELSE 0 END) AS in_b
        |  FROM pr JOIN sig s ON s.lang = slice_a OR s.lang = slice_b
        |  GROUP BY slice_a, slice_b, hv),
        |r AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY slice_a, slice_b ORDER BY hv) AS rn FROM u)
        |SELECT slice_a, slice_b,
        |  sum(CASE WHEN cnt = 2 THEN 1 ELSE 0 END)::BIGINT AS n_common,
        |  count(*)::BIGINT AS denom,
        |  CAST((2*1000000*sum(CASE WHEN cnt = 2 THEN 1 ELSE 0 END) + count(*))
        |    // (2*count(*)) AS BIGINT) AS est_jaccard_micros,
        |  CAST((2*1000000*sum(CASE WHEN cnt = 2 THEN 1 ELSE 0 END) + sum(in_a))
        |    // (2*sum(in_a)) AS BIGINT) AS est_containment_a_micros,
        |  CAST((2*1000000*sum(CASE WHEN cnt = 2 THEN 1 ELSE 0 END) + sum(in_b))
        |    // (2*sum(in_b)) AS BIGINT) AS est_containment_b_micros
        |FROM r WHERE rn <= 256 GROUP BY slice_a, slice_b
        |ORDER BY slice_a, slice_b""".stripMargin,
    // both legs replayed on the sample: exact pairs brute-force, LSH
    // pairs via the md5 universal-hash MinHash replay, then the recall
    // aggregate (::BIGINT casts per the exact-hash gate discipline)
    "minhash_recall_probe" ->
      """WITH g AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(w)-1),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
        |  FROM (SELECT doc_id, regexp_split_to_array(text, '\s+') AS w
        |        FROM documents WHERE doc_id < 200)),
        |exact AS (
        |  SELECT id_a, id_b FROM (
        |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |      len(list_intersect(a.sh, b.sh))::DOUBLE /
        |        len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
        |    FROM g a JOIN g b ON a.doc_id < b.doc_id)
        |  WHERE jaccard >= 0.2),
        |p AS (
        |  SELECT j,
        |    (1 + ('0x'||substr(md5('minhash-a:'||j::VARCHAR),1,16))::UBIGINT
        |         % 2147483646)::BIGINT AS a,
        |    (('0x'||substr(md5('minhash-b:'||j::VARCHAR),1,16))::UBIGINT
        |         % 2147483647)::BIGINT AS b
        |  FROM range(32) t(j)),
        |x AS (
        |  SELECT doc_id,
        |    (('0x'||substr(md5(s),1,16))::UBIGINT % 2147483647)::BIGINT AS x
        |  FROM (SELECT doc_id, unnest(sh) AS s FROM g WHERE len(sh) > 0)),
        |sigs AS (
        |  SELECT doc_id, j, min((a * x + b) % 2147483647) AS sig
        |  FROM x CROSS JOIN p GROUP BY doc_id, j),
        |bk AS (
        |  SELECT doc_id, j // 4 AS band,
        |    string_agg(sig::VARCHAR, ',' ORDER BY j) AS bh
        |  FROM sigs GROUP BY doc_id, j // 4),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bk a JOIN bk b
        |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
        |lsh AS (
        |  SELECT c.id_a, c.id_b FROM cand c
        |  JOIN g ga ON ga.doc_id = c.id_a
        |  JOIN g gb ON gb.doc_id = c.id_b
        |  WHERE len(list_intersect(ga.sh, gb.sh))::DOUBLE /
        |          len(list_distinct(list_concat(ga.sh, gb.sh))) >= 0.2)
        |SELECT count(*)::BIGINT AS n_exact,
        |  sum(CASE WHEN l.id_a IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_caught,
        |  CAST((2*1000000*sum(CASE WHEN l.id_a IS NOT NULL THEN 1 ELSE 0 END)
        |      + count(*)) // (2*count(*)) AS BIGINT) AS recall_micros
        |FROM exact e LEFT JOIN lsh l USING (id_a, id_b)""".stripMargin,
    // cluster closure + md5 split on the representative (singletons
    // represent themselves); the threshold literal is the engine's own
    // hexThreshold rendering, so the boundary can never drift
    "leakage_safe_split" ->
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
        |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
        |rep AS (
        |  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS r
        |  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
        |  WHERE substr(md5(d.doc_id::VARCHAR), 1, 1) IN ('0', '1', '2', '3', '4', '5', '6', '7'))
        |SELECT doc_id,
        |  CASE WHEN substr(md5(r::VARCHAR || ':ls0'), 1, 8)
        |            < '${graft.ops.Sampling.hexThreshold(0.8)}'
        |       THEN 'train' ELSE 'test' END AS split
        |FROM rep ORDER BY doc_id""".stripMargin,
    "dedup_survivors" ->
      """WITH RECURSIVE g AS MATERIALIZED (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(w)-1),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
        |  FROM (SELECT doc_id, regexp_split_to_array(text, '\s+') AS w FROM documents)),
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
        |losers AS (
        |  SELECT id FROM (SELECT id, min(r) AS component FROM reach GROUP BY id)
        |  WHERE id <> component)
        |SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT id FROM losers)
        |ORDER BY doc_id""".stripMargin,
    "dedup_embedding_cosine" ->
      """SELECT id_a, id_b, round(s, 6) AS sim FROM (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS s
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
        |WHERE s > 0.35 ORDER BY id_a, id_b""".stripMargin,
    // the SRP planes are md5-derived Rademacher signs
    // (Dedup.rademacherPlanes), so the oracle regenerates them —
    // plane[t][b][i] = +1 iff the first md5 hex digit of
    // 'srp:t:b:i:42' is even — recomputes each vector's 6 bucket ids
    // (bit b set iff dot >= 0), equi-joins candidates per table, and
    // verifies with the exact cosine, exactly the engine's plan
    "dedup_embedding_lsh" ->
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |  WHERE embedding IS NOT NULL),
        |planes AS (
        |  SELECT t, b, i,
        |    CASE WHEN ('0x' || substr(md5('srp:'||t||':'||b||':'||(i-1)||':42'),1,1))::INT
        |              % 2 = 0 THEN 1.0 ELSE -1.0 END AS w
        |  FROM range(0,6) r1(t), range(0,6) r2(b), range(1,65) r3(i)),
        |dots AS (
        |  SELECT e.vec_id, p.t, p.b, SUM(e.v[p.i::INT] * p.w) AS d
        |  FROM e, planes p GROUP BY 1, 2, 3),
        |buckets AS (
        |  SELECT vec_id, t,
        |    SUM(CASE WHEN d >= 0 THEN (1::BIGINT << b::INT) ELSE 0 END) AS bucket
        |  FROM dots GROUP BY 1, 2),
        |cand AS (
        |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM buckets a JOIN buckets b
        |    ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
        |SELECT id_a, id_b, round(s, 6) AS sim FROM (
        |  SELECT c.id_a, c.id_b, list_cosine_similarity(ea.v, eb.v) AS s
        |  FROM cand c
        |  JOIN e ea ON ea.vec_id = c.id_a
        |  JOIN e eb ON eb.vec_id = c.id_b)
        |WHERE s > 0.35 ORDER BY id_a, id_b""".stripMargin,
    // the engine's simhash is md5-derived, so the oracle recomputes the
    // fingerprints from scratch: per token the first 16 md5 hex chars as
    // a u64, per bit a +1/-1 vote over ALL token occurrences, bit set on
    // a positive vote — rendered as the 64-char binary string (bit 63
    // first; DuckDB's UBIGINT << 63 overflows, strings don't)
    "fingerprint_simhash" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS t
        |  FROM documents),
        |h AS (SELECT doc_id, ('0x'||substr(md5(t),1,16))::UBIGINT AS h FROM tok),
        |v AS (SELECT doc_id, b,
        |        SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |      FROM h, UNNEST(range(0,64)) AS r(b) GROUP BY doc_id, b),
        |fp AS (SELECT doc_id,
        |         string_agg(CASE WHEN v > 0 THEN '1' ELSE '0' END, ''
        |           ORDER BY b DESC) AS simhash_bits
        |       FROM v GROUP BY doc_id)
        |SELECT doc_id, simhash_bits FROM fp ORDER BY doc_id""".stripMargin,
    // brute-force all-pairs over the recomputed fingerprints; the
    // engine's banded join must equal it exactly at the
    // pigeonhole-complete setting (trimmed tokenization + empty-text
    // filter mirror Dedup.simhashNearDupPairs)
    "dedup_simhash_pairs" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS t
        |  FROM documents WHERE len(trim(text)) > 0),
        |h AS (SELECT doc_id, ('0x'||substr(md5(t),1,16))::UBIGINT AS h FROM tok),
        |v AS (SELECT doc_id, b,
        |        SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |      FROM h, UNNEST(range(0,64)) AS r(b) GROUP BY doc_id, b),
        |fp AS (SELECT doc_id,
        |         string_agg(CASE WHEN v > 0 THEN '1' ELSE '0' END, ''
        |           ORDER BY b DESC) AS f
        |       FROM v GROUP BY doc_id)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  len(list_filter(range(1,65), i -> substr(a.f,i,1) <> substr(b.f,i,1)))::BIGINT
        |    AS hamming
        |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        |WHERE len(list_filter(range(1,65), i -> substr(a.f,i,1) <> substr(b.f,i,1))) <= 3
        |ORDER BY id_a, id_b""".stripMargin,
    // dedup_minhash_lsh now carries a FULL hash oracle (md5-derived
    // universal hashing, see above); these invariants remain as the
    // banded ≡ brute-force CONTRACT guard — every bit constant-true
    "dedup_minhash_subset_invariant" ->
      """SELECT true AS subset_of_exact, true AS jaccard_matches_exact,
        |  true AS found_pairs""".stripMargin,
    "incremental_neardup_check" ->
      """SELECT true AS subset_of_exact, true AS jaccard_matches_exact,
        |  true AS all_planted_found""".stripMargin,
    // the ENTIRE incremental path replayed: md5 Rademacher planes,
    // store + batch buckets, bipartite candidate join, exact cosine
    "incremental_embdup_check" ->
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |  WHERE embedding IS NOT NULL),
        |bat AS (SELECT vec_id + 1000000 AS bid, v FROM e WHERE vec_id < 20),
        |planes AS (
        |  SELECT t, b, i,
        |    CASE WHEN ('0x' || substr(md5('srp:'||t||':'||b||':'||(i-1)||':42'),1,1))::INT
        |              % 2 = 0 THEN 1.0 ELSE -1.0 END AS w
        |  FROM range(0,4) r1(t), range(0,8) r2(b), range(1,65) r3(i)),
        |sdots AS (
        |  SELECT e.vec_id, p.t, p.b, SUM(e.v[p.i::INT] * p.w) AS d
        |  FROM e, planes p GROUP BY 1, 2, 3),
        |sbuck AS (
        |  SELECT vec_id, t,
        |    SUM(CASE WHEN d >= 0 THEN (1::BIGINT << b::INT) ELSE 0 END) AS bucket
        |  FROM sdots GROUP BY 1, 2),
        |bdots AS (
        |  SELECT bat.bid, p.t, p.b, SUM(bat.v[p.i::INT] * p.w) AS d
        |  FROM bat, planes p GROUP BY 1, 2, 3),
        |bbuck AS (
        |  SELECT bid, t,
        |    SUM(CASE WHEN d >= 0 THEN (1::BIGINT << b::INT) ELSE 0 END) AS bucket
        |  FROM bdots GROUP BY 1, 2),
        |cand AS (
        |  SELECT DISTINCT b.bid, s.vec_id AS sid
        |  FROM bbuck b JOIN sbuck s ON b.t = s.t AND b.bucket = s.bucket)
        |SELECT bid AS batch_id, sid AS store_id, round(s, 6) AS sim FROM (
        |  SELECT c.bid, c.sid, list_cosine_similarity(bb.v, ss.v) AS s
        |  FROM cand c
        |  JOIN bat bb ON bb.bid = c.bid
        |  JOIN e ss ON ss.vec_id = c.sid)
        |WHERE s > 0.35 ORDER BY batch_id, store_id""".stripMargin,
    "dedup_simhash_equivalence_invariant" ->
      """SELECT true AS banded_equals_bruteforce, true AS found_pairs""",
    "fingerprint_consistency_invariant" ->
      """SELECT true AS identical_texts_identical_fingerprints,
        |  true AS every_group_checked,
        |  (SELECT count(DISTINCT text) FROM documents) AS n_text_groups""".stripMargin,
    "dedup_embedding_lsh_subset_invariant" ->
      """SELECT true AS subset_of_exact, true AS sim_matches_exact,
        |  true AS found_pairs""".stripMargin,
    // SemDeDup: nearest-centroid assignment replayed as an argmin
    // (row_number over distance, centroid-id tiebreak — the engine's
    // array_min-over-structs order), then within-cluster pairs only
    "semantic_dedup_pairs" ->
      """WITH cent AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
        |              FROM embeddings WHERE vec_id < 4),
        |corp AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |asg AS (SELECT vec_id, cid FROM (
        |  SELECT c.vec_id, ct.cid, row_number() OVER (PARTITION BY c.vec_id
        |      ORDER BY list_distance(c.v, ct.cv), ct.cid) AS rn
        |  FROM corp c, cent ct) WHERE rn = 1)
        |SELECT CAST(a.cid AS BIGINT) AS cluster_id,
        |  a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_cosine_similarity(ca.v, cb.v), 6) AS sim
        |FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
        |JOIN corp ca ON ca.vec_id = a.vec_id
        |JOIN corp cb ON cb.vec_id = b.vec_id
        |WHERE list_cosine_similarity(ca.v, cb.v) > 0.35
        |ORDER BY id_a, id_b""".stripMargin,
    "semantic_dedup_survivors" ->
      """WITH RECURSIVE cent AS MATERIALIZED (
        |  SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
        |  FROM embeddings WHERE vec_id < 4),
        |corp AS MATERIALIZED (
        |  SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
        |asg AS MATERIALIZED (SELECT vec_id, cid FROM (
        |  SELECT c.vec_id, ct.cid, row_number() OVER (PARTITION BY c.vec_id
        |      ORDER BY list_distance(c.v, ct.cv), ct.cid) AS rn
        |  FROM corp c, cent ct) WHERE rn = 1),
        |p AS MATERIALIZED (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
        |  JOIN corp ca ON ca.vec_id = a.vec_id
        |  JOIN corp cb ON cb.vec_id = b.vec_id
        |  WHERE list_cosine_similarity(ca.v, cb.v) > 0.35),
        |e AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM p
        |      UNION ALL SELECT id_b, id_a FROM p),
        |reach AS (
        |  SELECT src AS id, src AS r FROM e
        |  UNION
        |  SELECT reach.id, e.dst FROM reach JOIN e ON reach.r = e.src),
        |losers AS (
        |  SELECT id FROM (SELECT id, min(r) AS component FROM reach GROUP BY id)
        |  WHERE id <> component)
        |SELECT vec_id, label FROM corp
        |WHERE vec_id NOT IN (SELECT id FROM losers)
        |ORDER BY vec_id""".stripMargin,
    "decontaminate_semantic" ->
      """WITH ev AS (
        |  SELECT embedding FROM embeddings
        |  WHERE vec_id < 20 AND embedding IS NOT NULL),
        |c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 20),
        |m AS (
        |  SELECT c.vec_id,
        |    round(max(list_cosine_similarity(c.embedding::DOUBLE[],
        |      ev.embedding::DOUBLE[])), 6) AS max_eval_sim
        |  FROM c CROSS JOIN ev GROUP BY c.vec_id)
        |SELECT vec_id, max_eval_sim, max_eval_sim >= 0.35 AS leaked
        |FROM m ORDER BY vec_id""".stripMargin,
    "dedup_savings_report" ->
      """WITH docs AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 4 = 1
        |      THEN 'dup ' || (doc_id % 16)::VARCHAR || ' '
        |           || repeat('pad ', (doc_id % 16 + 1)::INT)
        |      ELSE text END AS text
        |  FROM documents),
        |g AS (SELECT min(doc_id) AS doc_id, count(*)::BIGINT AS n_copies
        |  FROM docs GROUP BY md5(text) HAVING count(*) > 1)
        |SELECT g.doc_id, g.n_copies, length(d.text)::BIGINT AS bytes_each,
        |  (g.n_copies - 1) * length(d.text)::BIGINT AS bytes_saved
        |FROM g JOIN docs d ON d.doc_id = g.doc_id
        |ORDER BY g.doc_id""".stripMargin,
    // identical double arithmetic in the same order; the ±0.1 operands
    // are written as EXPRESSIONS (0.8 - 0.1) so both engines evaluate
    // the same IEEE sum, not a re-parsed decimal
    "dedup_lsh_band_plan" ->
      """WITH plans AS (SELECT unnest(list_filter(range(1, 33),
        |    b -> 32 % b = 0))::INT AS bands),
        |sc AS (SELECT bands, (32 // bands)::INT AS rows_per_band,
        |    pow(1.0 / bands, 1.0 / ((32 // bands)::INT)) AS infl,
        |    round(1.0 - pow(1.0 - pow(0.8, (32 // bands)::INT), bands), 6)
        |      AS p_at_threshold,
        |    round(1.0 - pow(1.0 - pow(0.8 - 0.1, (32 // bands)::INT), bands), 6)
        |      AS p_below,
        |    round(1.0 - pow(1.0 - pow(0.8 + 0.1, (32 // bands)::INT), bands), 6)
        |      AS p_above
        |  FROM plans)
        |SELECT bands, rows_per_band, round(infl, 6) AS inflection,
        |  p_at_threshold, p_below, p_above,
        |  row_number() OVER (ORDER BY round(abs(infl - 0.8), 6), bands) = 1
        |    AS chosen
        |FROM sc ORDER BY bands""".stripMargin,
  )
}
