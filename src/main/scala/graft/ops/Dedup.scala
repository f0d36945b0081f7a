package graft.ops

import scala.collection.mutable.{ArrayBuffer, ArrayBuilder}

import org.apache.spark.{HashPartitioner, Partitioner}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Tables.pinned
import graft.functions.VectorFunctions

/** Deduplication operators for large-scale training-data pipelines.
  *
  * The reference only needs exact content dedup (P5,
  * `src/server/utils/embedding.py:296-304`, a hash-set scan) and the
  * id-keyed merge anti-join (S15). This module keeps those semantics and
  * adds the near-dup family a 100 TB corpus needs: MinHash+LSH banding,
  * SimHash fingerprints, exact n-gram Jaccard via an inverted-index join
  * (never an all-pairs cross join), and embedding-cosine near-dup with a
  * sign-random-projection LSH path.
  *
  * Scale notes, per operator, are on each method — the common theme: all
  * candidate generation is equi-join-shaped (shuffle on a key), so every
  * step partitions cleanly across executors; nothing collects to the
  * driver.
  */
object Dedup {

  /** Exact dedup keeping the smallest id per distinct value of `byCol`
    * (deterministic representative — `dropDuplicates` keeps an arbitrary
    * row, which is not oracle-checkable). One hash-aggregate shuffle.
    */
  def exact(df: DataFrame, idCol: String, byCol: String): DataFrame =
    // group on the md5 digest, not the raw column: the exchange key for
    // a KB-sized text column would carry the whole corpus text through
    // the shuffle (map-side partial agg collapses within-partition dups,
    // but every UNIQUE text still ships in full) — the digest is 16
    // bytes regardless of document size. Same identity convention as
    // the ingest content key (Split.contentKey); a cross-text md5
    // collision is the accepted negligible-odds trade both share.
    df.groupBy(md5(col(byCol).cast("binary")).as("__k"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
      .select(col(idCol), col("n_copies"))

  /** Distinct word n-grams of a text column, e.g. n=3 → "a b c" shingles.
    * Single-pass custom expression; [[wordShinglesNative]] is the
    * equivalent built-in composition kept as the parity reference (the
    * interpreted higher-order functions evaluate ~10× slower and get
    * re-evaluated per reference after projection collapse).
    */
  def wordShingles(text: Column, n: Int): Column =
    graft.functions.WordNGrams.wordNGrams(text, n)

  /** Reference implementation of [[wordShingles]] from Catalyst built-ins
    * (property-tested equal; used nowhere hot).
    */
  def wordShinglesNative(text: Column, n: Int): Column = {
    val w = split(text, "\\s+")
    when(size(w) >= n,
      array_distinct(transform(
        sequence(lit(0), size(w) - n),
        i => concat_ws(" ", slice(w, i + 1, lit(n))))))
      .otherwise(array().cast("array<string>"))
  }

  /** MinHash+LSH near-dup pairs: shingle → signature → band → bucket
    * equi-join for candidates → exact Jaccard verify on the candidates
    * only. Returns (idA, idB, jaccard) with idA < idB.
    *
    * Scale: the only join key is (band, bandHash) — a plain shuffle
    * equi-join; candidate verification touches |candidates| rows, not
    * |corpus|². Recall is the standard 1-(1-j^r)^b curve, so this is the
    * approximate scale path; [[ngramJaccardPairs]] is the exact one.
    * The shingle table is persisted: it feeds both the banding pass and
    * the verification joins, and signature+banding is a single-pass
    * custom expression ([[graft.functions.MinHashBands]]) — composing
    * interpreted `transform`/`array_min` here re-evaluates the shingle
    * array per reference (measured 15× slower at sf0.1).
    */
  def minhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                          threshold: Double, n: Int = 3,
                          numHashes: Int = 32, bands: Int = 8): DataFrame = {
    pinned(df.select(col(idCol).as("id"),
        array_sort(wordShingles(col(textCol), n)).as("sh"))) { shingled =>
      // eager materialization: the banding self-join scans this twice and
      // concurrent cache population would compute the shingles twice
      shingled.count()
      val banded = bandRowsFromShingled(shingled, "id", "sh", numHashes, bands)
      // length filter in the bucket join: J ≥ t forces min(|A|,|B|) ≥
      // t·max(|A|,|B|), so size-incompatible bucket collisions (which the
      // exact verify would reject anyway) never reach the verify join —
      // same output, strictly fewer candidate rows through the shuffle
      val cand = banded.as("x").join(banded.as("y"),
          col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
            col("x.id") < col("y.id") &&
            col("x.sz") >= lit(threshold) * col("y.sz") - lit(1e-9) &&
            col("y.sz") >= lit(threshold) * col("x.sz") - lit(1e-9))
        .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
        .distinct()
      // candidates are usually few, but a single large duplicate cluster
      // makes the pair set quadratic in the cluster size — never force a
      // broadcast (driver collect) here. SHUFFLE_HASH on the array side:
      // the default sort-merge join would SORT rows carrying the shingle
      // arrays, and sorting KB-sized variable-length payloads is a
      // measured 15x CPU cliff (see ngramJaccardPairs); a hash join moves
      // them exactly once and never sorts them
      cand
        .join(shingled.select(col("id").as("id_a"), col("sh").as("sh_a"))
          .hint("SHUFFLE_HASH"), "id_a")
        .join(shingled.select(col("id").as("id_b"), col("sh").as("sh_b"))
          .hint("SHUFFLE_HASH"), "id_b")
        .withColumn("jaccard",
          graft.functions.SetFunctions.jaccardSorted(col("sh_a"), col("sh_b")))
        .filter(col("jaccard") >= threshold)
        .select(col("id_a"), col("id_b"), col("jaccard"))
        .localCheckpoint()
    }
  }

  /** Optimal LSH banding (b, r) for a target Jaccard threshold — the
    * no-caller-folklore rule for [[minhashNearDupPairs]]'s `bands`
    * knob, the [[Ivf.kForCorpus]] treatment for MinHash. Over the
    * divisor pairs b·r = numHashes it minimizes the weighted collision
    * error of the S-curve P(s) = 1 − (1 − sʳ)ᵇ:
    * fpW·∫₀ᵗ P + fnW·∫ₜ¹ (1 − P)  (the datasketch/"Mining of Massive
    * Datasets" §3.4 integral, 1024-point midpoint rule — exact enough
    * that the argmin is stable: P is smooth and divisor pairs are few).
    * False negatives are weighted 2× by default: a missed near-dup
    * ships a duplicate into training, a false positive only costs one
    * exact-verify row that the Jaccard filter then rejects.
    *
    * Pure driver-side arithmetic over ≤ d(numHashes) pairs —
    * deterministic, no data scan. [[lshBandPlan]] is the human-facing
    * diagnostic of the same S-curves (its inflection-closest "chosen"
    * row usually agrees; this integral form is what
    * [[minhashNearDupPairsAuto]] plugs in, because it prices the two
    * error kinds instead of centering the curve).
    */
  def optimalBands(numHashes: Int, threshold: Double,
                   fpWeight: Double = 1.0, fnWeight: Double = 2.0): Int = {
    require(numHashes >= 2, s"numHashes=$numHashes")
    require(threshold > 0 && threshold < 1, s"threshold=$threshold")
    val candidates = (1 to numHashes).filter(numHashes % _ == 0)
    def err(b: Int): Double = {
      val r = numHashes / b
      val steps = 1024
      var fp = 0.0
      var fn = 0.0
      var i = 0
      while (i < steps) {
        val s = (i + 0.5) / steps
        val p = 1.0 - math.pow(1.0 - math.pow(s, r), b)
        if (s < threshold) fp += p else fn += 1.0 - p
        i += 1
      }
      (fpWeight * fp + fnWeight * fn) / steps
    }
    candidates.minBy(err)
  }

  /** [[minhashNearDupPairs]] with the banding chosen by
    * [[optimalBands]] from the threshold — same plan, no hand-tuned
    * `bands` argument to get wrong (a b too low for the threshold
    * silently loses recall; too high floods the candidate join).
    */
  def minhashNearDupPairsAuto(df: DataFrame, idCol: String, textCol: String,
                              threshold: Double, n: Int = 3,
                              numHashes: Int = 32): DataFrame =
    minhashNearDupPairs(df, idCol, textCol, threshold, n, numHashes,
      optimalBands(numHashes, threshold))

  /** Rarest-first prefix index over an exploded `(id, sz, shingle)`
    * shingle index: keeps each doc's first |d| − ⌈t·|d|⌉ + 1 shingles
    * under the (global docfreq asc, shingle) order, df=1-pruned. The
    * epsilon only ever *lengthens* the prefix under float rounding (extra
    * candidates are harmless, a shortened prefix would lose pairs).
    * Carries `sz` (the document's full shingle count) and `rk` (the
    * shingle's 1-based position in the document's globally-ordered list)
    * so the candidate join can apply the length and positional filters.
    */
  private def prefixIndex(inv: DataFrame, threshold: Double): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    // docfreq as an unordered whole-partition window over the exploded
    // index itself: one exchange on shingle, replacing the r2
    // aggregate-then-join (which shuffled the index twice — measured 3×
    // the cost at sf0.1 for identical output). The rank is computed over
    // ALL of a document's shingles (df=1 included) and df=1 pruned only
    // from the resulting prefix, so the candidate set is bit-identical
    // to the aggregate formulation.
    inv.withColumn("docfreq", count(lit(1)).over(w.partitionBy(col("shingle"))))
      .withColumn("rk", row_number().over(
        w.partitionBy(col("id")).orderBy(col("docfreq"), col("shingle"))))
      .filter(col("rk") <= col("sz") - ceil(lit(threshold) * col("sz") - lit(1e-9)) + 1)
      .filter(col("docfreq") > 1)
      .select(col("id"), col("sz"), col("rk"), col("shingle"))
  }

  /** The shared AllPairs/PPJoin candidate stage over two [[prefixIndex]]
    * frames (aliased "x" and "y"): equi-join on the prefix shingle under
    * `extraCond`, length filter as a join predicate (J≥t forces
    * min(|A|,|B|) ≥ t·max(|A|,|B|)), then the positional filter — a
    * match at 1-based positions (rk_x, rk_y) of two lists sorted by the
    * SAME global order bounds overlap ≤ min(rk) + min(sz−rk); the min of
    * that bound over a pair's matches is checked against the required
    * overlap α = ⌈t·(|A|+|B|)/(1+t)⌉ inside the groupBy that replaces a
    * plain distinct (zero extra exchanges). Epsilons only ever loosen.
    * Within-document hash-collision ties could in principle perturb a
    * position — the same ~|sh|²/2⁶⁵ risk class as the prefix
    * construction itself. ONE definition shared by [[ngramJaccardPairs]]
    * and [[ngramJaccardJoin]].
    */
  private def ppjoinCandidates(x: DataFrame, y: DataFrame, threshold: Double,
                               extraCond: Column, idA: Column,
                               idB: Column): DataFrame = {
    val tl = lit(threshold)
    x.as("x").join(y.as("y"),
        col("x.shingle") === col("y.shingle") && extraCond &&
          col("x.sz") >= tl * col("y.sz") - lit(1e-9) &&
          col("y.sz") >= tl * col("x.sz") - lit(1e-9))
      .select(idA.as("id_a"), idB.as("id_b"),
        (least(col("x.rk"), col("y.rk")) +
          least(col("x.sz") - col("x.rk"), col("y.sz") - col("y.rk"))).as("ob"),
        ceil(tl / (tl + lit(1)) * (col("x.sz") + col("y.sz")) - lit(1e-9)).as("alpha"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(min(col("ob")).as("ob"), first(col("alpha")).as("alpha"))
      .filter(col("ob") >= col("alpha"))
      .select(col("id_a"), col("id_b"))
  }

  /** Exact n-gram Jaccard pairs via a prefix-filtered inverted-index join
    * (AllPairs/PPJoin candidate generation): order every document's
    * shingles by a global rarest-first total order (ascending document
    * frequency, hash tiebreak) and index only each document's *prefix* —
    * its first |d| − ⌈t·|d|⌉ + 1 shingles. Two sets with J(A,B) ≥ t must
    * overlap by ≥ ⌈t·|d|⌉ elements on each side, so they necessarily
    * share a shingle inside both prefixes; the equi-join on prefix
    * shingles therefore finds every qualifying pair. Candidates are then
    * verified *exactly* on the full shingle arrays (strings — the 64-bit
    * hash is only a join/ordering key, so a cross-document collision can
    * only add candidates, and a jaccard value is never perturbed; the one
    * theoretical loss mode, a collision *within* one document shortening
    * its effective prefix, has odds ~|sh|²/2⁶⁵ per document).
    *
    * Scale: the naive inverted-index self-join is quadratic in
    * per-shingle document frequency, and hot shingles (stopword
    * trigrams, df ~10⁶ at corpus scale) make that blow up. Rarest-first
    * prefixes bound it: a hot shingle sits at the *end* of the global
    * order, so it falls outside almost every document's prefix and never
    * becomes a join key unless a document consists of nothing but hot
    * shingles. The added cost is linear — one df aggregation and one
    * per-document sort (a window over the id partitioning). df=1 pruning
    * composes: a prefix shingle unique to one document cannot match.
    *
    * `maxDf` is the guard for exactly that adversarial residue — a
    * corpus slice of documents made of NOTHING but hot shingles (spam
    * farms, boilerplate mirrors), whose full-length prefixes reinstate
    * the quadratic join. When set, similarity is computed over the
    * RARE-shingle sets (shingles appearing in ≤ maxDf documents —
    * winnowingOverlapPairs' ubiquitous-match drop, MOSS's convention):
    * sizes, prefixes AND the exact verify all use the filtered sets, so
    * the result is exact Jaccard of the filtered sets, not an
    * approximation of the unfiltered one (dropping a hot shingle two
    * docs share lowers their J; dropping one only one side carries
    * raises it — the capped pair set is neither a subset nor a superset
    * of the uncapped, which is why the default stays None).
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        threshold: Double, n: Int = 3,
                        maxDf: Option[Int] = None): DataFrame = {
    // persist the shingle arrays: they feed the inverted index and the
    // exact verify joins (shingle construction is worth exactly one pass)
    // arrays are sorted once here (cached) so the verify step can use
    // the allocation-free merge-scan jaccard; shingle→index explode and
    // sizes are order-insensitive
    val raw = df.select(col(idCol).as("id"),
        array_sort(wordShingles(col(textCol), n)).as("sh"))
      .filter(size(col("sh")) > 0)
    val filtered = maxDf match {
      case None => raw
      case Some(cap) =>
        require(cap >= 1, s"maxDf must be >= 1, got $cap")
        val ex = raw.select(col("id"), explode(col("sh")).as("s"))
        val rare = ex.groupBy(col("s"))
          .agg(count(lit(1)).as("__df")) // shingle arrays are distinct per doc
          .filter(col("__df") <= cap).select(col("s"))
        ex.join(rare, "s")
          .groupBy(col("id")).agg(array_sort(collect_list(col("s"))).as("sh"))
          .filter(size(col("sh")) > 0)
    }
    pinned(filtered) { docs =>
      docs.count() // eager: concurrent cache population would shingle twice
      val inv = docs
        .select(col("id"), size(col("sh")).as("sz"), explode(col("sh")).as("s"))
        .select(col("id"), col("sz"), xxhash64(col("s")).as("shingle"))
      pinned(prefixIndex(inv, threshold)) { prefix =>
        val cand = ppjoinCandidates(prefix, prefix, threshold,
          col("x.id") < col("y.id"), col("x.id"), col("y.id"))
        // exact verification on the string arrays; as in minhashNearDupPairs,
        // never force-broadcast the unbounded candidate set (AQE decides)
        cand
          // SHUFFLE_HASH: at 1x AQE happily broadcasts this side, but past
          // the broadcast threshold the default becomes a sort-merge join
          // that sorts the candidate rows WITH their KB-sized shingle
          // arrays twice — measured 60x CPU (3915 s vs 256 s hashed) on the
          // 4x scale probe. Hash joins move the arrays once, sort nothing.
          .join(docs.select(col("id").as("id_a"), col("sh").as("sh_a"))
            .hint("SHUFFLE_HASH"), "id_a")
          .join(docs.select(col("id").as("id_b"), col("sh").as("sh_b"))
            .hint("SHUFFLE_HASH"), "id_b")
          .withColumn("jaccard",
            graft.functions.SetFunctions.jaccardSorted(col("sh_a"), col("sh_b")))
          .filter(col("jaccard") >= threshold)
          .select(col("id_a"), col("id_b"), col("jaccard"))
          .localCheckpoint()
      }
    }
  }

  /** Cross-corpus exact n-gram Jaccard join: `(id_a, id_b, jaccard)`
    * for every left-right pair with J ≥ threshold — the scored
    * generalization of [[decontaminate]] (which only answers "shares
    * any n-gram"): overlap analysis between an incoming batch and the
    * corpus, scored eval-set leakage reports, corpus-vs-corpus audits.
    *
    * Same AllPairs/PPJoin machinery as [[ngramJaccardPairs]], made
    * bipartite: document frequencies are computed over the UNION of
    * both corpora — the prefix theorem needs one total order shared by
    * both sides, and the union df order is rarest-first for the
    * combined workload (df=1 pruning composes: a union-unique shingle
    * cannot match cross-side). Candidates come from the cross-side
    * prefix equi-join under the length filter, pruned by the positional
    * bound, verified exactly on the full arrays. Sides are tracked
    * through a `(side, id)` struct key, so the two id spaces may
    * overlap freely.
    */
  def ngramJaccardJoin(left: DataFrame, leftIdCol: String, leftTextCol: String,
                       right: DataFrame, rightIdCol: String, rightTextCol: String,
                       threshold: Double, n: Int = 3): DataFrame = {
    def prep(df: DataFrame, idCol: String, textCol: String, side: Int) =
      df.select(struct(lit(side).as("side"), col(idCol).as("i")).as("id"),
          array_sort(wordShingles(col(textCol), n)).as("sh"))
        .filter(size(col("sh")) > 0)
    pinned(prep(left, leftIdCol, leftTextCol, 0)
        .unionByName(prep(right, rightIdCol, rightTextCol, 1))) { docs =>
      docs.count() // eager: both the index and the verify read this cache
      val inv = docs
        .select(col("id"), size(col("sh")).as("sz"), explode(col("sh")).as("s"))
        .select(col("id"), col("sz"), xxhash64(col("s")).as("shingle"))
      pinned(prefixIndex(inv, threshold)) { prefix =>
        val cand = ppjoinCandidates(
          prefix.filter(col("id.side") === 0), prefix.filter(col("id.side") === 1),
          threshold, lit(true), col("x.id.i"), col("y.id.i"))
        cand
          .join(docs.filter(col("id.side") === 0)
            .select(col("id.i").as("id_a"), col("sh").as("sh_a"))
            .hint("SHUFFLE_HASH"), "id_a")
          .join(docs.filter(col("id.side") === 1)
            .select(col("id.i").as("id_b"), col("sh").as("sh_b"))
            .hint("SHUFFLE_HASH"), "id_b")
          .withColumn("jaccard",
            graft.functions.SetFunctions.jaccardSorted(col("sh_a"), col("sh_b")))
          .filter(col("jaccard") >= threshold)
          .select(col("id_a"), col("id_b"), col("jaccard"))
          .localCheckpoint()
      }
    }
  }

  /** Connected components over an undirected near-dup edge list
    * `(id_a, id_b)`: returns `(id, component)` for every node that
    * appears in an edge, where `component` is the smallest id reachable
    * — the canonical representative, matching [[exact]]'s min-id
    * convention. The id columns resolve like `col(...)` (so case-
    * insensitively by default). A pair with a null endpoint joins no
    * cluster: it is dropped before the loop, so its other id is in no
    * component (a [[nearDupSurvivors]] singleton). A self-pair `(a, a)`
    * alone outputs `(a, a)`.
    *
    * One loop for every id type, on BIGINT ids, in two parts.
    *
    * Local contraction first. The directed edges (both directions of
    * every pair) are hash-partitioned by destination into the loop's
    * `nParts` partitions, and each partition runs a union-find over its
    * edges whose root is always the smallest id. When the graph fits one
    * loop partition (fewer than 2¹⁶ directed edges, or fewer than 2²⁰
    * under one shuffle partition), that union-find saw every edge: its
    * roots are the labels, and no block is built and no round runs.
    * Otherwise the loop runs on the contracted graph, where every node
    * links both ways to the min node of each of its local components:
    * the same components with the same min ids. A node's own partition
    * holds all its edges, so its init label — the min over itself and
    * its contracted neighbors — is already at most its min neighbor.
    *
    * On the contracted graph each round does min-label propagation with
    * pointer jumping: every node adopts the minimum label among itself
    * and its neighbors, then follows its new label one hop through the
    * previous round's labels (labels only shrink, so the fixpoint is
    * unchanged), which compresses a chain whose ids follow it to
    * ~O(log diameter) rounds; a long chain in hash order of its ids still
    * takes hundreds. A round is ONE job with no per-round planning or
    * codegen: three `partitionBy` shuffles (neighbor-min to each source
    * node's owner, the jump request to each label's owner, the answer
    * back) between `zipPartitions` steps over co-partitioned blocks, and
    * a localCheckpoint of the new labels that truncates the lineage.
    *
    * Every partition is one primitive block, not a stream of records:
    * its contracted edges as a CSR adjacency of `Array[Long]`/`Array[Int]`
    * and its labels as `(ids, labels)` long arrays, and every message
    * crosses a shuffle as one `(partition, (keys, values))` chunk per
    * target partition, min-combined in the map task. So no cogroup, no
    * aggregator map and no per-record size tracking is left in the loop.
    * The price: from the contraction on, a loop partition is held whole
    * in memory, never streamed or spilled by the loop (a persisted block
    * may still go to disk whole). Its raw directed edges cost 16 bytes
    * each, and about four times that while the union-find runs (the
    * gathered chunks, their concatenation, the sorted node set); its
    * block costs at most 24 bytes per contracted edge, and the
    * contraction emits fewer than two edges per node of a partition's
    * local graph. The `1 + (nEdges >> 20)` partition floor keeps the raw
    * edges near 2²⁰, about 16 MB, per loop partition (a hub's skew
    * aside). Before that, the input pairs are read and persisted in
    * blocks of at most 2¹⁶ pairs (1 MB), whatever the size of the
    * caller's partitions, so that persist spills block by block.
    *
    * BIGINT ids enter the loop as they are. Any other id type is first
    * encoded into BIGINT in Spark's own ordering for that type: the
    * distinct ids `orderBy(id)`, numbered by `monotonically_increasing_id`
    * (which increases along the sort), materialized once; two joins
    * encode the pairs and two decode the result. Code order equals id
    * order, so the loop's min label is the min id and the round count is
    * the BIGINT one. Codes that ignore the order (`zipWithUniqueId`, the
    * distinct's hash order) lose both: the representative is no longer
    * the min id, and a long string chain no longer converges in the
    * BIGINT round count. The order is never taken on the driver, where
    * Java's UTF-16 string order differs from Spark's UTF-8 byte order.
    *
    * The convergence test reads a LongAccumulator stamped where a
    * neighbor-min strictly lowers a label. Updates from re-executed
    * shuffle tasks can only OVER-count, so the `changed == 0` exit is
    * exact and an overcount merely runs one extra no-op round.
    * Partially-converged labels would silently keep extra duplicates in
    * [[nearDupSurvivors]], so exhausting `maxIters` throws instead.
    * The RDDs the loop persists are released when it returns or throws,
    * and its label checkpoints too when it throws.
    */
  def connectedComponents(pairs: DataFrame, idACol: String = "id_a",
                          idBCol: String = "id_b", maxIters: Int = 50): DataFrame = {
    val edges = pairs.select(col(idACol).as("a"), col(idBCol).as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull)
    if (edges.schema.forall(_.dataType == org.apache.spark.sql.types.LongType))
      return minLabelLoop(edges, maxIters)
    // materialized once, so the encode and decode joins all read the
    // same codes (a recomputed sort may number its rows differently)
    val codes = edges.select(col("a").as("id")).union(edges.select(col("b").as("id")))
      .distinct()
      .orderBy(col("id"))
      .withColumn("code", monotonically_increasing_id())
      .localCheckpoint()
    def byId(c: String) = codes.select(col("id").as(c), col("code").as(s"${c}_code"))
    val encoded = edges.join(byId("a"), "a").join(byId("b"), "b")
      .select(col("a_code"), col("b_code"))
    def byCode(c: String) = codes.select(col("code").as(c), col("id").as(s"${c}_id"))
    val labels = try minLabelLoop(encoded, maxIters) catch {
      case t: Throwable =>
        // the returned plan would read the codes' checkpoint; a failed
        // loop releases it
        codes.queryExecution.logical.foreach {
          case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.unpersist()
          case _ =>
        }
        throw t
    }
    labels.join(byCode("id"), "id").join(byCode("component"), "component")
      .select(col("id_id").as("id"), col("component_id").as("component"))
  }

  // the loop of [[connectedComponents]] over non-null BIGINT pairs
  private def minLabelLoop(pairs: DataFrame, maxIters: Int): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    // the RDDs this call persists (RDD pins, outside Tables.pinned, which
    // takes a Dataset), released on the way out, when a job fails too;
    // and its label checkpoints, released only when it fails
    // (unpersisting a local checkpoint logs a warning, so a returned loop
    // leaves its earlier rounds' labels to Spark's ContextCleaner)
    val held = ArrayBuffer.empty[RDD[_]]
    def hold[T](r: RDD[T]): RDD[T] = { held += r; r }
    val checkpoints = ArrayBuffer.empty[RDD[_]]
    def checkpoint[T](r: RDD[T]): RDD[T] = { checkpoints += r; r.localCheckpoint() }
    try {
      // the pairs as (a[], b[]) blocks of at most RawBlock pairs, so the
      // persist stores and spills them block by block
      val raw = hold(pairs.queryExecution.toRdd
        .mapPartitions { rows =>
          Iterator.continually {
            val (a, b) = (new ArrayBuilder.ofLong, new ArrayBuilder.ofLong)
            var n = 0
            while (n < RawBlock && rows.hasNext) {
              val r = rows.next()
              a += r.getLong(0); b += r.getLong(1)
              n += 1
            }
            (a.result(), b.result())
          }.takeWhile(_._1.nonEmpty)
        }
        .persist(StorageLevel.MEMORY_AND_DISK))
      // LOOP partition count derived from the MEASURED directed edge
      // count, not the session's shuffle setting (guide §2.2 fewer-larger
      // partitions): every round pays task-scheduling per partition, so a
      // 1,634-edge graph must not shuffle into 32 partitions per round
      // (measured 0.2-0.3 s/round of pure scheduling), while a billions-
      // of-edges graph keeps the cluster's configured width. The 64Ki
      // rows-per-partition floor interpolates smoothly between the two.
      val nEdges = 2 * raw.map(_._1.length.toLong).fold(0L)(_ + _)
      val shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions").toInt
      val nParts = math.max(
        math.min(shufflePartitions.toLong, 1L + (nEdges >> 16)),
        1L + (nEdges >> 20)).toInt
      val part = new HashPartitioner(nParts)
      // (ids, local roots) of each loop partition's union-find
      val roots = raw
        .flatMap { case (a, b) => chunks(a ++ b, b ++ a, part) }
        .partitionBy(part)
        .mapPartitions(cs => Iterator(unionFind(gather(cs))), preservesPartitioning = true)
      // the contracted graph: every node linked both ways to its local
      // root, the root to itself (so a lone self-pair keeps its node)
      lazy val blocks = hold(roots
        .flatMap { case (ids, root) =>
          val child = ids.indices.filter(i => root(i) != ids(i)).toArray
          chunks(ids ++ child.map(root), root ++ child.map(ids), part)
        }
        .partitionBy(part)
        .mapPartitions(cs => Iterator(CcBlock(gather(cs))), preservesPartitioning = true)
        .persist(StorageLevel.MEMORY_AND_DISK))
      // one partition's union-find saw every edge: its roots are final
      var labels = checkpoint(
        if (nParts == 1) roots else blocks.map(b => (b.nodes, b.initLabels)))
      labels.count(): Unit
      var changed = if (nParts == 1) 0L else 1L
      var it = 0
      while (changed > 0 && it < maxIters) {
        val acc = spark.sparkContext.longAccumulator(s"cc-changed-$it")
        val prev = labels
        // neighbor-min, combined per source node in the map task
        val nbrMin = blocks.zipPartitions(prev) { (bs, ls) =>
          val b = bs.next()
          chunks(b.srcs, b.nbrMin(ls.next()._2), part)
        }.partitionBy(part)
        // adopt the smaller label, stamp strict improvements, and ask the
        // owner of each adopted label for that label's previous label
        val asks = prev.zipPartitions(nbrMin) { (ls, ms) =>
          val (ids, lab) = ls.next()
          val (ks, vs) = gather(ms)
          val adopted = lab.clone()
          var j = 0
          while (j < ks.length) {
            val i = java.util.Arrays.binarySearch(ids, ks(j))
            if (vs(j) < adopted(i)) adopted(i) = vs(j)
            j += 1
          }
          acc.add(adopted.indices.count(i => adopted(i) < lab(i)).toLong)
          chunks(adopted, ids, part)
        }.partitionBy(part)
        // pointer jump through the PREVIOUS round's labels
        val answers = prev.zipPartitions(asks) { (ls, as) =>
          val (ids, lab) = ls.next()
          val (cs, ns) = gather(as)
          chunks(ns, cs.map(c => lab(java.util.Arrays.binarySearch(ids, c))), part)
        }.partitionBy(part)
        labels = checkpoint(prev.zipPartitions(answers) { (ls, as) =>
          val ids = ls.next()._1
          val (ns, next) = gather(as)
          val out = new Array[Long](ids.length)
          var j = 0
          while (j < ns.length) {
            out(java.util.Arrays.binarySearch(ids, ns(j))) = next(j)
            j += 1
          }
          Iterator((ids, out))
        })
        labels.count(): Unit
        changed = acc.value
        it += 1
      }
      if (changed > 0)
        throw new IllegalStateException(
          s"connectedComponents did not converge after $it rounds " +
            s"($changed labels still changing); raise maxIters")
      labels.flatMap { case (ids, lab) => ids.iterator.zip(lab.iterator) }
        .toDF("id", "component")
    } catch {
      case t: Throwable => checkpoints.foreach(_.unpersist()); throw t
    } finally held.foreach(_.unpersist())
  }

  /** Pairs per block of the loop's input persist: 1 MB of pairs. */
  private val RawBlock = 1 << 16

  /** `(keys(i), vals(i))` bucketed by the loop partition that owns each
    * key: one `(partition, (keys, vals))` chunk per non-empty bucket. */
  private def chunks(keys: Array[Long], vals: Array[Long],
                     part: Partitioner): Iterator[(Int, (Array[Long], Array[Long]))] = {
    val nParts = part.numPartitions
    val to = keys.map(part.getPartition(_))
    val n = new Array[Int](nParts)
    to.foreach(p => n(p) += 1)
    val ks = n.map(new Array[Long](_))
    val vs = n.map(new Array[Long](_))
    java.util.Arrays.fill(n, 0)
    var i = 0
    while (i < keys.length) {
      val p = to(i)
      ks(p)(n(p)) = keys(i)
      vs(p)(n(p)) = vals(i)
      n(p) += 1
      i += 1
    }
    (0 until nParts).iterator.filter(ks(_).nonEmpty).map(p => (p, (ks(p), vs(p))))
  }

  /** The chunks that reached one partition, concatenated. */
  private def gather(cs: Iterator[(Int, (Array[Long], Array[Long]))]): (Array[Long], Array[Long]) = {
    val (ks, vs) = cs.map(_._2).toArray.unzip
    (Array.concat(ks.toIndexedSeq: _*), Array.concat(vs.toIndexedSeq: _*))
  }

  private def distinctSorted(xs: Array[Long]): Array[Long] = {
    val s = xs.clone()
    java.util.Arrays.sort(s)
    var n = 0
    var i = 0
    while (i < s.length) {
      if (n == 0 || s(i) != s(n - 1)) { s(n) = s(i); n += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(s, n)
  }

  /** Local union-find over one partition's directed edges `(dst, src)`,
    * rooted at the smallest id: `(ids, roots)`, the partition's nodes
    * sorted and each node's local root. */
  private def unionFind(edges: (Array[Long], Array[Long])): (Array[Long], Array[Long]) = {
    val (dst, src) = edges
    val ids = distinctSorted(dst ++ src)
    val parent = Array.range(0, ids.length)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    var e = 0
    while (e < dst.length) {
      val a = find(java.util.Arrays.binarySearch(ids, dst(e)))
      val b = find(java.util.Arrays.binarySearch(ids, src(e)))
      // ids are sorted, so the smaller index is the smaller id
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
      e += 1
    }
    (ids, Array.tabulate(ids.length)(i => ids(find(i))))
  }

  /** One loop partition's contracted edges `(dst, src)`: `nodes` are the
    * distinct destinations (the nodes the partition owns), sorted, and
    * `adj(start(s) until start(s + 1))` index the nodes that source
    * `srcs(s)` links to. */
  private final case class CcBlock(nodes: Array[Long], srcs: Array[Long],
                                   start: Array[Int], adj: Array[Int]) {
    /** min(id, min neighbor) of every node */
    def initLabels: Array[Long] = {
      val out = nodes.clone()
      var s = 0
      while (s < srcs.length) {
        var k = start(s)
        while (k < start(s + 1)) {
          if (srcs(s) < out(adj(k))) out(adj(k)) = srcs(s)
          k += 1
        }
        s += 1
      }
      out
    }

    /** the min label over each source node's neighbors here */
    def nbrMin(labels: Array[Long]): Array[Long] = {
      val out = new Array[Long](srcs.length)
      var s = 0
      while (s < srcs.length) {
        var m = Long.MaxValue
        var k = start(s)
        while (k < start(s + 1)) { m = math.min(m, labels(adj(k))); k += 1 }
        out(s) = m
        s += 1
      }
      out
    }
  }

  private object CcBlock {
    def apply(edges: (Array[Long], Array[Long])): CcBlock = {
      val (dst, src) = edges
      val nodes = distinctSorted(dst)
      val srcs = distinctSorted(src)
      val si = src.map(java.util.Arrays.binarySearch(srcs, _))
      val start = new Array[Int](srcs.length + 1)
      si.foreach(s => start(s + 1) += 1)
      var s = 0
      while (s < srcs.length) { start(s + 1) += start(s); s += 1 }
      val fill = start.clone()
      val adj = new Array[Int](dst.length)
      var e = 0
      while (e < dst.length) {
        adj(fill(si(e))) = java.util.Arrays.binarySearch(nodes, dst(e))
        fill(si(e)) += 1
        e += 1
      }
      CcBlock(nodes, srcs, start, adj)
    }
  }

  /** Near-dup survivors: drop every document whose component
    * representative is a different (smaller-id) document — the "keep one
    * per duplicate cluster" step a training-data pipeline runs after
    * pair generation. Documents in no pair survive untouched.
    */
  def nearDupSurvivors(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val losers = connectedComponents(pairs)
      .filter(col("id") =!= col("component"))
      .select(col("id").as(idCol))
    // SHUFFLE_HASH: the loser set scales with corpus duplication (a 30%
    // dup rate means billions of ids at 100 TB — unbroadcastable), and
    // the sort-merge fallback would sort the corpus rows WITH their text
    // payloads (the measured payload-sort cliff). Hash anti-join builds
    // on bare ids, streams the wide rows, sorts nothing. (Contrast
    // decontaminate: its id list is bounded by the eval set, so the
    // broadcast AQE picks there is the right plan and it stays unhinted.)
    df.join(losers.hint("SHUFFLE_HASH"), Seq(idCol), "left_anti")
  }

  /** Soft dedup: DOWN-WEIGHT near-dup clusters instead of dropping them
    * (the SoftDeDup treatment — a cluster of n near-identical documents
    * contributes total sampling mass 1, weight `1/n` each, so the
    * information survives once without the n× repetition bias; modern
    * mixture builders feed these weights into weighted sampling rather
    * than hard-deleting). Returns `(idCol, cluster_size, weight)` for
    * EVERY input row — unclustered docs carry size 1, weight 1.0.
    * The weight leaves as `weight_micros` (pure-Long round-half-up
    * micros of the exact rational `1/n`): `round(double, n)` on an
    * exact ratio is the repo-banned tie- and engine-build-sensitive
    * pattern; a consumer needing the double divides by 1e6.
    *
    * Scale: the component relation is bounded by the corpus's
    * DUPLICATED rows (unbroadcastable at a 30% dup rate — the
    * [[nearDupSurvivors]] argument), so the weight join is
    * SHUFFLE_HASH on bare ids; the size aggregate is component-keyed
    * and map-side combined.
    */
  def softDedupWeights(df: DataFrame, idCol: String,
                       pairs: DataFrame): DataFrame = {
    val comp = connectedComponents(pairs)
    val sized = comp
      .join(comp.groupBy(col("component")).agg(count(lit(1)).as("__sz")),
        Seq("component"))
      .select(col("id").as(idCol), col("__sz"))
    df.select(col(idCol))
      .join(sized.hint("SHUFFLE_HASH"), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__sz"), lit(1L)).as("cluster_size"))
      .withColumn("weight_micros",
        expr("CAST((2*1000000 + cluster_size) DIV (2*cluster_size) AS BIGINT)"))
  }

  /** Quality-aware survivor selection: within each near-dup cluster
    * keep the row with the HIGHEST `scoreCol` (ties to the smallest
    * id) instead of [[nearDupSurvivors]]'s smallest-id convention —
    * what production dedup actually wants ("of these near-identical
    * crawls, keep the cleanest"). Rank on the 6-decimal-ROUNDED score
    * (the portable-ranking convention) so the per-cluster argmax
    * replays in any engine. Non-clustered rows survive untouched.
    *
    * Scale shape: the cluster relation is |clustered-ids| rows of bare
    * (id, component); the winner-per-component window runs over
    * (component)-keyed score rows — never the document payloads —
    * and the loser set anti-joins back SHUFFLE_HASH like
    * [[nearDupSurvivors]] (unbroadcastable at real dup rates).
    */
  def nearDupSurvivorsByQuality(df: DataFrame, idCol: String,
                                scoreCol: String, pairs: DataFrame): DataFrame = {
    val comp = connectedComponents(pairs)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("component"))
      .orderBy(round(col("__s"), 6).desc, col("id"))
    val losers = comp
      .join(df.select(col(idCol).as("id"), col(scoreCol).as("__s")), Seq("id"))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") > 1)
      .select(col("id").as(idCol))
    df.join(losers.hint("SHUFFLE_HASH"), Seq(idCol), "left_anti")
  }

  /** SimHash near-dup pairs: 64-bit token-weight fingerprints, banded
    * candidate generation, exact Hamming verify. Pigeonhole completeness:
    * two fingerprints within Hamming distance `maxHamming` differ in at
    * most `maxHamming` of the `bands` disjoint bit bands, so with
    * `bands >= maxHamming + 1` they agree EXACTLY on at least one band —
    * the equi-join on (band, bandValue) finds every qualifying pair, and
    * the Hamming filter on the (few) candidates is exact. Returns
    * (id_a, id_b, hamming) with id_a < id_b.
    *
    * Scale: the MinHash-banding join shape — candidates key on a
    * (band, bits) equi-join over bands×|corpus| narrow rows, never
    * all-pairs; fingerprints are a single-pass expression. Token-less
    * documents are dropped before banding (they all share fingerprint 0
    * and would collide into one quadratic bucket while meaning nothing).
    */
  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                          maxHamming: Int = 3, bands: Int = 4): DataFrame = {
    val hashed = df
      .filter(length(trim(col(textCol))) > 0)
      .select(col(idCol).as("id"),
        graft.functions.SimHash64.simhash64(split(trim(col(textCol)), "\\s+")).as("h"))
    hamming64Pairs(hashed, maxHamming, bands)
  }

  /** Banded Hamming-pair core over `(id, h)` 64-bit fingerprints — the
    * pigeonhole candidate join + exact verify shared by
    * [[simhashNearDupPairs]] (text) and
    * [[Multimodal.imageDHashPairs]] (perceptual image hashes). Same
    * completeness argument: Hamming ≤ maxHamming < bands ⇒ at least one
    * of the disjoint bit bands agrees exactly.
    */
  private[ops] def hamming64Pairs(fingerprints: DataFrame, maxHamming: Int,
                                  bands: Int): DataFrame = {
    require(bands > maxHamming, "pigeonhole completeness needs bands >= maxHamming + 1")
    require(64 % bands == 0, s"bands must divide 64, got $bands")
    val width = 64 / bands
    val mask = if (width == 64) -1L else (1L << width) - 1
    pinned(fingerprints) { hashed =>
      hashed.count() // eager: the banding self-join scans this twice
      val banded = hashed.select(col("id"), col("h"), posexplode(array(
          (0 until bands).map(b => shiftright(col("h"), b * width).bitwiseAND(lit(mask))): _*)))
        .select(col("id"), col("h"), col("pos").as("band"), col("col").as("bv"))
      val cand = banded.as("x").join(banded.as("y"),
          col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
            col("x.id") < col("y.id"))
        .select(col("x.id").as("id_a"), col("x.h").as("h_a"),
          col("y.id").as("id_b"), col("y.h").as("h_b"))
        .distinct()
      cand
        .withColumn("hamming", graft.functions.SimHash64.hamming64(col("h_a"), col("h_b")))
        .filter(col("hamming") <= maxHamming)
        .select(col("id_a"), col("id_b"), col("hamming"))
        .localCheckpoint()
    }
  }

  /** Test-set decontamination, the flag half: ids of corpus documents
    * sharing at least one word n-gram with any evaluation-set document —
    * the leakage check a training-data pipeline runs before training so
    * benchmark text cannot leak into the corpus.
    *
    * Scale: the eval-set shingle set is small by construction (eval sets
    * are thousands of rows, not corpus-sized), so it is broadcast and the
    * corpus side never shuffles at all — a narrow explode feeding a
    * broadcast semi-join, then a distinct on the (already tiny) flagged
    * ids. The corpus is scanned exactly once.
    */
  def contaminatedIds(corpus: DataFrame, idCol: String, textCol: String,
                      evalSet: DataFrame, evalTextCol: String, n: Int = 8): DataFrame = {
    val evalShingles = evalSet
      .select(explode(wordShingles(col(evalTextCol), n)).as("__s"))
      .distinct()
    corpus
      .select(col(idCol), explode(wordShingles(col(textCol), n)).as("__s"))
      .join(broadcast(evalShingles), Seq("__s"), "left_semi")
      .select(col(idCol)).distinct()
  }

  /** Test-set decontamination, the drop half: the corpus minus every
    * [[contaminatedIds]] document. Documents with fewer than `n` words
    * have no n-grams and always survive.
    */
  def decontaminate(corpus: DataFrame, idCol: String, textCol: String,
                    evalSet: DataFrame, evalTextCol: String, n: Int = 8): DataFrame =
    corpus.join(contaminatedIds(corpus, idCol, textCol, evalSet, evalTextCol, n),
      Seq(idCol), "left_anti")

  /** Memorization audit — [[contaminatedIds]] from the EVAL side's point
    * of view: for every eval document, how much of it the training
    * corpus already contains — `(idCol, n_grams, n_memorized,
    * overlap_ratio_micros)`, one row per eval doc (0/0/0 for docs shorter
    * than `n` words), where `n_memorized` counts the doc's DISTINCT
    * word n-grams that occur anywhere in the corpus. The governance
    * number a benchmark owner reports ("12% of this eval set is
    * verbatim in train"), where decontamination only answers
    * drop-or-keep.
    *
    * Scale: same broadcast discipline as [[contaminatedIds]] — the eval
    * gram set is small by construction and broadcasts; the corpus scans
    * once, never shuffles, and only its eval-matching gram HITS (⊆ the
    * eval gram set, so equally small) come back to join per-doc counts.
    */
  def memorizationOverlap(evalSet: DataFrame, idCol: String, textCol: String,
                          corpus: DataFrame, corpusTextCol: String,
                          n: Int = 8): DataFrame = {
    val evalGramRows = evalSet
      .select(col(idCol), explode(wordShingles(col(textCol), n)).as("__s"))
      .distinct()
    val evalGrams = evalGramRows.select(col("__s")).distinct()
    val hits = corpus
      .select(explode(wordShingles(col(corpusTextCol), n)).as("__s"))
      .join(broadcast(evalGrams), Seq("__s"), "left_semi")
      .distinct()
      .withColumn("__hit", lit(1L))
    val counts = evalGramRows
      .join(hits.hint("SHUFFLE_HASH"), Seq("__s"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_memorized"))
    evalSet.select(col(idCol)).distinct()
      .join(counts, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_memorized"), lit(0L)).as("n_memorized"),
        // ratio of exact integers — tie-capable at a round boundary,
        // so it leaves as the bit-identical floor pin (Tables.micros)
        graft.Tables.micros(coalesce(
          col("n_memorized").cast("double") / col("n_grams"),
          lit(0.0))).as("overlap_ratio_micros"))
  }

  /** Bloom-filter decontamination, the flag half — the scale path of
    * [[contaminatedIds]] for when the eval-shingle universe is too large
    * to broadcast as raw strings (a multi-benchmark eval suite can carry
    * 10^8+ distinct shingles: gigabytes as strings, tens of MB as a
    * Bloom filter at the same fpp).
    *
    * Shape: one `stat.bloomFilter` treeAggregate folds the eval shingles
    * into a single filter on the driver (never a collect of the shingle
    * set), which broadcasts to every executor; the corpus scan explodes
    * shingles and keeps only bloom-POSITIVE (id, shingle) rows — false
    * negatives are impossible, so everything truly contaminated
    * survives this map-side cut. The survivors (sized fpp×|corpus
    * shingles| + true hits, not corpus-sized) then re-verify against
    * the exact eval shingles with a SHUFFLED semi-join (no broadcast —
    * the whole premise is that the eval side doesn't fit), where false
    * positives die. The result therefore EQUALS [[contaminatedIds]]
    * exactly; `fpp` only tunes how much of the corpus pays the
    * exact-join shuffle.
    *
    * The membership test is a scala UDF over the broadcast sketch — the
    * one place an expression can't substitute (the filter is runtime
    * state, not a literal); the corpus scan + explode stay codegen'd and
    * the UDF boundary costs one virtual call per shingle, repaid by the
    * shuffle it prevents.
    *
    * The flagged ids are materialized (`localCheckpoint`) before
    * returning, so the eval-shingle pin is released inside the call.
    */
  def contaminatedIdsBloom(corpus: DataFrame, idCol: String, textCol: String,
                           evalSet: DataFrame, evalTextCol: String, n: Int = 8,
                           fpp: Double = 0.01): DataFrame = {
    val spark = corpus.sparkSession
    // pinned: the shingle explode+distinct (a full shuffle of the eval
    // stream — the expensive side by premise) feeds THREE consumers —
    // the sizing count, the bloomFilter treeAggregate, and the
    // exact-verify semi-join
    pinned(evalSet
        .select(explode(wordShingles(col(evalTextCol), n)).as("__s"))
        .distinct()) { evalShingles =>
      // one count job over the (already distinct) eval shingles sizes the
      // filter honestly; an undersized bloom silently degrades to
      // fpp ≈ 1 and the "map-side cut" stops cutting. An EMPTY eval set
      // contaminates nothing (and Spark's bloomFilter aggregate NPEs on
      // zero rows), so short-circuit before building the sketch.
      val nShingles = evalShingles.count()
      if (nShingles == 0) corpus.select(col(idCol)).limit(0)
      else {
        val bloom = evalShingles.stat.bloomFilter("__s", nShingles, fpp)
        val bloomBc = spark.sparkContext.broadcast(bloom)
        val mightContain = udf { s: String =>
          s != null && bloomBc.value.mightContainString(s)
        }
        corpus
          .select(col(idCol), explode(wordShingles(col(textCol), n)).as("__s"))
          .filter(mightContain(col("__s")))
          .join(evalShingles, Seq("__s"), "left_semi")
          .select(col(idCol)).distinct()
          .localCheckpoint()
      }
    }
  }

  /** Bloom-filter decontamination, the drop half: exactly
    * [[decontaminate]]'s output via [[contaminatedIdsBloom]]'s plan.
    */
  def decontaminateBloom(corpus: DataFrame, idCol: String, textCol: String,
                         evalSet: DataFrame, evalTextCol: String, n: Int = 8,
                         fpp: Double = 0.01): DataFrame =
    corpus.join(
      contaminatedIdsBloom(corpus, idCol, textCol, evalSet, evalTextCol, n, fpp),
      Seq(idCol), "left_anti")

  /** Collect an eval set's embedding vectors for the semantic-
    * decontamination kernel — bounded LOUDLY at `maxRows` (eval sets
    * are thousands of rows by construction; a corpus-sized argument is
    * a bug, and a silent giant collect is the failure mode this
    * ceiling exists to prevent).
    */
  def collectEvalVectors(evalSet: DataFrame, embCol: String,
                         maxRows: Int = 65536): Array[Array[Float]] = {
    val rows = evalSet.select(col(embCol)).filter(col(embCol).isNotNull)
      .limit(maxRows + 1).collect()
    require(rows.length <= maxRows,
      s"eval set exceeds $maxRows vectors — semantic decontamination " +
        "broadcasts the eval matrix by construction; shard the eval set " +
        "or raise maxRows deliberately")
    rows.map(_.getSeq[Float](0).toArray)
  }

  /** Semantic (embedding-space) contamination report — the paraphrase
    * leg of test-set decontamination: [[contaminatedIds]] catches
    * verbatim n-gram overlap, this catches REWORDED eval material
    * (the SemDeDup observation applied to eval leakage). Appends
    * `max_eval_sim` (max cosine to any eval vector, rounded to the
    * cross-engine 6 decimals) and `leaked` (≥ threshold on the rounded
    * value) to every corpus row.
    *
    * Scale: the eval matrix rides a single codegen'd expression
    * ([[graft.functions.MaxCosineToSet]]) as a reference object — the
    * corpus is scanned ONCE with a narrow map, no join, no shuffle,
    * whatever the corpus size; cost is |corpus|·|eval| multiply-adds
    * spread embarrassingly parallel over the scan.
    */
  def semanticContamination(corpus: DataFrame, embCol: String,
                            evalVecs: Array[Array[Float]],
                            threshold: Double): DataFrame =
    corpus
      // cosine-derived (transcendental): round(6) is the knn-score
      // convention; exact integer ratios leave as micros instead
      .withColumn("max_eval_sim",
        round(VectorFunctions.maxCosineToSet(col(embCol), evalVecs), 6))
      .withColumn("leaked", col("max_eval_sim") >= threshold)

  /** Semantic decontamination, the drop half: corpus rows whose
    * nearest eval vector stays below `threshold`. A row with a NULL
    * embedding cannot be implicated and SURVIVES (its `leaked` is
    * null; a bare `!leaked` filter would silently delete it under
    * three-valued logic — the n-gram path's anti-join keeps such rows,
    * and this path must agree).
    */
  def decontaminateSemantic(corpus: DataFrame, embCol: String,
                            evalSet: DataFrame, evalEmbCol: String,
                            threshold: Double): DataFrame =
    semanticContamination(corpus, embCol,
        collectEvalVectors(evalSet, evalEmbCol), threshold)
      .filter(coalesce(!col("leaked"), lit(true)))
      .drop("max_eval_sim", "leaked")

  /** Exact embedding-cosine near-dup pairs (a < b, cosine > threshold).
    * Quadratic by definition — the correctness oracle for
    * [[embeddingNearDupLsh]], and fine up to ~10^4 vectors per run; at
    * corpus scale use the LSH variant.
    */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, embCol: String,
                            threshold: Double): DataFrame = {
    val a = df.select(col(idCol).as("id_a"), col(embCol).as("emb_a"))
    val b = df.select(col(idCol).as("id_b"), col(embCol).as("emb_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("sim", VectorFunctions.cosineSim(col("emb_a"), col("emb_b")))
      .filter(col("sim") > threshold)
      .select(col("id_a"), col("id_b"), col("sim"))
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  /** Deterministic ENGINE-PORTABLE Rademacher (±1) hyperplanes:
    * `plane[b][i] = +1` iff the first md5 hex digit of
    * `"srp:<table>:<b>:<i>:<seed>"` is even — the sign any SQL engine
    * spells `('0x'||substr(md5(...),1,1))::INT % 2 = 0`. Rademacher
    * projections carry the same SRP-LSH guarantee as Gaussian ones
    * (sign agreement probability 1 − θ/π in expectation over the
    * planes), and being md5-derived makes the whole LSH pair set
    * recomputable by the DuckDB oracle — which is why
    * [[embeddingNearDupLsh]] uses these.
    */
  def rademacherPlanes(nBits: Int, dim: Int, table: Int, seed: Long): Array[Array[Float]] =
    Array.tabulate(nBits)(b => Array.tabulate(dim) { i =>
      val hex = md5Hex(s"srp:$table:$b:$i:$seed")
      if ((Character.digit(hex.charAt(0), 16) & 1) == 0) 1f else -1f
    })

  /** Sign-random-projection bucket id: bit b set iff dot(v, plane_b) >= 0.
    * Cosine-similar vectors land in the same bucket with probability
    * (1 - theta/pi)^nBits.
    */
  def srpBucket(emb: Column, planes: Array[Array[Float]]): Column =
    planes.zipWithIndex.map { case (p, b) =>
      when(VectorFunctions.dotProduct(emb, typedlit(p.toSeq)) >= 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Approximate embedding near-dup: `nTables` independent SRP bucket
    * tables generate candidates (equi-join on (table, bucket) — no cross
    * join), verified with the exact cosine. Subset of
    * [[embeddingNearDupPairs]] by construction; recall grows with
    * nTables and shrinks with nBits.
    *
    * All tables' buckets are computed in one projection and exploded, so
    * candidate generation is ONE self-join keyed (table, bucket) over
    * nTables×|corpus| narrow rows — the MinHash banding shape — rather
    * than nTables separate joins unioned (same candidate set, one
    * exchange, one plan).
    */
  def embeddingNearDupLsh(df: DataFrame, idCol: String, embCol: String,
                          threshold: Double, nTables: Int = 4, nBits: Int = 8,
                          seed: Long = 42L): DataFrame = {
    val dimRow = df.select(size(col(embCol))).head(1)
    if (dimRow.isEmpty) return embeddingNearDupPairs(df, idCol, embCol, threshold)
    val dim = dimRow.head.getInt(0)
    val base = df.select(col(idCol).as("id"), col(embCol).as("emb"))
    val allBuckets = array((0 until nTables).map { t =>
      srpBucket(col("emb"), rademacherPlanes(nBits, dim, t, seed))
    }: _*)
    val bucketed = base
      .select(col("id"), posexplode(allBuckets))
      .select(col("id"), col("pos").as("t"), col("col").as("bucket"))
    val cand = bucketed.as("x").join(bucketed.as("y"),
        col("x.t") === col("y.t") && col("x.bucket") === col("y.bucket") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
    // as in minhashNearDupPairs: the pair set is unbounded under heavy
    // duplication — plain shuffle join, AQE may still broadcast it.
    // SHUFFLE_HASH keeps the float-array payloads out of any sort
    // (same measured cliff as the ngram verify join)
    cand
      .join(base.select(col("id").as("id_a"), col("emb").as("emb_a"))
        .hint("SHUFFLE_HASH"), "id_a")
      .join(base.select(col("id").as("id_b"), col("emb").as("emb_b"))
        .hint("SHUFFLE_HASH"), "id_b")
      .withColumn("sim", VectorFunctions.cosineSim(col("emb_a"), col("emb_b")))
      .filter(col("sim") > threshold)
      .select(col("id_a"), col("id_b"), col("sim"))
  }

  /** SemDeDup-style cluster-scoped semantic near-dup pairs (Abbas et
    * al. 2023, "SemDeDup: Data-efficient learning at web-scale through
    * semantic deduplication"): assign every embedding to its nearest
    * centroid, then compare ONLY within a cluster — pairwise work drops
    * from O(N²) to Σ|cluster|², the trick that makes exact-cosine
    * semantic dedup tractable on a web-scale corpus. The centroids come
    * from [[Ivf.fit]] in production (the SAME model that partitions the
    * ANN store, so the dedup pass rides an assignment the pipeline
    * already maintains) or any fixed vector set.
    *
    * Cross-cluster near-dups are invisible by design — the recall trade
    * the paper makes explicit; shrink it with more centroids or catch
    * the remainder with [[embeddingNearDupLsh]]. Null embeddings have
    * no cluster and never pair.
    *
    * Scale: one exchange keyed on `cluster_id` (the equi-join key), the
    * `id_a < id_b` halving and the cosine threshold evaluated inside
    * the join; SHUFFLE_HASH keeps the float-array payloads out of any
    * sort. A pathologically dominant cluster degrades toward quadratic
    * — [[Ivf.clusterStats]]/`needsReindex` is the advisory that catches
    * exactly that imbalance before this operator pays for it.
    */
  def semanticDedupPairs(df: DataFrame, idCol: String, embCol: String,
                         model: Ivf.IvfModel, threshold: Double): DataFrame = {
    val assigned = Ivf.assign(df.select(col(idCol), col(embCol)), embCol, model)
      .filter(col("cluster_id").isNotNull)
    val a = assigned.select(col("cluster_id"),
      col(idCol).as("id_a"), col(embCol).as("emb_a"))
    val b = assigned.select(col("cluster_id").as("__cb"),
      col(idCol).as("id_b"), col(embCol).as("emb_b"))
    a.join(b.hint("SHUFFLE_HASH"),
        col("cluster_id") === col("__cb") && col("id_a") < col("id_b"))
      .withColumn("sim", VectorFunctions.cosineSim(col("emb_a"), col("emb_b")))
      .filter(col("sim") > threshold)
      .select(col("cluster_id"), col("id_a"), col("id_b"), col("sim"))
  }

  /** [[semanticDedupPairs]] + the standard component/min-id survivor
    * tail: one representative per within-cluster semantic-duplicate
    * group, everything unpaired untouched — the whole SemDeDup pass as
    * one call.
    */
  def semanticDedup(df: DataFrame, idCol: String, embCol: String,
                    model: Ivf.IvfModel, threshold: Double): DataFrame =
    nearDupSurvivors(df, idCol,
      semanticDedupPairs(df, idCol, embCol, model, threshold))

  /** [[semanticDedup]] with the model auto-fit under the k ∝ √N rule
    * ([[Ivf.fitAuto]]) — the standalone form for corpora that do NOT
    * already maintain an ANN store: cluster-scoped pairwise work stays
    * Σ|cluster|² with clusters ≈√N-sized, the scaling the SemDeDup
    * trick needs, without the caller choosing k.
    */
  def semanticDedupAuto(df: DataFrame, idCol: String, embCol: String,
                        threshold: Double): DataFrame =
    semanticDedup(df, idCol, embCol,
      Ivf.fitAuto(df, idCol, embCol)._1, threshold)

  /** Exact duplicated-SPAN removal — the substring-level dedup of
    * "Deduplicating Training Data Makes Language Models Better" (Lee et
    * al., 2022), re-expressed relationally instead of via a corpus-wide
    * suffix array: any run of `k` consecutive word tokens that occurs
    * more than once ACROSS THE WHOLE CORPUS (including a second time in
    * the same document) is a duplicated span, and every token covered by
    * at least one duplicated k-gram is removed. Maximal duplicated runs
    * longer than k are removed in full (their k-windows all duplicate),
    * which is exactly the suffix-array semantics at granularity k.
    *
    * Returns `(idCol, clean_text, n_tokens, n_removed)` — one row per
    * input document. `clean_text` is the SURVIVING TOKEN STREAM rejoined
    * with single spaces (original whitespace is not preserved — the
    * operator is token-level by construction); documents shorter than k
    * tokens lose no tokens. Null text is treated as empty, which
    * tokenizes to one empty token (`n_tokens = 1`) — the same contract
    * the oracle applies.
    *
    * Plan shape, sized for 100 TB: the k-gram explode is narrow and the
    * shuffle key is the 16-byte md5 of each gram, never the gram text
    * (same digest convention as [[exact]]); the occurrence count is a
    * two-stage hash agg, so a pathologically repeated gram collapses
    * map-side instead of skewing the exchange; the duplicated-hash set
    * joins back LEFT SEMI on fixed-width (id, pos, digest) rows — a hot
    * digest streams through the probe side without amplification; one
    * final exchange regroups covered positions per document and rebuilds
    * the text with an index-aware array filter (O(tokens × covered) per
    * doc — bounded by document length, not corpus). Three shuffles total.
    */
  def removeDuplicatedSpans(df: DataFrame, idCol: String, textCol: String,
                            k: Int): DataFrame = {
    require(k >= 2, s"span granularity k must be >= 2, got $k")
    // explicit class, not \s+: Java's \s includes U+000B, RE2's (the
    // oracle engine's) does not — the NormalizeText convention
    val toks = df.select(col(idCol),
      split(coalesce(col(textCol), lit("")), "[\\t\\n\\f\\r ]+").as("__t"))
    // (id, pos, digest) for every k-gram start position, 1-based
    // grams feeds BOTH the occurrence count and the semi-join probe;
    // Catalyst has no cross-branch CSE, so without the persist the
    // corpus would be re-read and re-exploded per consumer — and as in
    // minhashNearDupPairs, the two branches run concurrently on first
    // action, so population must be EAGER or both still explode
    val grams = toks
      .filter(size(col("__t")) >= k)
      .select(col(idCol), posexplode(transform(
        sequence(lit(0), size(col("__t")) - k),
        i => md5(concat_ws(" ", slice(col("__t"), i + 1, lit(k))).cast("binary")))))
      .toDF(idCol, "__pos0", "__h")
    // one row per AFFECTED doc with its covered positions — small next
    // to the corpus
    val covered = pinned(grams) { grams =>
      grams.count(): Unit
      val dup = grams.groupBy(col("__h"))
        .agg(count(lit(1)).as("__n"))
        .filter(col("__n") >= 2)
        .select(col("__h"))
      grams.join(dup.hint("SHUFFLE_HASH"), Seq("__h"), "left_semi")
        .select(col(idCol),
          explode(sequence(col("__pos0") + 1, col("__pos0") + k)).as("__cpos"))
        .groupBy(col(idCol))
        .agg(collect_set(col("__cpos")).as("__cov"))
        .localCheckpoint()
    }
    // SHUFFLE_HASH: a sort-merge choice here would SORT rows carrying
    // the full token arrays — the measured 15-60× array-payload cliff
    // (SCALE.md round-5); the hash join exchanges both sides sort-free
    toks.join(covered.hint("SHUFFLE_HASH"), Seq(idCol), "left")
      .select(col(idCol),
        concat_ws(" ", filter(col("__t"),
          (_, i) => not(array_contains(
            coalesce(col("__cov"), array().cast("array<int>")), i + 1))))
          .as("clean_text"),
        size(col("__t")).cast("long").as("n_tokens"),
        coalesce(size(col("__cov")), lit(0)).cast("long").as("n_removed"))
  }

  // ---- incremental near-dup: the MinHash band sidecar ----

  /** `(<id>, sz, band, bh)` band-hash rows from an already-shingled
    * frame — THE single signature derivation: [[minhashNearDupPairs]],
    * the sidecar build/fold, and [[nearDupAgainstStore]]'s batch side
    * all band through here, so a change to banding can never
    * desynchronize them. Shingle-less docs are dropped (they would all
    * collide on the empty-set signature — a quadratic candidate blowup
    * — and can't clear any jaccard threshold anyway).
    */
  private def bandRowsFromShingled(sh: DataFrame, idName: String,
                                   shName: String, numHashes: Int,
                                   bands: Int): DataFrame =
    sh.filter(size(col(shName)) > 0)
      .select(col(idName), size(col(shName)).as("sz"), posexplode(
        graft.functions.MinHashBands.minhashBands(col(shName), numHashes, bands)))
      .select(col(idName), col("sz"), col("pos").as("band"), col("col").as("bh"))

  private def bandRows(df: DataFrame, idCol: String, textCol: String,
                       n: Int, numHashes: Int, bands: Int): DataFrame =
    bandRowsFromShingled(
      df.select(col(idCol).as("id"),
        array_sort(wordShingles(col(textCol), n)).as("sh")),
      "id", "sh", numHashes, bands)

  /** The minhash sidecar `_stats` format/hash-family token. `mh2` = the
    * current STRING comma-joined band keys ([[graft.functions]]'
    * MinHashBands); the pre-token format carried BIGINT fold hashes in
    * `bh`, and joining a pre-change sidecar against new STRING keys
    * would implicit-cast to null on every comparison — zero candidates,
    * silently. The token makes every reader refuse loudly instead.
    */
  private val MinhashSidecarFormat = "mh2"

  private def parseMinhashStats(path: String,
                                stats: Array[String]): (Int, Int, Int, String) = {
    // length/format-check BEFORE indexing: truncated, partially-written,
    // or pre-mh2 _stats must surface as IllegalArgumentException (the
    // SidecarRegistry.maintain fold-refusal contract)
    require(stats.length >= 5 && stats(0) == MinhashSidecarFormat &&
        stats(4).startsWith("v"),
      s"sidecar at $path has a damaged, unstamped, or pre-$MinhashSidecarFormat " +
        "_stats (the band-key column type changed; a stale-format sidecar " +
        "would null-join every candidate and silently report zero near-dups); " +
        "rebuild with buildMinhashSidecarForStore")
    (stats(1).toInt, stats(2).toInt, stats(3).toInt, stats(4))
  }

  /** Build the MinHash band SIDECAR for a [[VersionedStore]] table — the
    * layout that lets every future ingest batch near-dup-check against
    * the WHOLE historical corpus without re-signaturing it:
    * `path/bands` holds one `(id, sz, band, bh)` row per (doc, band),
    * `path/_stats` stamps the parameters and the store snapshot version
    * (the [[Keyword.buildLexicalIndexForStore]] staleness contract —
    * stamp retired first, version captured before the read, recheck
    * after the write).
    */
  def buildMinhashSidecarForStore(spark: org.apache.spark.sql.SparkSession,
                                  table: String, idCol: String, textCol: String,
                                  path: String, n: Int = 3,
                                  numHashes: Int = 32, bands: Int = 8): Unit = {
    val v0 = VersionedStore.currentState(spark, table).map(_.version).getOrElse(0L)
    val docs = VersionedStore.read(spark, table).getOrElse(
      throw new IllegalStateException(s"no rows to signature at $table"))
    graft.Fs.delete(spark, s"$path/_stats")
    bandRows(docs, idCol, textCol, n, numHashes, bands)
      .write.mode("overwrite").parquet(s"$path/bands")
    val v1 = VersionedStore.currentState(spark, table).map(_.version).getOrElse(0L)
    require(v1 == v0,
      s"store $table moved from version $v0 to $v1 during the sidecar build — " +
        "the bands describe a superseded snapshot; rebuild")
    graft.Fs.writeString(spark, s"$path/_stats",
      s"$MinhashSidecarFormat $n $numHashes $bands v$v0")
  }

  /** Fold the store's NEW segments into the sidecar — O(appended docs),
    * the [[Keyword.appendToLexicalIndexForStore]] discipline verbatim:
    * fresh-stamp fast path, ahead-of-store and non-pure-append histories
    * refuse loudly (a compaction rewrote rows the sidecar already
    * covers — incremental bands would double-sign them), stamp retired
    * before the append so a mid-fold failure leaves a loudly-unusable
    * sidecar rather than a silently stale one. Band rows are
    * per-(doc, band) facts, so appended rows land next to the old ones
    * with no merge step.
    */
  def appendToMinhashSidecar(spark: org.apache.spark.sql.SparkSession,
                             table: String, idCol: String, textCol: String,
                             path: String): Unit = {
    val stats = graft.Fs.readString(spark, s"$path/_stats").trim.split(" ")
    val (n, numHashes, bands, vTok) = parseMinhashStats(path, stats)
    val v0 = vTok.drop(1).toLong
    val cur = VersionedStore.currentState(spark, table).getOrElse(
      throw new IllegalStateException(s"$table has no committed state"))
    if (cur.version == v0) return
    require(cur.version > v0,
      s"sidecar stamp v$v0 is ahead of $table's current version ${cur.version}; rebuild")
    val old = VersionedStore.stateAt(spark, table, v0).getOrElse(
      throw new IllegalStateException(
        s"manifest v$v0 of $table is unreadable — cannot diff segments; rebuild"))
    require(old.segments.forall(cur.segments.contains),
      s"$table's history v$v0 -> v${cur.version} is not pure-append; incremental " +
        "bands would double-sign rewritten rows — rebuild with buildMinhashSidecarForStore")
    val newSegs = cur.segments.filterNot(old.segments.toSet)
    graft.Fs.delete(spark, s"$path/_stats")
    if (newSegs.nonEmpty) {
      val docs = newSegs.map(s => graft.ParquetIO.readImmutable(spark, s"$table/$s"))
        .reduce(_.unionByName(_))
      bandRows(docs, idCol, textCol, n, numHashes, bands)
        .write.mode("append").parquet(s"$path/bands")
    }
    graft.Fs.writeString(spark, s"$path/_stats",
      s"$MinhashSidecarFormat $n $numHashes $bands v${cur.version}")
  }

  def sidecarMarkerPath(table: String): String = s"$table/_minhash_sidecar"

  /** Register a MinHash sidecar to `table` and (re)build it fresh — the
    * [[Keyword.registerLexicalIndex]] seam for near-dup: from here on
    * every [[Ingest.appendRespectingLayout]] commit folds its own rows
    * in at O(new docs), so ingestion-time [[nearDupAgainstStore]] checks
    * never trip the staleness guard. The whole register/maintain/restamp
    * lifecycle is [[SidecarRegistry]]'s — shared with the lexical index.
    */
  def registerMinhashSidecar(spark: org.apache.spark.sql.SparkSession,
                             table: String, idCol: String, textCol: String,
                             path: String): Unit =
    SidecarRegistry.register(spark, table, sidecarMarkerPath(table),
      SidecarRegistry.Registration(path, idCol, textCol)) {
      buildMinhashSidecarForStore(spark, table, idCol, textCol, path)
    }

  /** The append seam's sidecar maintenance: fold the store's new
    * segments in; on any fold refusal (non-pure-append history — e.g. a
    * compaction rewrote covered segments — or a damaged stats file)
    * fall back to a LOUD full rebuild rather than leaving a stale
    * sidecar in place.
    */
  def maintainRegisteredSidecar(spark: org.apache.spark.sql.SparkSession,
                                table: String): Unit =
    SidecarRegistry.maintain(spark, table, sidecarMarkerPath(table),
      "minhash sidecar") { reg =>
      appendToMinhashSidecar(spark, table, reg.idCol, reg.textCol, reg.path)
    } { reg =>
      buildMinhashSidecarForStore(spark, table, reg.idCol, reg.textCol, reg.path)
    }

  /** O(1) maintenance of a registered sidecar across a compaction: band
    * rows depend only on the (id, text) ROWS, which a compaction
    * preserves, so a provably row-preserving compaction only moves the
    * stamp ([[SidecarRegistry.maintainAfterCompact]]); anything
    * unprovable rebuilds loudly.
    */
  def maintainRegisteredSidecarAfterCompact(spark: org.apache.spark.sql.SparkSession,
                                            table: String, preVersion: Long,
                                            post: VersionedStore.State,
                                            files: Int): Unit =
    SidecarRegistry.maintainAfterCompact(spark, table, sidecarMarkerPath(table),
      "minhash sidecar", preVersion, post, files) { reg =>
      buildMinhashSidecarForStore(spark, table, reg.idCol, reg.textCol, reg.path)
    }

  /** Near-dup-check an arriving batch against the ENTIRE historical
    * store through its maintained sidecar — the ingestion-time gate
    * [[Ingest]]'s exact anti-join cannot provide (exact keys miss
    * near-dups): batch bands equi-join the sidecar's, size-incompatible
    * collisions pruned in the join, and ONLY the candidate store rows'
    * text is read back (an id semi-join against the store — the corpus
    * itself never re-signatures, never broadcasts, never fully scans
    * for text*). Returns `(batch_id, store_id, jaccard)` for exact
    * verified Jaccard ≥ `threshold`.
    *
    * *One id-projected store read builds the candidate filter; the text
    * read is candidate-bounded. Refuses a STALE sidecar loudly (stamp ≠
    * store version) — silently missing freshly-appended near-dups is
    * exactly the bug class the stamp exists to kill.
    */
  def nearDupAgainstStore(spark: org.apache.spark.sql.SparkSession,
                          batch: DataFrame, idCol: String, textCol: String,
                          table: String, path: String,
                          threshold: Double): DataFrame = {
    val stats = graft.Fs.readString(spark, s"$path/_stats").trim.split(" ")
    val (n, numHashes, bands, vTok) = parseMinhashStats(path, stats)
    val cur = VersionedStore.currentState(spark, table).map(_.version).getOrElse(0L)
    require(vTok == s"v$cur",
      s"sidecar at $path ($vTok) is stale against " +
        s"$table (v$cur) — run appendToMinhashSidecar first; a stale check " +
        "silently misses near-dups of freshly appended rows")
    pinned(batch.select(col(idCol).as("batch_id"),
        array_sort(wordShingles(col(textCol), n)).as("sh_b"))) { bShingled =>
      bShingled.count(): Unit
      val bBands = bandRowsFromShingled(bShingled, "batch_id", "sh_b",
        numHashes, bands)
      val sidecar = spark.read.parquet(s"$path/bands")
      val cand = bBands.as("b").join(sidecar.as("s"),
          col("b.band") === col("s.band") && col("b.bh") === col("s.bh") &&
            col("b.sz") >= lit(threshold) * col("s.sz") - lit(1e-9) &&
            col("s.sz") >= lit(threshold) * col("b.sz") - lit(1e-9))
        .select(col("b.batch_id"), col("s.id").as("store_id"))
        .distinct()
        .localCheckpoint() // bounded: verified candidates, not corpus
      val store = VersionedStore.read(spark, table).getOrElse(
        throw new IllegalStateException(s"$table has no committed state"))
      val candStoreSh = store
        .join(cand.select(col("store_id").as(idCol)).distinct()
          .hint("SHUFFLE_HASH"), Seq(idCol), "left_semi")
        .select(col(idCol).as("store_id"),
          array_sort(wordShingles(col(textCol), n)).as("sh_s"))
      cand
        .join(bShingled.hint("SHUFFLE_HASH"), "batch_id")
        .join(candStoreSh.hint("SHUFFLE_HASH"), "store_id")
        .withColumn("jaccard",
          graft.functions.SetFunctions.jaccardSorted(col("sh_b"), col("sh_s")))
        .filter(col("jaccard") >= threshold)
        .select(col("batch_id"), col("store_id"), col("jaccard"))
        .localCheckpoint()
    }
  }

  // ---- incremental EMBEDDING near-dup: the SRP bucket sidecar ----

  /** `(id, t, bucket)` SRP bucket rows — the single bucket derivation
    * shared by [[embeddingNearDupLsh]]'s shape and the sidecar paths.
    * Null embeddings are dropped (they'd all collide in bucket 0 and
    * can't clear any cosine threshold).
    */
  private def srpBucketRows(df: DataFrame, idCol: String, embCol: String,
                            dim: Int, nTables: Int, nBits: Int,
                            seed: Long): DataFrame =
    df.select(col(idCol).as("id"), col(embCol).as("emb"))
      .filter(col("emb").isNotNull)
      .select(col("id"), posexplode(array((0 until nTables).map { t =>
        srpBucket(col("emb"), rademacherPlanes(nBits, dim, t, seed))
      }: _*)))
      .select(col("id"), col("pos").as("t"), col("col").as("bucket"))

  /** Vectors bucketing under the sidecar's build-time planes MUST have
    * the stamped dim — a shorter/longer vector dots against the wrong
    * plane length and lands in the wrong bucket, silently missing
    * near-dups. One candidate-bounded scan (`limit(1)`) keeps the guard
    * O(first offender), not O(rows).
    */
  private def requireSrpDim(df: DataFrame, embCol: String, dim: Int,
                            what: String): Unit =
    require(df.filter(col(embCol).isNotNull && size(col(embCol)) =!= dim)
              .limit(1).count() == 0L,
      s"$what carries embeddings whose dimension differs from the sidecar's " +
        s"build-time dim $dim — mismatched planes would silently miss " +
        "near-dups; re-embed or rebuild the sidecar at the new dim")

  def srpSidecarMarkerPath(table: String): String = s"$table/_srp_sidecar"

  /** Build the SRP bucket sidecar for a [[VersionedStore]] table — the
    * EMBEDDING-space twin of [[buildMinhashSidecarForStore]]: arriving
    * batches near-dup-check their vectors against the whole history by
    * bucket equi-join instead of a corpus-wide cosine join. Plane
    * weights are the md5-derived Rademacher signs ([[rademacherPlanes]]),
    * so the entire check — buckets, candidates, verified similarities —
    * is recomputable by a SQL oracle. `_stats`:
    * `"dim nTables nBits seed v<version>"` under the
    * [[SidecarRegistry]] stamp discipline.
    */
  def buildSrpSidecarForStore(spark: org.apache.spark.sql.SparkSession,
                              table: String, idCol: String, embCol: String,
                              path: String, nTables: Int = 4, nBits: Int = 8,
                              seed: Long = 42L): Unit = {
    val v0 = VersionedStore.currentState(spark, table).map(_.version).getOrElse(0L)
    val docs = VersionedStore.read(spark, table).getOrElse(
      throw new IllegalStateException(s"no rows to bucket at $table"))
    val dimRow = docs.filter(col(embCol).isNotNull).select(size(col(embCol))).head(1)
    require(dimRow.nonEmpty, s"$table has no non-null $embCol to bucket")
    val dim = dimRow.head.getInt(0)
    graft.Fs.delete(spark, s"$path/_stats")
    srpBucketRows(docs, idCol, embCol, dim, nTables, nBits, seed)
      .write.mode("overwrite").parquet(s"$path/buckets")
    val v1 = VersionedStore.currentState(spark, table).map(_.version).getOrElse(0L)
    require(v1 == v0,
      s"store $table moved from version $v0 to $v1 during the sidecar build; rebuild")
    graft.Fs.writeString(spark, s"$path/_stats", s"$dim $nTables $nBits $seed v$v0")
  }

  /** Fold new segments into the SRP sidecar — the
    * [[appendToMinhashSidecar]] discipline with the plane parameters
    * read back from `_stats` (new rows MUST bucket under the build-time
    * planes, dim included, or candidates silently stop matching).
    */
  def appendToSrpSidecar(spark: org.apache.spark.sql.SparkSession,
                         table: String, idCol: String, embCol: String,
                         path: String): Unit = {
    val stats = graft.Fs.readString(spark, s"$path/_stats").trim.split(" ")
    // length-check BEFORE indexing (see appendToMinhashSidecar): damaged
    // stats must be IllegalArgumentException, the maintain seam's
    // rebuild-triggering class
    require(stats.length >= 5 && stats(4).startsWith("v"),
      s"SRP sidecar at $path has a damaged/unstamped _stats; rebuild with buildSrpSidecarForStore")
    val (dim, nTables, nBits, seed) =
      (stats(0).toInt, stats(1).toInt, stats(2).toInt, stats(3).toLong)
    val v0 = stats(4).drop(1).toLong
    val cur = VersionedStore.currentState(spark, table).getOrElse(
      throw new IllegalStateException(s"$table has no committed state"))
    if (cur.version == v0) return
    require(cur.version > v0,
      s"SRP sidecar stamp v$v0 is ahead of $table's version ${cur.version}; rebuild")
    val old = VersionedStore.stateAt(spark, table, v0).getOrElse(
      throw new IllegalStateException(
        s"manifest v$v0 of $table is unreadable — cannot diff segments; rebuild"))
    require(old.segments.forall(cur.segments.contains),
      s"$table's history v$v0 -> v${cur.version} is not pure-append; rebuild " +
        "with buildSrpSidecarForStore")
    val newSegs = cur.segments.filterNot(old.segments.toSet)
    graft.Fs.delete(spark, s"$path/_stats")
    if (newSegs.nonEmpty) {
      val docs = newSegs.map(s => graft.ParquetIO.readImmutable(spark, s"$table/$s"))
        .reduce(_.unionByName(_))
      requireSrpDim(docs, embCol, dim, s"appended segments of $table")
      srpBucketRows(docs, idCol, embCol, dim, nTables, nBits, seed)
        .write.mode("append").parquet(s"$path/buckets")
    }
    graft.Fs.writeString(spark, s"$path/_stats",
      s"$dim $nTables $nBits $seed v${cur.version}")
  }

  /** Embedding near-dup check of an arriving batch against the WHOLE
    * historical store through its SRP sidecar: batch buckets equi-join
    * the sidecar's, only candidate store rows' vectors are read back
    * for the exact-cosine verify. Returns
    * `(batch_id, store_id, sim)` with `sim > threshold`. Stale sidecars
    * refuse loudly, exactly as [[nearDupAgainstStore]].
    */
  def embNearDupAgainstStore(spark: org.apache.spark.sql.SparkSession,
                             batch: DataFrame, idCol: String, embCol: String,
                             table: String, path: String,
                             threshold: Double): DataFrame = {
    val stats = graft.Fs.readString(spark, s"$path/_stats").trim.split(" ")
    require(stats.length >= 5,
      s"SRP sidecar at $path has a damaged _stats; rebuild with buildSrpSidecarForStore")
    val (dim, nTables, nBits, seed) =
      (stats(0).toInt, stats(1).toInt, stats(2).toInt, stats(3).toLong)
    val cur = VersionedStore.currentState(spark, table).map(_.version).getOrElse(0L)
    require(stats(4) == s"v$cur",
      s"SRP sidecar at $path (${stats.lift(4).getOrElse("-")}) is stale against " +
        s"$table (v$cur) — run appendToSrpSidecar first")
    pinned(batch.select(col(idCol).as("batch_id"), col(embCol).as("emb_b"))
        .filter(col("emb_b").isNotNull)) { bBase =>
      bBase.count(): Unit
      requireSrpDim(bBase, "emb_b", dim, "arriving batch")
      val bBuckets = srpBucketRows(bBase, "batch_id", "emb_b", dim, nTables,
        nBits, seed).withColumnRenamed("id", "batch_id")
      val sidecar = spark.read.parquet(s"$path/buckets")
      val cand = bBuckets.as("b").join(sidecar.as("s"),
          col("b.t") === col("s.t") && col("b.bucket") === col("s.bucket"))
        .select(col("b.batch_id"), col("s.id").as("store_id"))
        .distinct()
        .localCheckpoint()
      val store = VersionedStore.read(spark, table).getOrElse(
        throw new IllegalStateException(s"$table has no committed state"))
      val candEmb = store
        .join(cand.select(col("store_id").as(idCol)).distinct()
          .hint("SHUFFLE_HASH"), Seq(idCol), "left_semi")
        .select(col(idCol).as("store_id"), col(embCol).as("emb_s"))
      cand
        .join(bBase.hint("SHUFFLE_HASH"), "batch_id")
        .join(candEmb.hint("SHUFFLE_HASH"), "store_id")
        .withColumn("sim", VectorFunctions.cosineSim(col("emb_b"), col("emb_s")))
        .filter(col("sim") > threshold)
        .select(col("batch_id"), col("store_id"), col("sim"))
        .localCheckpoint()
    }
  }

  /** Register the SRP sidecar on the maintenance seam — the second
    * [[SidecarRegistry]] client, inheriting every append/merge/delete/
    * compaction path the lexical index and MinHash sidecar ride.
    */
  def registerSrpSidecar(spark: org.apache.spark.sql.SparkSession,
                         table: String, idCol: String, embCol: String,
                         path: String): Unit =
    SidecarRegistry.register(spark, table, srpSidecarMarkerPath(table),
      SidecarRegistry.Registration(path, idCol, embCol)) {
      buildSrpSidecarForStore(spark, table, idCol, embCol, path)
    }

  def maintainRegisteredSrpSidecar(spark: org.apache.spark.sql.SparkSession,
                                   table: String): Unit =
    SidecarRegistry.maintain(spark, table, srpSidecarMarkerPath(table),
      "srp sidecar") { reg =>
      appendToSrpSidecar(spark, table, reg.idCol, reg.textCol, reg.path)
    } { reg =>
      buildSrpSidecarForStore(spark, table, reg.idCol, reg.textCol, reg.path)
    }

  def maintainRegisteredSrpSidecarAfterCompact(
      spark: org.apache.spark.sql.SparkSession, table: String,
      preVersion: Long, post: VersionedStore.State, files: Int): Unit =
    SidecarRegistry.maintainAfterCompact(spark, table,
      srpSidecarMarkerPath(table), "srp sidecar", preVersion, post, files) { reg =>
      buildSrpSidecarForStore(spark, table, reg.idCol, reg.textCol, reg.path)
    }

  /** The drop half of the ingestion near-dup gate: the batch minus every
    * row [[nearDupAgainstStore]] matched — what actually flows to the
    * store when near-dups of history are policy-rejected (the near-dup
    * analog of [[Ingest]]'s exact anti-join). One anti-join against the
    * (bounded) matched-id set.
    */
  def dropNearDupsAgainstStore(spark: org.apache.spark.sql.SparkSession,
                               batch: DataFrame, idCol: String, textCol: String,
                               table: String, path: String,
                               threshold: Double): DataFrame =
    batch.join(
      nearDupAgainstStore(spark, batch, idCol, textCol, table, path, threshold)
        .select(col("batch_id").as(idCol)).distinct(),
      Seq(idCol), "left_anti")

  /** LSH band planning — the parameter decision every MinHash dedup at
    * scale starts with: for a signature of `numHashes` rows, every
    * factorization `bands × rowsPerBand = numHashes` trades false
    * positives (candidate pairs below the target similarity — wasted
    * verify work) against false negatives (missed near-dups). For each
    * factorization this emits the S-curve capture probability
    * `P(candidate | s) = 1 − (1 − s^r)^b` at the target threshold and
    * at ±0.1 around it, the curve's inflection `(1/b)^(1/r)`, and marks
    * the plan whose inflection lands closest to the target (ties to
    * fewer bands — cheaper candidate generation). Pure double
    * arithmetic (pow/ln) in a pinned order, so an external engine
    * replays every row; |divisors(numHashes)| rows total — a planning
    * relation, not data.
    */
  def lshBandPlan(spark: org.apache.spark.sql.SparkSession,
                  numHashes: Int, threshold: Double): DataFrame = {
    require(numHashes >= 1, s"numHashes must be >= 1 (got $numHashes)")
    require(threshold > 0 && threshold < 1,
      s"threshold must be in (0,1) (got $threshold)")
    import spark.implicits._
    val plans = (1 to numHashes).filter(numHashes % _ == 0).toDF("bands")
    def pCand(s: Column, r: Column, b: Column): Column =
      lit(1.0) - pow(lit(1.0) - pow(s, r), b)
    val r = (lit(numHashes) / col("bands")).cast("int")
    // every rounded column below passes through pow (transcendental):
    // round(6) is the score convention, never an exact-ratio round
    val scored = plans
      .withColumn("rows_per_band", r)
      .withColumn("inflection",
        pow(lit(1.0) / col("bands"), lit(1.0) / col("rows_per_band")))
      .withColumn("p_at_threshold",
        round(pCand(lit(threshold), col("rows_per_band"), col("bands")), 6))
      .withColumn("p_below",
        round(pCand(lit(threshold - 0.1), col("rows_per_band"), col("bands")), 6))
      .withColumn("p_above",
        round(pCand(lit(threshold + 0.1), col("rows_per_band"), col("bands")), 6))
      .withColumn("gap", round(abs(col("inflection") - lit(threshold)), 6))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("gap"), col("bands"))
    scored
      .withColumn("chosen", row_number().over(w) === 1)
      .withColumn("inflection", round(col("inflection"), 6))
      .drop("gap")
  }
}
