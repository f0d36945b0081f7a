package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic corpus sampling for training-data pipelines.
  *
  * The reference never samples (its corpora are curated uploads), but a
  * 100 TB pipeline mixes domains/languages to target proportions before
  * training — and the sample must be reproducible across runs, engines,
  * and partitionings, which rules out `df.sample` (seeded per partition
  * layout). The md5-rank trick from [[Testbed.generateTestset]] is the
  * portable seed: rank rows by the md5 of a key column and keep the
  * smallest — a uniform pseudo-random choice any engine reproduces.
  */
object Sampling {

  /** Stratified quota sample (domain mixing): within each stratum keep
    * the `quotas(stratum)` rows with the smallest md5(key) — strata not
    * in the map get `defaultQuota`. Rank ties are impossible when `key`
    * is unique (the id column is the natural choice); the key itself is
    * the tiebreak either way.
    *
    * Plan shape: a per-partition bounded heap (`mapPartitions`) first
    * reduces every scan partition to at most quota rows per stratum
    * under EXACTLY the final ordering (md5 asc, key asc) — the
    * [[Similarity.similarityJoin]] LocalTopK pattern — so the rank
    * window's Exchange moves O(quota × strata × partitions) rows,
    * independent of corpus size, and one giant stratum cannot skew the
    * shuffle.
    */
  def stratifiedQuota(df: DataFrame, strataCol: String, keyCol: String,
                      quotas: Map[String, Int], defaultQuota: Int = 0): DataFrame = {
    require(defaultQuota >= 0 && quotas.values.forall(_ >= 0), "quotas must be >= 0")
    // the per-partition reducer reads the stratum via getString, and the
    // quota map is keyed by strings — reject other types HERE instead of
    // surfacing as a ClassCastException deep inside mapPartitions (cast
    // the column to string at the call site to stratify by e.g. an int id)
    require(df.schema(strataCol).dataType == org.apache.spark.sql.types.StringType,
      s"strata column '$strataCol' must be STRING, found " +
        s"${df.schema(strataCol).dataType.sql} — cast it to string first")
    // stringify-then-hash keeps the ranking portable: md5 of the key's
    // canonical string form is the same bytes in any engine
    val withKey = df.withColumn("__smp", md5(col(keyCol).cast("string").cast("binary")))
    val reduced = withKey.mapPartitions(new StratumTopQ(quotas, defaultQuota,
        withKey.columns.indexOf(strataCol), withKey.columns.indexOf("__smp"),
        withKey.columns.indexOf(keyCol)))(
      org.apache.spark.sql.Encoders.row(withKey.schema))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol)).orderBy(col("__smp"), col(keyCol))
    val quotaCol = quotas.foldLeft(lit(defaultQuota)) { case (acc, (k, v)) =>
      when(col(strataCol) === k, lit(v)).otherwise(acc)
    }
    reduced
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= quotaCol)
      .drop("__rk", "__smp")
  }

  /** Per-partition bounded top-quota reducer: keeps, per stratum, the
    * `quota` rows smallest under (md5, key) — the final window's exact
    * ordering, so pre-pruning can never change the global result. Memory
    * is O(strata × quota) per partition.
    */
  private final class StratumTopQ(quotas: Map[String, Int], defaultQuota: Int,
                                  sIdx: Int, mIdx: Int, kIdx: Int)
      extends (Iterator[Row] => Iterator[Row]) with Serializable {
    // natural (ascending) order: the priority queue's head is the
    // LARGEST kept row — the one to evict when a smaller row arrives
    private val byRank: Ordering[Row] = new Ordering[Row] {
      def compare(a: Row, b: Row): Int = {
        val m = a.getString(mIdx).compareTo(b.getString(mIdx))
        if (m != 0) m
        else a.get(kIdx).asInstanceOf[Comparable[Any]].compareTo(b.get(kIdx))
      }
    }
    def apply(rows: Iterator[Row]): Iterator[Row] = {
      val heaps = scala.collection.mutable.HashMap
        .empty[String, scala.collection.mutable.PriorityQueue[Row]]
      rows.foreach { r =>
        val s = r.getString(sIdx)
        val q = quotas.getOrElse(s, defaultQuota)
        if (q > 0) {
          val heap = heaps.getOrElseUpdate(s,
            scala.collection.mutable.PriorityQueue.empty[Row](byRank))
          if (heap.size < q) heap.enqueue(r)
          else if (byRank.compare(r, heap.head) < 0) { heap.dequeue(); heap.enqueue(r) }
        }
      }
      heaps.valuesIterator.flatMap(_.iterator)
    }
  }

  /** Temperature-scaled mixing quotas — the multilingual sampling rule
    * of XLM-R (Conneau et al. 2020) / mT5 (Xue et al. 2021): stratum s
    * gets share ∝ c_s^alpha, alpha ∈ (0, 1] flattening the head
    * (alpha = 1 is proportional, alpha → 0 approaches uniform). Ideal
    * shares are turned into integer quotas summing exactly to `total`
    * by largest-remainder allocation: floor every ideal, then hand the
    * leftover +1s to the largest fractional parts (stratum ascending on
    * ties). Pure arithmetic on the counts — no RNG — so the whole
    * allocation replays relationally in any engine.
    *
    * Returns `(strataCol, n, quota)`. A quota may exceed its stratum's
    * `n` (alpha < 1 upweights small strata); [[temperatureMix]] caps at
    * `n` (without-replacement) — compose with [[upsampleByStratum]]
    * when the mix calls for true repetition.
    *
    * Scale: one count agg reduces the corpus to |strata| rows; both
    * windows below run over those rows only (strata are domains or
    * languages — dozens, not documents), hence the `lit(1)` partition.
    */
  def temperatureQuotas(df: DataFrame, strataCol: String,
                        alpha: Double, total: Long): DataFrame = {
    require(alpha > 0, s"alpha must be > 0 (got $alpha)")
    require(total >= 0, s"total must be >= 0 (got $total)")
    val whole = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    val byFrac = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
      .orderBy(col("__frac").desc, col(strataCol).asc)
    df.groupBy(col(strataCol)).agg(count(lit(1)).as("n"))
      .withColumn("__w", pow(col("n").cast("double"), lit(alpha)))
      .withColumn("__ideal",
        lit(total.toDouble) * col("__w") / sum(col("__w")).over(whole))
      .withColumn("__base", floor(col("__ideal")).cast("long"))
      .withColumn("__frac", col("__ideal") - col("__base").cast("double"))
      .withColumn("__rk", row_number().over(byFrac))
      .withColumn("__left", lit(total) - sum(col("__base")).over(whole))
      .select(col(strataCol), col("n"),
        (col("__base") +
          when(col("__rk") <= col("__left"), lit(1L)).otherwise(lit(0L))).as("quota"))
  }

  /** [[temperatureQuotas]] applied: the md5-rank stratified take at the
    * temperature-allocated quotas (capped at each stratum's population —
    * without-replacement). One driver round-trip collects the |strata|
    * quota rows (the same boundedness as [[stratifiedQuota]]'s quota
    * map); the corpus-side plan is exactly [[stratifiedQuota]]'s
    * bounded-heap + rank window.
    */
  def temperatureMix(df: DataFrame, strataCol: String, keyCol: String,
                     alpha: Double, total: Long): DataFrame = {
    // the quota rows are read back as strings here — surface the
    // friendly type error BEFORE a driver-side ClassCastException can
    // (the same contract stratifiedQuota states for itself)
    require(df.schema(strataCol).dataType == org.apache.spark.sql.types.StringType,
      s"strata column '$strataCol' must be STRING, found " +
        s"${df.schema(strataCol).dataType.sql} — cast it to string first")
    val quotas = temperatureQuotas(df, strataCol, alpha, total)
      .collect()
      .map { r =>
        val q = math.min(r.getLong(1), r.getLong(2))
        // the per-stratum bounded-heap take is Int-sized; a silent
        // .toInt wrap would sample a dominant stratum at ~0 rows
        require(q <= Int.MaxValue,
          s"stratum '${r.getString(0)}' quota $q exceeds the Int-bounded " +
            "stratified take — at that scale use hashSplit fractions instead")
        r.getString(0) -> q.toInt
      }
      .toMap
    stratifiedQuota(df, strataCol, keyCol, quotas)
  }

  /** Deterministic global shuffle: append `posName` = the row's 1-based
    * rank under `(md5(key ":" seed), key)` — a seeded pseudo-random
    * permutation every engine reproduces bit-for-bit, independent of
    * partition layout (unlike `df.orderBy(rand(seed))`, whose draw is
    * keyed to the physical split). The epoch shuffle a training run
    * feeds its data loader: change the seed, get an uncorrelated order.
    *
    * Plan shape: one range exchange + per-partition sort on the hash
    * (the same work as any global `orderBy`), then the position is
    * assigned by the two-pass zipWithIndex pattern — per-partition
    * counts, driver prefix-sum of ONE long per partition, local offsets
    * — so no single task ever sees more than its own partition. No
    * window-over-everything, no driver collect of data rows.
    */
  def deterministicShuffle(df: DataFrame, keyCol: String, seed: String,
                           posName: String = "position"): DataFrame =
    shuffleIndexed(df, keyCol, seed, posName)._1

  /** [[deterministicShuffle]] plus a handle on its persisted backing RDD
    * so multi-action callers ([[writeShards]]) can unpersist explicitly
    * once done; other callers rely on the ContextCleaner reclaiming the
    * blocks when the returned frame becomes unreachable.
    */
  private def shuffleIndexed(df: DataFrame, keyCol: String, seed: String,
                             posName: String)
      : (DataFrame, org.apache.spark.rdd.RDD[Row]) = {
    val keyed = df.withColumn("__shk",
      md5(concat(checkedKey(keyCol, "deterministicShuffle"), lit(":" + seed))
        .cast("binary")))
    val (out, rdd) = indexByOrder(keyed,
      Seq(col("__shk"), col(keyCol)), posName)
    (out.drop("__shk"), rdd)
  }

  /** Global 1-based position under an explicit total order — the
    * zipWithIndex pattern [[deterministicShuffle]] and
    * [[Curation.curriculumOrder]] share: one range exchange + sort,
    * per-partition counts, a driver prefix-sum of ONE long per
    * partition, local offsets. `sortCols` must be a TOTAL order
    * (include a unique key last) or positions of tied rows are
    * partition-layout-dependent.
    */
  private[ops] def indexByOrder(df: DataFrame,
                                sortCols: Seq[org.apache.spark.sql.Column],
                                posName: String)
      : (DataFrame, org.apache.spark.rdd.RDD[Row]) = {
    val sorted = df.orderBy(sortCols: _*)
    val spark = df.sparkSession
    val outSchema = org.apache.spark.sql.types.StructType(
      sorted.schema.fields :+
        org.apache.spark.sql.types.StructField(posName,
          org.apache.spark.sql.types.LongType, nullable = false))
    // zipWithIndex = one count job + the indexed pass; global order is
    // the range-partition order, which is exactly the sort order above.
    // Persisted so the count job's execution feeds the data pass and
    // later actions instead of re-running the sort's reduce side each
    // time (map-side shuffle output is already reused across jobs, but
    // the reduce-side sort is not). An RDD pin, not a Tables.pinned
    // Dataset: the ContextCleaner releases it once the frame is unreachable.
    val indexed = sorted.rdd.zipWithIndex().map { case (r, i) =>
      Row.fromSeq(r.toSeq :+ (i + 1L))
    }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (spark.createDataFrame(indexed, outSchema), indexed)
  }

  /** The hash key as a string, with nulls rejected IN the expression
    * (the [[RangeJoin]] raise_error pattern): a null key would
    * otherwise hash to null and silently sort first
    * ([[deterministicShuffle]]) or fall through every threshold into
    * the LAST split ([[hashSplit]] — quiet test-set contamination).
    * Duplicate keys are the caller's contract (use the id column):
    * ties hash identically, which leaves their relative order — and
    * their split — well-defined but their positions arbitrary.
    */
  private def checkedKey(keyCol: String, op: String) =
    when(col(keyCol).isNotNull, col(keyCol).cast("string"))
      .otherwise(raise_error(lit(
        s"$op: null $keyCol — seeded membership needs a non-null key")))

  /** First-8-hex-digits threshold for a cumulative fraction: a row
    * belongs below the threshold iff `substr(md5, 1, 8) < hexThreshold
    * (cum)`. Hex-string comparison == numeric comparison (fixed width,
    * lowercase), so the SAME split assignment is a pure string CASE in
    * any engine with md5 — that is the portability contract train/test
    * splits live or die on (a row must never migrate between splits
    * because the pipeline re-ran elsewhere).
    */
  def hexThreshold(cum: Double): String =
    f"${math.min((cum * 4294967296.0).toLong, 0xFFFFFFFFL)}%08x"

  /** Hash-based split assignment (train/val/test): append `splitName`
    * naming the split whose cumulative-weight interval contains the
    * row's hash point `substr(md5(key ":" seed), 1, 8)`. Deterministic
    * per key — re-runs, backfills, and other engines agree row-by-row;
    * membership is a pure map-side expression (no shuffle, no state).
    * Weights must sum to 1 (±1e-6). 32 hash bits bound quantization:
    * each boundary lands within 2⁻³² of its weight.
    */
  def hashSplit(df: DataFrame, keyCol: String, splits: Seq[(String, Double)],
                seed: String, splitName: String = "split"): DataFrame = {
    require(splits.nonEmpty && splits.forall(_._2 >= 0), "weights must be >= 0")
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-6,
      s"split weights must sum to 1, got ${splits.map(_._2).sum}")
    val point = substring(
      md5(concat(checkedKey(keyCol, "hashSplit"), lit(":" + seed)).cast("binary")), 1, 8)
    val cums: Seq[Double] = splits.scanLeft(0.0)(_ + _._2).tail
    // fold from the LAST split: each earlier boundary overrides below it
    val label = splits.zip(cums).init
      .foldRight(lit(splits.last._1): org.apache.spark.sql.Column) {
        case (((name, _), cum), acc) =>
          when(point < lit(hexThreshold(cum)), lit(name)).otherwise(acc)
      }
    df.withColumn(splitName, label)
  }

  /** Near-dup-AWARE (leakage-safe) split: every document follows its
    * near-dup CLUSTER REPRESENTATIVE's hash point instead of its own,
    * so no near-duplicate pair can straddle a train/test boundary — the
    * leakage a plain per-document [[hashSplit]] cannot prevent (a doc
    * and its 95%-identical copy hash independently and land on opposite
    * sides ~2·p·(1−p) of the time, silently inflating eval scores).
    * `pairs` is any `(id_a, id_b)` near-dup relation (the
    * [[Dedup.ngramJaccardPairs]] / MinHash / SemDeDup outputs all fit);
    * its connected components ([[Dedup.connectedComponents]]) assign
    * each clustered doc its component representative, singletons
    * represent themselves, and the split is [[hashSplit]] on the
    * representative — same portability contract (pure md5 string CASE),
    * same determinism, one extra bounded join.
    *
    * Scale: the component relation is |clustered docs| rows — a small
    * fraction of the corpus — and joins SHUFFLE_HASH on the id;
    * everything else is the map-side hashSplit expression.
    */
  def leakageSafeSplit(df: DataFrame, idCol: String, pairs: DataFrame,
                       splits: Seq[(String, Double)], seed: String,
                       splitName: String = "split"): DataFrame = {
    val comp = Dedup.connectedComponents(pairs)
      .select(col("id").as(idCol), col("component").as("__component"))
    hashSplit(
      df.join(comp.hint("SHUFFLE_HASH"), Seq(idCol), "left")
        .withColumn("__rep", coalesce(col("__component"), col(idCol)))
        .drop("__component"),
      "__rep", splits, seed, splitName)
      .drop("__rep")
  }

  /** Deliver the corpus as fixed-size training shards: a seeded
    * [[deterministicShuffle]], then `shard = (position-1) / rowsPerShard`
    * written as one parquet file per `shard=k` directory, rows inside
    * each file sorted by position — the layout a data loader streams
    * sequentially while shards themselves shuffle cheaply per epoch.
    * Every shard holds exactly `rowsPerShard` rows except the last;
    * re-running with the same seed rewrites byte-identical membership.
    * One extra hash exchange on the shard id co-locates each shard into
    * exactly one task (so exactly one file); shard sizes are uniform by
    * construction — no skew. Returns the shard count.
    */
  def writeShards(df: DataFrame, keyCol: String, seed: String,
                  rowsPerShard: Long, path: String,
                  posName: String = "position"): Long =
    writeShardsAs(df, keyCol, seed, rowsPerShard, path, posName, "parquet")

  /** ONE implementation of the deterministic shard layout — the format
    * is the only thing the public writers differ in.
    */
  private def writeShardsAs(df: DataFrame, keyCol: String, seed: String,
                            rowsPerShard: Long, path: String,
                            posName: String, format: String): Long = {
    require(rowsPerShard >= 1, "rowsPerShard must be >= 1")
    val (shuffled, backing) = shuffleIndexed(df, keyCol, seed, posName)
    shuffled
      // integer `div`, not `/`: Column./ on longs is DOUBLE division,
      // exact only below 2^53 — div is exact at any position
      .withColumn("shard", expr(s"(`$posName` - 1) div $rowsPerShard"))
      .repartition(col("shard"))
      .sortWithinPartitions(col(posName))
      .write.mode("overwrite").partitionBy("shard").format(format).save(path)
    // shard count from the shuffle itself (cached, so no recompute) — a
    // read-back would crash on the empty-corpus case, where the write
    // emits no data files at all
    val total = shuffled.count()
    backing.unpersist(blocking = false) // both actions done; release now
    (total + rowsPerShard - 1) / rowsPerShard
  }

  /** [[writeShards]] in JSONL — the delivery format most fine-tuning
    * stacks ingest directly. Same deterministic layout contract: seeded
    * md5 shuffle order, `rowsPerShard`-sized `shard=K` directories,
    * rows sorted by position within each shard (Spark's JSON writer
    * preserves partition-local order, so a shard file replays in
    * training order). The `position` column rides in each JSON object —
    * delivery should be auditable without the parquet sibling. Returns
    * the shard count.
    */
  def writeJsonlShards(df: DataFrame, keyCol: String, seed: String,
                       rowsPerShard: Long, path: String,
                       posName: String = "position"): Long =
    writeShardsAs(df, keyCol, seed, rowsPerShard, path, posName, "json")

  /** GPT-style sequence packing: concatenate documents in the seeded
    * shuffle order and cut the stream into fixed `budget`-token training
    * windows. Emits, per document: its shuffle `position`, its token
    * `offset` in the concatenated stream, and the `first_window` /
    * `last_window` it lands in (`offset div budget` /
    * `(offset+tokens-1) div budget` — a document may straddle windows,
    * exactly as pretraining packing does). Deterministic per
    * (key, seed): any engine reproduces the same windows — which
    * requires UNIQUE keys, as duplicate keys tie in the order and their
    * relative placement (hence their offsets) is partition-dependent;
    * after [[upsampleByStratum]], key on (id, epoch).
    *
    * Scale shape: the offset is a prefix sum over the shuffle order,
    * computed with the same two-pass pattern as the position itself —
    * per-partition token sums, a driver prefix-scan of ONE long per
    * partition, then a per-partition running add. No
    * window-over-everything: the plan's only wide step is the shuffle's
    * own range exchange.
    */
  def packWindows(df: DataFrame, keyCol: String, tokensCol: String,
                  budget: Long, seed: String,
                  posName: String = "position"): DataFrame = {
    require(budget >= 1, "budget must be >= 1")
    val spark = df.sparkSession
    val shuffled = deterministicShuffle(df, keyCol, seed, posName)
      .withColumn(tokensCol, col(tokensCol).cast("long"))
    val tokIdx = shuffled.columns.indexOf(tokensCol)
    val rdd = shuffled.rdd
    // a null token count would unbox to 0L and silently shift every
    // later offset — reject loudly, like checkedKey does for null keys
    def tok(r: Row): Long = {
      require(!r.isNullAt(tokIdx),
        s"packWindows: null $tokensCol — every document needs a token count")
      r.getLong(tokIdx)
    }
    // pass 1: one long per partition crosses the driver, never data rows
    val perPart = rdd.mapPartitionsWithIndex { (i, it) =>
      Iterator((i, it.map(tok).sum))
    }.collect().sortBy(_._1).map(_._2)
    val starts = perPart.scanLeft(0L)(_ + _)
    val bc = spark.sparkContext.broadcast(starts)
    val out = rdd.mapPartitionsWithIndex { (i, it) =>
      var run = bc.value(i)
      it.map { r =>
        val t = tok(r)
        require(t >= 0, s"negative token count $t")
        val off = run; run += t
        Row.fromSeq(r.toSeq :+ off)
      }
    }
    val schema = org.apache.spark.sql.types.StructType(
      shuffled.schema.fields :+
        org.apache.spark.sql.types.StructField("offset",
          org.apache.spark.sql.types.LongType, nullable = false))
    spark.createDataFrame(out, schema)
      .withColumn("first_window", expr(s"offset div $budget"))
      .withColumn("last_window",
        expr(s"(offset + greatest(`$tokensCol` - 1, 0)) div $budget"))
  }

  /** Loss-mask spans for packed SFT windows — the piece between
    * "packed token stream" and "trainer": each example is a prompt
    * followed by a completion, both concatenated into the
    * [[packWindows]] stream, and the LOSS applies only to completion
    * tokens. Returns one row per (example, window) whose completion
    * tokens intersect that window:
    * `(keyCol, posName, window, span_start, span_end)` with
    * window-local token coordinates `[span_start, span_end)` — the
    * mask a trainer applies so prompt tokens (and neighboring
    * examples' tokens) never contribute loss. A window an example
    * touches with PROMPT tokens only (a long prompt straddling a
    * boundary) emits no row, and a zero-completion example emits
    * nothing at all. Pure integer arithmetic over [[packWindows]]'s
    * offsets: deterministic per (key, seed), no shuffle beyond the
    * pack's own, and the explode is bounded by tokens/budget + 1
    * windows per example.
    */
  def packLossMaskSpans(df: DataFrame, keyCol: String,
                        promptTokensCol: String, completionTokensCol: String,
                        budget: Long, seed: String,
                        posName: String = "position"): DataFrame = {
    require(budget >= 1, "budget must be >= 1")
    // negative counts would let a span reach into a NEIGHBOR example's
    // tokens, and a NULL count has no defined span at all — both
    // refuse loudly at the row, each with its own message (a null
    // comparison is itself null, so the null arm must come first or
    // it would fall into the negative-count error with the wrong text)
    val withTotal = df.withColumn("__tokens",
      expr(s"CASE WHEN `$promptTokensCol` IS NULL OR `$completionTokensCol` IS NULL THEN " +
        s"raise_error(CONCAT('packLossMaskSpans: null token count for ', " +
        s"CAST(`$keyCol` AS STRING))) " +
        s"WHEN `$promptTokensCol` >= 0 AND `$completionTokensCol` >= 0 THEN " +
        s"CAST(`$promptTokensCol` AS LONG) + CAST(`$completionTokensCol` AS LONG) " +
        s"ELSE raise_error(CONCAT('packLossMaskSpans: negative token count for ', " +
        s"CAST(`$keyCol` AS STRING))) END"))
    packWindows(withTotal, keyCol, "__tokens", budget, seed, posName)
      .withColumn("__w", explode(sequence(col("first_window"), col("last_window"))))
      .withColumn("__lo",
        greatest(col("offset") + col(promptTokensCol).cast("long"),
          col("__w") * budget))
      .withColumn("__hi",
        least(col("offset") + col("__tokens"), (col("__w") + 1) * budget))
      .filter(col("__hi") > col("__lo"))
      .select(col(keyCol), col(posName), col("__w").as("window"),
        (col("__lo") - col("__w") * budget).as("span_start"),
        (col("__hi") - col("__w") * budget).as("span_end"))
  }

  /** Length-bucketed batch planning — the pad-to-bucket dynamic
    * batching every inference/eval pipeline runs: each example pads to
    * the least multiple of `quantum` covering its token count
    * (`bucket_len`), and each bucket fills fixed-capacity batches of
    * `budget div bucket_len` examples, so every batch costs ≤ `budget`
    * padded tokens whatever it holds. Returns per example:
    * `(keyCol, tokensCol, bucket_len, batch_id, batch_capacity,
    * padded_tokens, waste)` with `batch_id` unique per (bucket, fill
    * order) — fill order is the deterministic (seeded-hash, key) order,
    * so any engine reproduces the same batches. An example longer than
    * `budget` can fit NO batch and refuses loudly. Null token counts
    * refuse like [[packWindows]].
    *
    * Scale shape: one exchange keyed on the bucket (the per-bucket
    * sequence number is inherently bucket-local); buckets are few ×
    * large, and a 100 TB run plans batches per training shard, so the
    * window never sees more than a shard's rows.
    */
  def lengthBucketBatches(df: DataFrame, keyCol: String, tokensCol: String,
                          quantum: Long, budget: Long,
                          seed: String = "b0"): DataFrame = {
    require(quantum >= 1 && budget >= quantum,
      s"need quantum >= 1 and budget >= quantum (got $quantum/$budget)")
    require(budget % quantum == 0,
      s"budget must be a multiple of quantum (got $budget % $quantum != 0) — " +
        "otherwise the top bucket's padded length exceeds the budget and " +
        "its batch capacity is zero")
    val t = col(tokensCol).cast("long")
    df.withColumn("bucket_len",
        expr(s"IF(`$tokensCol` IS NOT NULL AND `$tokensCol` >= 0 " +
          s"AND `$tokensCol` <= $budget, " +
          s"greatest((CAST(`$tokensCol` AS LONG) + ${quantum - 1}) div $quantum, 1L) * $quantum, " +
          s"raise_error(CONCAT('lengthBucketBatches: token count out of [0, budget] for ', " +
          s"CAST(`$keyCol` AS STRING))))"))
      .withColumn("batch_capacity", expr(s"CAST($budget AS LONG) div bucket_len"))
      .withColumn("__rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("bucket_len"))
          .orderBy(md5(concat(col(keyCol).cast("string"), lit(s":$seed"))),
            col(keyCol))))
      .withColumn("batch_id", expr("CAST(__rn - 1 AS LONG) div batch_capacity"))
      .withColumn("padded_tokens", col("bucket_len"))
      .withColumn("waste", col("bucket_len") - t)
      .drop("__rn")
  }

  /** Per-stratum integer upsampling (epoch mixing): emit each row
    * `factors(stratum)` times (default `defaultFactor`), tagged 1..n in
    * `epochName`; factor 0 drops the stratum. The "2 epochs of
    * wikipedia, 1 of web, none of spam" recipe every LLM data mix
    * specifies. Map-side explode of a literal-bounded sequence — row
    * count multiplies, but no shuffle and no skew (each source row
    * expands locally).
    */
  def upsampleByStratum(df: DataFrame, strataCol: String, factors: Map[String, Int],
                        defaultFactor: Int = 1, epochName: String = "epoch"): DataFrame = {
    require(defaultFactor >= 0 && factors.values.forall(_ >= 0),
      "factors must be >= 0")
    val factorCol = factors.foldLeft(lit(defaultFactor)) { case (acc, (k, v)) =>
      when(col(strataCol) === k, lit(v)).otherwise(acc)
    }
    df.withColumn(epochName,
        explode(when(factorCol >= 1, sequence(lit(1L), factorCol.cast("long")))
          .otherwise(array().cast("array<long>"))))
  }

  /** Deterministic weighted k-sample WITHOUT replacement — the
    * Efraimidis–Spirakis exponential-keys method (A-ES, 2006), the
    * standard one-pass distributed weighted reservoir: each row draws
    * its uniform u from the md5-portable 60-bit bridge on
    * `(key, seed)` and scores `−ln(u)/w`; the k SMALLEST scores are
    * exactly a weight-proportional sample without replacement (rank by
    * `−ln(u)/w` asc ⟺ `u^(1/w)` desc, the published form). This is
    * the consumer [[graft.ops.Dedup.softDedupWeights]] documents —
    * cluster weights 1/n feed straight in, so a deduplicated corpus
    * samples each near-dup cluster with total mass 1.
    *
    * Determinism/portability: u is a pure function of (key, seed) via
    * md5, so any engine regenerates the identical sample; ranking cuts
    * on the 6dp-ROUNDED score (ln is transcendental — the bm25
    * portable-ranking convention) with the key as total tiebreak.
    * Weights NORMALIZE by their max before scoring (one narrow agg):
    * raw `−ln(u)/w` under a 6dp absolute round would quantize
    * large-unit weights (integer micros, token counts) into mass score
    * ties, silently degrading to id-order sampling — normalizing puts
    * the heaviest key at `−ln(u)` exactly, so the 6dp cut always has
    * resolution where the competition is, whatever unit the weights
    * arrive in. Weights must be > 0 — null/zero/negative refuse loudly
    * at action time (a zero weight's score is +∞ which silently never
    * samples; the caller should filter, not discover that at readout);
    * the refusal runs inside the max aggregate, so every row's weight
    * is checked even when it would not have been sampled.
    *
    * Scale shape: one narrow max agg broadcast back as a single row
    * (the plan stays LAZY — no eager driver action, the source is
    * scanned once per invocation, like every other op in this module)
    * + one narrow projection + TakeOrdered top-k — no full sort, no
    * shuffle beyond the k-row merge; the classic reservoir's
    * sequential state becomes embarrassingly parallel. An empty input
    * yields an empty sample.
    */
  def weightedSample(df: DataFrame, keyCol: String, weightCol: String,
                     k: Int, seed: String): DataFrame = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    val u = (conv(substring(md5(concat(col(keyCol).cast("string"),
        lit(s":$seed")).cast("binary")), 1, 15), 16, 10).cast("double") +
      lit(1.0)) / lit(math.pow(2, 60))
    val w = expr(s"IF(`$weightCol` IS NOT NULL AND `$weightCol` > 0, " +
      s"CAST(`$weightCol` AS DOUBLE), " +
      s"raise_error(CONCAT('weightedSample: weight must be > 0 for ', " +
      s"CAST(`$keyCol` AS STRING))))")
    // the 1-row max aggregate rides INSIDE the returned plan as a
    // broadcast cross join (the single-row twin of the per-stratum
    // window max) — constructing the sample never triggers a scan, and
    // the max-agg still runs the refusal over every row
    val wmaxDf = df.agg(max(w).as("__wmax"))
    df.crossJoin(broadcast(wmaxDf))
      .withColumn("sample_score", round(-log(u) * col("__wmax") / w, 6))
      .drop("__wmax")
      .orderBy(col("sample_score").asc, col(keyCol).asc)
      .limit(k)
  }

  /** [[weightedSample]] per stratum — the mixture-building shape ("the
    * k best-weighted documents of EVERY domain/language"): the same
    * A-ES exponential keys, top-k'd inside each stratum, so one pass
    * samples every stratum at once. Normalization is PER-STRATUM max,
    * so each stratum's 6dp cut has resolution where its own
    * competition is and strata with different weight units can coexist
    * in one call.
    *
    * Scale shape — SKEW-SAFE two-phase top-k (round 18; the previous
    * plan's single stratum-keyed exchange put a 90%-one-language
    * corpus's entire dominant stratum on one reducer):
    *
    *   1. per-stratum max via `groupBy(stratum).max` — map-side
    *      combined, each map partition emits ≤ |strata| rows, then
    *      broadcast back (strata are languages/domains — the same
    *      broadcast-sized contract every mix/quota op in this module
    *      carries), so the corpus itself is never exchanged for
    *      normalization;
    *   2. pre-filter: row_number over `(stratum, input partition)` —
    *      the hot stratum spreads across ALL input partitions, so this
    *      exchange is balanced whatever the stratum skew; every
    *      `(stratum, partition)` keeps only its k best, which provably
    *      contains the stratum's global k best (the TakeOrdered
    *      argument, per stratum);
    *   3. final rank over the stratum on ≤ k·partitions·strata
    *      surviving rows — a trivially small exchange.
    *
    * The selection is EXACTLY the single-exchange plan's (same scores,
    * same (score, key) total order, same k), so the oracle row is
    * unchanged; only the exchange topology differs.
    */
  def weightedSamplePerStratum(df: DataFrame, strataCol: String,
                               keyCol: String, weightCol: String,
                               kPerStratum: Int, seed: String): DataFrame = {
    require(kPerStratum >= 1, s"kPerStratum must be >= 1 (got $kPerStratum)")
    val u = (conv(substring(md5(concat(col(keyCol).cast("string"),
        lit(s":$seed")).cast("binary")), 1, 15), 16, 10).cast("double") +
      lit(1.0)) / lit(math.pow(2, 60))
    val w = expr(s"IF(`$weightCol` IS NOT NULL AND `$weightCol` > 0, " +
      s"CAST(`$weightCol` AS DOUBLE), " +
      s"raise_error(CONCAT('weightedSamplePerStratum: weight must be > 0 for ', " +
      s"CAST(`$keyCol` AS STRING))))")
    // null-SAFE equi-join: a null stratum is a legitimate group (the
    // old window plan treated it as one) and must not be dropped
    val wmax = df.groupBy(col(strataCol))
      .agg(max(w).as("__wmax"))
      .withColumnRenamed(strataCol, "__stratum_m")
    val byStratumPart = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol), col("__part"))
    val byStratum = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol))
    df.join(broadcast(wmax), col(strataCol) <=> col("__stratum_m"))
      .drop("__stratum_m")
      .withColumn("sample_score", round(-log(u) * col("__wmax") / w, 6))
      .withColumn("__part", spark_partition_id())
      .withColumn("__prk", row_number().over(
        byStratumPart.orderBy(col("sample_score").asc, col(keyCol).asc)))
      .filter(col("__prk") <= kPerStratum)
      .withColumn("__rk", row_number().over(
        byStratum.orderBy(col("sample_score").asc, col(keyCol).asc)))
      .filter(col("__rk") <= kPerStratum)
      .drop("__wmax", "__part", "__prk", "__rk")
  }

  // ---- maintained weighted sample (sidecar through the store seams) ----

  def sampleSidecarMarkerPath(table: String): String =
    s"$table/_sample_sidecar"

  /** The RAW A-ES ranking key `−ln(u)/w` — a pure function of
    * (key, seed, weight), so any pass over any layout recomputes the
    * identical double. The maintained sample ranks on THIS, not on
    * [[weightedSample]]'s max-normalized 6dp-rounded output score:
    * mergeability demands a total order that is STABLE UNDER APPENDS,
    * and the corpus-max-scaled rounding is not (an append that raises
    * the max re-buckets every 6dp tie, so a segment's locally-kept
    * candidates could stop containing the global winners). Selection
    * by the raw score is order-equivalent to the normalized score
    * (×wmax is monotone) except exactly at those rounding ties; the
    * rounded form remains the CROSS-ENGINE output convention, applied
    * to the published score after selection.
    */
  private def rawScore(keyExpr: Column, wExpr: Column, seed: String): Column = {
    val u = (conv(substring(md5(concat(keyExpr.cast("string"),
        lit(s":$seed")).cast("binary")), 1, 15), 16, 10).cast("double") +
      lit(1.0)) / lit(math.pow(2, 60))
    -log(u) / wExpr
  }

  private def checkedWeight(keyCol: String, weightCol: String,
                            what: String): Column =
    expr(s"IF(`$weightCol` IS NOT NULL AND `$weightCol` > 0, " +
      s"CAST(`$weightCol` AS DOUBLE), " +
      s"raise_error(CONCAT('$what: weight must be > 0 for ', " +
      s"CAST(`$keyCol` AS STRING))))")

  /** [[weightedSample]]'s exact-selection twin: ranks by the unrounded
    * raw score with the key as tiebreak — the order the maintained
    * sidecar folds under, exposed so "maintained ≡ direct" is checkable
    * in-engine with no rounding in the comparison. Output carries the
    * key, the weight and the published (max-normalized, 6dp) score.
    */
  def weightedSampleExact(df: DataFrame, keyCol: String, weightCol: String,
                          k: Int, seed: String): DataFrame = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    val w = checkedWeight(keyCol, weightCol, "weightedSampleExact")
    val wmaxDf = df.agg(max(w).as("__wmax"))
    df.crossJoin(broadcast(wmaxDf))
      .withColumn("__raw", rawScore(col(keyCol), w, seed))
      .withColumn("sample_score", round(col("__raw") * col("__wmax"), 6))
      .orderBy(col("__raw").asc, col(keyCol).asc)
      .limit(k)
      .drop("__raw", "__wmax")
  }

  /** Per-segment A-ES candidate rows for the sample sidecar — ONE
    * multi-root scan ([[Profile.readWithSegment]]), one window keyed on
    * the segment: each segment ledgers its k smallest (raw score, key)
    * rows plus its own weight maximum. The fold identity is the
    * TakeOrdered argument per segment: the global k smallest over any
    * disjoint segment cover is contained in the union of each
    * segment's k smallest, and the global weight max is the max of
    * segment maxima — so a 100 TB store maintains ≤ k rows per
    * immutable segment and re-scans only APPENDED segments, while the
    * maintained sample is always one (k × segments)-row fold away.
    */
  private def segmentCandidates(spark: SparkSession, table: String,
                                segments: Seq[String], keyCol: String,
                                weightCol: String, k: Int, seed: String,
                                strataCol: Option[String]): DataFrame = {
    // stratified ledgers partition candidates per (segment, stratum) —
    // the fold argument holds per stratum exactly as it does globally,
    // and the ledger stays <= k * strata * segments rows. The stratum
    // is ledgered as a STRING (null for the global form) so the parts
    // schema is one shape for both kinds.
    val stratum = strataCol.map(c => col(c).cast("string"))
      .getOrElse(lit(null).cast("string"))
    val partCols = col("__segment") +: strataCol.map(_ => col("__stratum")).toSeq
    val bySeg = org.apache.spark.sql.expressions.Window
      .partitionBy(partCols: _*)
    val w = checkedWeight(keyCol, weightCol, "sample sidecar")
    Profile.readWithSegment(spark, table, segments, "__segment")
      .withColumn("__stratum", stratum)
      .withColumn("__raw", rawScore(col(keyCol), w, seed))
      .withColumn("__wmax_seg", max(w).over(bySeg))
      .withColumn("__rk", row_number().over(
        bySeg.orderBy(col("__raw").asc, col(keyCol).asc)))
      .filter(col("__rk") <= k)
      .select(col("__segment").as("segment"),
        col("__stratum").as("stratum"),
        col(keyCol).as("key"),
        w.as("w"),
        col("__wmax_seg").as("wmax_seg"))
  }

  /** Build the weighted-sample sidecar for a [[VersionedStore]] table
    * ([[SidecarRegistry.SampleSidecar]]): one candidate ledger row
    * set per segment (per segment AND stratum when `strataCol` is
    * given — the "fresh per-language sample of a growing corpus"
    * form), `_stats` =
    * `"v1 <keyCol>,<weightCol>,<k>,<seed>,<strataCol|-> v<version>"`
    * under the registry's stamp discipline. Merges/deletes rewrite
    * segments a per-segment candidate ledger cannot un-sample, so
    * non-pure-append histories refuse the fold and the registry
    * reconciles ([[reconcileSampleSidecar]]).
    */
  def buildSampleSidecarForStore(spark: SparkSession, table: String,
                                 keyCol: String, weightCol: String,
                                 k: Int, seed: String, path: String,
                                 strataCol: Option[String] = None): Unit = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    require(!(Seq(keyCol, weightCol, seed) ++ strataCol).exists(_.contains(",")),
      "sample sidecar config fields must not contain commas")
    val st = VersionedStore.currentState(spark, table).getOrElse(
      throw new IllegalStateException(s"no committed state at $table"))
    graft.Fs.delete(spark, s"$path/_stats")
    segmentCandidates(spark, table, st.segments, keyCol, weightCol, k, seed,
        strataCol)
      .write.mode("overwrite").parquet(s"$path/parts")
    val v1 = VersionedStore.currentState(spark, table).map(_.version).getOrElse(0L)
    require(v1 == st.version,
      s"store $table moved from version ${st.version} to $v1 during the " +
        "sample sidecar build; rebuild")
    graft.Fs.writeString(spark, s"$path/_stats",
      s"v1 $keyCol,$weightCol,$k,$seed,${strataCol.getOrElse("-")} v${st.version}")
  }

  private final case class SampleCfg(keyCol: String, weightCol: String,
                                     k: Int, seed: String,
                                     strataCol: Option[String], version: Long)

  private def parseSampleStats(spark: SparkSession,
                               path: String): SampleCfg = {
    val stats = graft.Fs.readString(spark, s"$path/_stats").trim.split(" ")
    require(stats.length >= 3 && stats(0) == "v1" && stats(2).startsWith("v"),
      s"sample sidecar at $path has a damaged/unstamped _stats; rebuild " +
        "with buildSampleSidecarForStore")
    val cfg = stats(1).split(",")
    require(cfg.length == 5,
      s"sample sidecar at $path has a malformed config '${stats(1)}'; rebuild")
    SampleCfg(cfg(0), cfg(1), cfg(2).toInt, cfg(3),
      Some(cfg(4)).filter(_ != "-"), stats(2).drop(1).toLong)
  }

  /** Fold the store's NEW segments into the candidate ledger —
    * O(appended rows). The fingerprint-sidecar discipline verbatim:
    * damaged stats, config mismatches and non-pure-append histories
    * refuse as IllegalArgumentException (the registry's rebuild
    * trigger), stamp retired before the write.
    */
  def appendToSampleSidecar(spark: SparkSession, table: String,
                            path: String): Unit = {
    val c = parseSampleStats(spark, path)
    VersionedStore.appendedSince(spark, table, c.version, "sample sidecar",
      "a per-segment candidate ledger cannot un-sample rewritten rows; rebuild " +
        "with buildSampleSidecarForStore").foreach { case (version, newSegs) =>
      graft.Fs.delete(spark, s"$path/_stats")
      if (newSegs.nonEmpty)
        segmentCandidates(spark, table, newSegs, c.keyCol, c.weightCol, c.k,
            c.seed, c.strataCol)
          .write.mode("append").parquet(s"$path/parts")
      graft.Fs.writeString(spark, s"$path/_stats",
        s"v1 ${c.keyCol},${c.weightCol},${c.k},${c.seed}," +
          s"${c.strataCol.getOrElse("-")} v$version")
    }
  }

  /** The maintained sample: one (k × segments)-row parts read, the
    * global weight max folded from segment maxima (broadcast in-plan,
    * lazy), the k smallest (raw score, key) rows selected — NEVER a
    * corpus rescan. Refuses a stale ledger loudly. Output matches
    * [[weightedSampleExact]] over the store row for row: `key` (the
    * store's key column, native type), `w`, `sample_score` (the
    * published max-normalized 6dp score).
    */
  def maintainedWeightedSample(spark: SparkSession, table: String,
                               path: String): DataFrame = {
    val c = freshSampleCfg(spark, table, path)
    require(c.strataCol.isEmpty,
      s"sample sidecar at $path is stratified (per ${c.strataCol.get}) " +
        "-- read it with maintainedWeightedSamplePerStratum")
    val parts = spark.read.parquet(s"$path/parts")
    val wmaxDf = parts.agg(max(col("wmax_seg")).as("__wmax"))
    parts.crossJoin(broadcast(wmaxDf))
      .withColumn("__raw", rawScore(col("key"), col("w"), c.seed))
      .withColumn("sample_score", round(col("__raw") * col("__wmax"), 6))
      .orderBy(col("__raw").asc, col("key").asc)
      .limit(c.k)
      .select(col("key"), col("w"), col("sample_score"))
  }

  /** The per-stratum maintained sample — the "fresh per-language
    * sample of a growing corpus" read: candidates fold per stratum
    * (ledger rows <= k * strata * segments, all tiny), the stratum
    * weight max folds from segment-stratum maxima (the per-stratum
    * normalization convention of [[weightedSamplePerStratum]]), and
    * each stratum's k smallest (raw score, key) rows are selected.
    * Output: `stratum` (STRING, the ledgered form), `key`, `w`,
    * `sample_score`.
    */
  def maintainedWeightedSamplePerStratum(spark: SparkSession, table: String,
                                         path: String): DataFrame = {
    val c = freshSampleCfg(spark, table, path)
    require(c.strataCol.isDefined,
      s"sample sidecar at $path is global -- read it with " +
        "maintainedWeightedSample")
    val parts = spark.read.parquet(s"$path/parts")
    val byStratum = org.apache.spark.sql.expressions.Window
      .partitionBy(col("stratum"))
    parts
      .withColumn("__wmax", max(col("wmax_seg")).over(byStratum))
      .withColumn("__raw", rawScore(col("key"), col("w"), c.seed))
      .withColumn("sample_score", round(col("__raw") * col("__wmax"), 6))
      .withColumn("__rk", row_number().over(
        byStratum.orderBy(col("__raw").asc, col("key").asc)))
      .filter(col("__rk") <= c.k)
      .select(col("stratum"), col("key"), col("w"), col("sample_score"))
  }

  private def freshSampleCfg(spark: SparkSession, table: String,
                             path: String): SampleCfg = {
    val c = parseSampleStats(spark, path)
    val cur = VersionedStore.currentState(spark, table).map(_.version).getOrElse(0L)
    require(c.version == cur,
      s"sample sidecar at $path (v${c.version}) is stale against $table " +
        s"(v$cur) -- run appendToSampleSidecar first")
    c
  }

  /** The maintained sample of a HISTORICAL version — time-travel
    * sampling at O(parts read): a pure-append history makes version
    * v's corpus a prefix of the segment ledger, so folding v's
    * segments' candidates (and weight maxima) reproduces exactly the
    * sample that version would have served — "which weighted sample
    * did run X train on?" answered without reading the snapshot.
    * Global-config ledgers only (the per-stratum twin would mirror
    * it); refuses a rewritten history or a stale ledger loudly.
    */
  def maintainedWeightedSampleAt(spark: SparkSession, table: String,
                                 path: String, version: Long): DataFrame = {
    val c = freshSampleCfg(spark, table, path)
    require(c.strataCol.isEmpty,
      s"sample sidecar at $path is stratified -- time-travel reads are " +
        "global-config only")
    val at = VersionedStore.stateAt(spark, table, version).getOrElse(
      throw new IllegalArgumentException(
        s"$table has no readable manifest at v$version"))
    val parts = spark.read.parquet(s"$path/parts")
    val ledgered = parts.select(col("segment")).distinct()
      .collect().map(_.getString(0)).toSet
    val missing = at.segments.filterNot(ledgered)
    require(missing.isEmpty,
      s"v$version of $table holds segments the ledger never sampled " +
        s"(${missing.take(3).mkString(", ")}...) -- the history was " +
        "rewritten; rebuild with buildSampleSidecarForStore")
    val atParts = parts.filter(col("segment").isin(at.segments: _*))
    val wmaxDf = atParts.agg(max(col("wmax_seg")).as("__wmax"))
    atParts.crossJoin(broadcast(wmaxDf))
      .withColumn("__raw", rawScore(col("key"), col("w"), c.seed))
      .withColumn("sample_score", round(col("__raw") * col("__wmax"), 6))
      .orderBy(col("__raw").asc, col("key").asc)
      .limit(c.k)
      .select(col("key"), col("w"), col("sample_score"))
  }

  /** Reconcile the candidate ledger against the CURRENT segment set
    * at O(changed segments + parts) — the merge/delete repair path
    * ([[Profile.reconcileSegmentLedger]] discipline): rescan only
    * unledgered current segments, drop retired segments' candidates,
    * keep the rest untouched. Damaged stats refuse to the rebuild.
    */
  def reconcileSampleSidecar(spark: SparkSession, table: String,
                             path: String): Unit = {
    val c = parseSampleStats(spark, path)
    val cur = VersionedStore.currentState(spark, table).getOrElse(
      throw new IllegalStateException(s"$table has no committed state"))
    if (c.version == cur.version) return
    Profile.reconcileSegmentLedger(spark, table, path,
      segs => segmentCandidates(spark, table, segs, c.keyCol, c.weightCol,
        c.k, c.seed, c.strataCol),
      cur.segments)
    val v1 = VersionedStore.currentState(spark, table).map(_.version).getOrElse(0L)
    require(v1 == cur.version,
      s"store $table moved from version ${cur.version} to $v1 during the " +
        "sample reconcile; rebuild")
    graft.Fs.writeString(spark, s"$path/_stats",
      s"v1 ${c.keyCol},${c.weightCol},${c.k},${c.seed}," +
        s"${c.strataCol.getOrElse("-")} v${cur.version}")
  }

  def registerSampleSidecar(spark: SparkSession, table: String,
                            keyCol: String, weightCol: String, k: Int,
                            seed: String, path: String,
                            strataCol: Option[String] = None): Unit =
    SidecarRegistry.register(spark, table, SidecarRegistry.SampleSidecar,
      SidecarRegistry.Registration(path, keyCol,
        s"$weightCol,$k,$seed,${strataCol.getOrElse("-")}"))

  /** Rebuild a registered sample sidecar from the configuration its
    * marker carries (`<weightCol>,<k>,<seed>,<strataCol|->`).
    */
  private[ops] def rebuildSampleSidecar(spark: SparkSession, table: String,
                                        reg: SidecarRegistry.Registration): Unit = {
    val cfg = reg.textCol.split(",")
    buildSampleSidecarForStore(spark, table, reg.idCol, cfg(0), cfg(1).toInt,
      cfg(2), reg.path, Some(cfg(3)).filter(_ != "-"))
  }

  /** [[weightedSamplePerStratum]]'s exact-selection twin (raw-score
    * order, per-stratum max published scores) — the order the
    * stratified sidecar folds under; see [[weightedSampleExact]].
    */
  def weightedSamplePerStratumExact(df: DataFrame, strataCol: String,
                                    keyCol: String, weightCol: String,
                                    kPerStratum: Int, seed: String): DataFrame = {
    require(kPerStratum >= 1, s"kPerStratum must be >= 1 (got $kPerStratum)")
    val w = checkedWeight(keyCol, weightCol, "weightedSamplePerStratumExact")
    val wmax = df.groupBy(col(strataCol))
      .agg(max(w).as("__wmax"))
      .withColumnRenamed(strataCol, "__stratum_m")
    val byStratumPart = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol), col("__part"))
    val byStratum = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol))
    df.join(broadcast(wmax), col(strataCol) <=> col("__stratum_m"))
      .drop("__stratum_m")
      .withColumn("__raw", rawScore(col(keyCol), w, seed))
      .withColumn("sample_score", round(col("__raw") * col("__wmax"), 6))
      .withColumn("__part", spark_partition_id())
      .withColumn("__prk", row_number().over(
        byStratumPart.orderBy(col("__raw").asc, col(keyCol).asc)))
      .filter(col("__prk") <= kPerStratum)
      .withColumn("__rk", row_number().over(
        byStratum.orderBy(col("__raw").asc, col(keyCol).asc)))
      .filter(col("__rk") <= kPerStratum)
      .drop("__wmax", "__raw", "__part", "__prk", "__rk")
  }
}
