package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One-pass table profiling — the ANALYZE/data-quality report a pipeline
  * runs before trusting a new corpus drop: per column, row/null counts,
  * min/max, and a distinct-count estimate, computed in a SINGLE
  * aggregation job over one scan (every metric for every column is one
  * aggregate expression; map-side partial aggregation reduces each
  * partition to one row of sketches, the exchange carries just those).
  * The wide one-row result is then unpivoted to one row per column with
  * a stack projection — no second pass, no per-column jobs.
  *
  * Distinct counts are HLL++ (`approx_count_distinct`, fixed memory per
  * column at any scale); `exactDistinct = true` swaps in exact
  * `count_distinct` — the oracle-parity/test path, one shuffle-free
  * partial-agg per column but memory O(distinct values), so keep it off
  * at corpus scale. min/max are rendered as strings so heterogeneous
  * column types stack into one report column.
  */
object Profile {

  def tableProfile(df: DataFrame, cols: Seq[String],
                   exactDistinct: Boolean = false,
                   rsd: Double = 0.02): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    // min/max ride a SEPARATE grouping-free aggregate (minMaxWide below):
    // a STRING min/max in the aggregation buffer is not hash-aggregable,
    // and with the multi-distinct Expand rewrite in the same Aggregate it
    // demoted the whole profile to chained SortAggregates over the
    // Expand-multiplied rows — measured 2.2 s + 1.5 s of the 3.9 s
    // table_profile wall at sf0.1 (round-18 job attribution). Split, the
    // distinct path hash-aggregates and the min/max fold is a sortless
    // single pass; the crossJoin glues two 1-row frames.
    val wide =
      if (exactDistinct)
        df.agg(count(lit(1)).as("__n"),
            cols.flatMap { c => Seq(
              count(col(c)).as(s"__nn_$c"),
              count_distinct(col(c)).as(s"__nd_$c"))
            }: _*)
          .crossJoin(broadcast(foldWide(df, cols, Seq.empty)))
      else
        // no distinct aggregate at all → no Expand rewrite: one
        // single-group fold computes counts, HLL sketches, and min/max
        // in ONE pass (the 100 TB profiler path — the sketch replaces
        // the exact distinct precisely so the profile is one linear scan)
        foldWide(df, cols,
          count(lit(1)).as("__n") +:
            cols.flatMap { c => Seq(
              count(col(c)).as(s"__nn_$c"),
              approx_count_distinct(col(c), rsd).as(s"__nd_$c"))
            })
    // stack(k, name1, nn1, nd1, mn1, mx1, ...) -> one row per column
    val stackArgs = cols.flatMap { c =>
      Seq(lit(c), col(s"__nn_$c"), col(s"__nd_$c"), col(s"__mn_$c"), col(s"__mx_$c"))
    }
    wide.select(col("__n"),
        stack((lit(cols.size) +: stackArgs): _*)
          .as(Seq("column", "n_non_null", "n_distinct", "min_value", "max_value")))
      .select(col("column"), col("__n").as("n_rows"),
        (col("__n") - col("n_non_null")).as("n_null"),
        col("n_distinct"), col("min_value"), col("max_value"))
  }

  /** [[tableProfile]] with the HLL++ estimates bound-checked IN the plan
    * against the exact distinct counts — the test-time anchor for the
    * sketch path (the 100 TB profiler keeps only the sketch): adds
    * `distinct_within_rsd` = |est − exact| ≤ 4·rsd·exact (HLL++'s rsd
    * is a standard deviation; 4σ makes the bit deterministic in
    * practice while still catching a broken sketch loudly). Exact and
    * sketch aggregates ride the SAME single aggregation job — the
    * anchored profile still scans the table once.
    */
  /** A 1-row grouping-free fold over `df`: `extra` aggregates (counts,
    * HLL sketches) plus the string-rendered min/max of every profiled
    * column. No grouping keys means no Sort is required under the
    * SortAggregate it plans to (string min/max buffers are not
    * hash-aggregable), so this is a single sortless pass — kept OUT of
    * any multi-distinct Expand aggregate, which it would otherwise
    * demote to sorted execution over the Expand-multiplied rows AND
    * give every expanded group its own HLL register buffer (measured:
    * the combined form cost table_profile 2.2 s + 1.5 s of its 3.9 s
    * wall at sf0.1; split, the distinct path hash-aggregates long
    * buffers only).
    */
  private def foldWide(df: DataFrame, cols: Seq[String],
                       extra: Seq[Column]): DataFrame = {
    val all = extra ++ cols.flatMap { c =>
      Seq(min(col(c)).cast("string").as(s"__mn_$c"),
        max(col(c)).cast("string").as(s"__mx_$c"))
    }
    df.agg(all.head, all.tail: _*)
  }

  def tableProfileChecked(df: DataFrame, cols: Seq[String],
                          rsd: Double = 0.02): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    // exact counts ride the Expand rewrite with long-only buffers; the
    // HLL sketches and string min/max ride the 1-row fold (foldWide doc:
    // an HLL inside the Expand aggregate allocates registers PER
    // EXPANDED GROUP — gigabytes at 10⁵ distinct values; the fold holds
    // exactly |cols| register sets)
    val aggs: Seq[Column] = cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"__nn_$c"),
        count_distinct(col(c)).as(s"__nd_$c"))
    }
    val wide = df.agg(count(lit(1)).as("__n"), aggs: _*)
      .crossJoin(broadcast(foldWide(df, cols,
        cols.map(c => approx_count_distinct(col(c), rsd).as(s"__ad_$c")))))
    val stackArgs = cols.flatMap { c =>
      Seq(lit(c), col(s"__nn_$c"), col(s"__nd_$c"), col(s"__ad_$c"),
        col(s"__mn_$c"), col(s"__mx_$c"))
    }
    wide.select(col("__n"),
        stack((lit(cols.size) +: stackArgs): _*)
          .as(Seq("column", "n_non_null", "n_distinct", "__est",
            "min_value", "max_value")))
      .select(col("column"), col("__n").as("n_rows"),
        (col("__n") - col("n_non_null")).as("n_null"),
        col("n_distinct"), col("min_value"), col("max_value"),
        (abs(col("__est") - col("n_distinct")) <=
          lit(4.0) * lit(rsd) * col("n_distinct")).as("distinct_within_rsd"))
  }

  /** Population Stability Index between a REFERENCE and a CURRENT
    * distribution of `valueCol` — the drift monitor a training pipeline
    * runs when a new corpus drop or feature snapshot arrives (PSI < 0.1
    * stable, 0.1-0.25 moderate, > 0.25 shifted, by the usual credit-
    * scoring convention).
    *
    * Bins are `nBins` fixed-width intervals over the reference's
    * [min, max] (two driver literals from one agg); out-of-range current
    * values CLAMP to the edge bins, so drift beyond the reference range
    * lands in a boundary bin loudly instead of being dropped. Shares are
    * Laplace-smoothed — (n_i + 1) / (N + nBins) — which keeps empty bins
    * finite and the whole formula exactly reproducible relationally
    * (no epsilon tuning). PSI = Σ (q_i − p_i) · ln(q_i / p_i).
    *
    * Returns one row per bin: `(bin, ref_n, cur_n, ref_share, cur_share,
    * contribution)`; total PSI = sum(contribution), left per-bin so the
    * evidence of WHERE the distribution moved stays visible.
    *
    * Scale: one min/max agg + one count-by-bin agg per side — three
    * scans total, each reading only `valueCol`; the bin join is over
    * `nBins` rows. Binning is a map-side closed-form expression (no
    * quantile sketch), so the same doubles round-trip on any engine.
    */
  def populationStabilityIndex(ref: DataFrame, cur: DataFrame,
                               valueCol: String, nBins: Int): DataFrame = {
    require(nBins >= 2, s"nBins must be >= 2, got $nBins")
    val mm = ref.agg(min(col(valueCol)).cast("double"),
      max(col(valueCol)).cast("double")).head()
    require(!mm.isNullAt(0), "reference has no non-null values")
    val lo = mm.getDouble(0)
    val hi = mm.getDouble(1)
    val width = if (hi > lo) (hi - lo) / nBins else 1.0
    def binCounts(df: DataFrame): DataFrame = df
      .filter(col(valueCol).isNotNull)
      .select(least(greatest(
          floor((col(valueCol).cast("double") - lit(lo)) / lit(width)),
          lit(0L)), lit(nBins - 1L)).cast("long").as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("n"))
    val spark = ref.sparkSession
    import spark.implicits._
    val bins = spark.range(nBins).select($"id".cast("long").as("bin"))
    val joined = bins
      .join(binCounts(ref).withColumnRenamed("n", "ref_n"), Seq("bin"), "left")
      .join(binCounts(cur).withColumnRenamed("n", "cur_n"), Seq("bin"), "left")
      .select(col("bin"),
        coalesce(col("ref_n"), lit(0L)).as("ref_n"),
        coalesce(col("cur_n"), lit(0L)).as("cur_n"))
      .localCheckpoint()
    val totals = joined.agg(sum(col("ref_n")), sum(col("cur_n"))).head()
    val refTot = totals.getLong(0).toDouble + nBins
    val curTot = totals.getLong(1).toDouble + nBins
    joined.select(col("bin"), col("ref_n"), col("cur_n"),
        ((col("ref_n") + lit(1L)).cast("double") / lit(refTot)).as("ref_share"),
        ((col("cur_n") + lit(1L)).cast("double") / lit(curTot)).as("cur_share"))
      .withColumn("contribution",
        (col("cur_share") - col("ref_share")) * log(col("cur_share") / col("ref_share")))
  }

  /** Activity-anomaly panel over an event stream (the ops monitor a
    * pipeline runs on its own ingest volume): events bucket into fixed
    * time windows per group, and each bucket's count is z-scored
    * against that group's OWN bucket-count distribution; |z| above the
    * threshold flags the bucket (outage, replay storm, bot burst).
    *
    * Exactness contract: counts are integers, so μ and σ² derive from
    * the integer sums `(n, Σx, Σx²)` with a pinned parenthesization —
    * `σ² = (n·Σx² − (Σx)²) / (n·(n−1))` — meaning both engines perform
    * the SAME double operations on exact integer inputs; z is reported
    * rounded to 6 and the verdict compares the raw z (identical doubles
    * cross-engine) to the threshold. Degenerate groups (n < 2 or zero
    * variance) emit null z / false verdict. Integer-sum bound: Σx² must
    * stay under 2⁶³ — at per-bucket counts ≥ ~10⁹ use wider buckets or
    * the streaming HLL panel.
    *
    * Scale: one (group, bucket) count agg over the events (map-side
    * combined); moments aggregate over BUCKET rows, not events; the
    * |groups|-row moments table broadcasts back onto the bucket rows.
    * Timestamps are raw nanos with exact floor division (the
    * [[Funnel.cohortRetention]] Long-arithmetic rule).
    */
  def activityAnomalies(events: DataFrame, groupCol: String, tsNanosCol: String,
                        bucketNs: Long, zThreshold: Double = 2.0): DataFrame =
    anomaliesFromCounts(
      bucketCounts(events, groupCol, tsNanosCol, bucketNs), groupCol, zThreshold)

  /** The `(group, bucket, n_events)` relation [[activityAnomalies]]
    * scores — exposed separately because bucket counts are ASSOCIATIVE
    * state: a streaming ingest folds each micro-batch's counts into a
    * materialized rollup ([[Rollup.maintain]] keyed (group, bucket))
    * and scores the folded state with [[anomaliesFromCounts]], landing
    * on bit-for-bit the batch answer without ever re-scanning history
    * (spec'd + the shared-oracle query `anomaly_monitor_incremental`).
    */
  def bucketCounts(events: DataFrame, groupCol: String, tsNanosCol: String,
                   bucketNs: Long): DataFrame =
    events
      .select(col(groupCol), bucketOf(tsNanosCol, bucketNs).as("bucket"))
      .groupBy(col(groupCol), col("bucket"))
      .agg(count(lit(1)).cast("long").as("n_events"))

  /** Exact floor-division time bucket of a raw-nanos column (the
    * [[Funnel.cohortRetention]] Long-arithmetic rule).
    */
  def bucketOf(tsNanosCol: String, bucketNs: Long): Column = {
    require(bucketNs > 0, s"bucketNs must be positive, got $bucketNs")
    val q = expr(s"`$tsNanosCol` div ${bucketNs}L")
    val r = expr(s"`$tsNanosCol` % ${bucketNs}L")
    when(r < 0, q - 1).otherwise(q)
  }

  /** The z-score panel over an existing `(group, bucket, n_events)`
    * relation (see [[activityAnomalies]] for the exactness contract).
    *
    * Buckets are DENSIFIED per group over its observed [min, max]
    * bucket range before scoring: a full-outage bucket (zero events)
    * is absent from the counts relation, and without densification it
    * would be excluded from the moments and could never be flagged —
    * the opposite of what an outage monitor is for. Densification is
    * bounded: each group contributes at most `maxBucketsPerGroup`
    * synthetic rows (loud `raise_error` beyond that — widen bucketNs),
    * and the range generator runs per |groups|-row, not per event.
    *
    * NULL-bucket rows (a null timestamp has no position on the time
    * axis) are EXCLUDED from the panel and the moments — they cannot be
    * densified into a range and a z-score for "no time" is meaningless.
    * Callers needing a null-volume check should count them separately.
    */
  def anomaliesFromCounts(counts0: DataFrame, groupCol: String,
                          zThreshold: Double = 2.0,
                          maxBucketsPerGroup: Long = 2000000L): DataFrame = {
    require(zThreshold > 0, s"zThreshold must be positive, got $zThreshold")
    val counts = counts0.filter(col("bucket").isNotNull)
    val span = col("__hi") - col("__lo") + lit(1L)
    // the guard is woven INTO the sequence bound (not a dropped side
    // column Catalyst would prune away unevaluated): a span past the
    // cap raises before any array materializes
    val guardedLo = when(span > lit(maxBucketsPerGroup), raise_error(concat(
        lit("anomaliesFromCounts: bucket span "), span.cast("string"),
        lit(s" exceeds maxBucketsPerGroup=$maxBucketsPerGroup — widen bucketNs"))))
      .otherwise(col("__lo"))
    val dense = counts.groupBy(col(groupCol))
      .agg(min(col("bucket")).as("__lo"), max(col("bucket")).as("__hi"))
      .select(col(groupCol),
        explode(sequence(guardedLo, col("__hi"))).as("bucket"))
    val densified = dense
      .join(counts, Seq(groupCol, "bucket"), "left")
      .select(col(groupCol), col("bucket"),
        coalesce(col("n_events"), lit(0L)).as("n_events"))
    val moments = densified.groupBy(col(groupCol))
      .agg(count(lit(1)).cast("long").as("__n"),
        sum(col("n_events")).as("__s1"),
        sum(col("n_events") * col("n_events")).as("__s2"))
    val varNum = col("__n") * col("__s2") - col("__s1") * col("__s1")
    val z = (col("n_events") - col("__s1").cast("double") / col("__n")) /
      sqrt(varNum.cast("double") / (col("__n") * (col("__n") - 1)))
    densified.join(broadcast(moments), Seq(groupCol))
      .withColumn("__z", when(col("__n") > 1 && varNum > 0, z))
      .select(col(groupCol), col("bucket"), col("n_events"),
        // mean = s1/n is a ratio of exact integers — tie-capable at a
        // round(double, 6) boundary, so it leaves as Tables.micros
        // (bit-identical floor pin); z passes through a sqrt, so its
        // boundary measure is zero and round(6) is cross-engine safe
        graft.Tables.micros(col("__s1").cast("double") / col("__n"))
          .as("mean_events_micros"),
        round(col("__z"), 6).as("z"),
        coalesce(abs(col("__z")) > lit(zThreshold), lit(false)).as("is_anomaly"))
  }

  /** Order-invariant MULTISET fingerprint of a dataset — the corpus
    * equality assertion a 100 TB reproducibility check needs: two
    * pipeline runs (or a migration's before/after, or a replica pair)
    * compare one tiny row each instead of sorting and diffing
    * petabytes. One scan, one map-side-combined aggregation, no sort,
    * no shuffle beyond the single-row combine; any row order, any
    * partitioning, any file layout produces the identical fingerprint.
    *
    * Per row: the selected columns canonicalize to one string
    * (`\u0001` field separator; NULL ≠ empty via a `\u0002` sentinel — NUL itself truncates varchars in some engines;
    * field VALUES are escaped so the frame characters cannot be
    * forged by data — see [[escapeFingerprintField]])
    * and hash through the repo's md5-portable 60-bit bridge — md5 is
    * md5 in every engine, so an external system can recompute the
    * fingerprint from the same rows. Two one-row aggregates:
    *
    *   - `xor_fingerprint` = bit_xor of the row hashes — order- and
    *     layout-invariant, but an EVEN number of copies of a row
    *     cancels out;
    *   - `sum_fingerprint` = Σ hashes mod 2⁶¹−1 (Mersenne prime;
    *     summed in DECIMAL(38,0) so no width overflows before the
    *     mod) — counts multiplicity, closing exactly the duplicate
    *     blindness xor has.
    *
    * Together with `n_rows` they form a multiset fingerprint: equal
    * triples ⇔ equal multisets up to md5-collision odds (~2⁻⁶⁰ per
    * pair). Columns must stringify portably for CROSS-ENGINE replay —
    * integers, strings, booleans, dates do; raw doubles differ in
    * rendering across engines, so pin them to integer micros/cents
    * first (the repo-wide money/ratio convention already does).
    */
  def datasetFingerprint(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "datasetFingerprint needs at least one column")
    df.select(rowFingerprintHash(cols).as("__h"))
      .agg(
        count(lit(1)).as("n_rows"),
        expr("bit_xor(__h)").as("xor_fingerprint"),
        expr("CAST(CAST(sum(CAST(__h AS DECIMAL(38,0))) % " +
          "2305843009213693951 AS DECIMAL(19,0)) AS BIGINT)")
          .as("sum_fingerprint"))
  }

  /** The per-row 60-bit hash [[datasetFingerprint]] folds -- exposed so
    * grouped/segmented fingerprints share the exact row bridge.
    */
  private def rowFingerprintHash(cols: Seq[String]): Column = {
    val canon = concat_ws("\u0001",
      cols.map(c =>
        coalesce(escapeFingerprintField(col(c).cast("string")),
          lit("\u0002"))): _*)
    conv(substring(md5(canon.cast("binary")), 1, 15), 16, 10).cast("long")
  }

  /** Injective field canonicalization: a raw `concat_ws` is not — a
    * value containing the `\u0001` separator (rows `('a\u0001b','c')`
    * vs `('a','b\u0001c')`) or a literal `\u0002` string vs NULL would
    * make DISTINCT multisets fingerprint identically with probability
    * 1, not 2⁻⁶⁰. Escape the frame characters inside values
    * (`\u0003`→`\u0003\u0005`, `\u0001`→`\u0003\u0006`,
    * `\u0002`→`\u0003\u0007` — the escape char doubled FIRST, so
    * decoding is a deterministic left-to-right parse and the encoding
    * is injective); after escaping no bare separator or sentinel can
    * appear inside a value, and the bare one-char sentinel stays
    * distinct from any escaped literal. Mirrored verbatim in the
    * DuckDB oracle (queries/Relational.scala fingerprint rows) so
    * cross-engine replay reproduces the same 60-bit hashes.
    */
  private[graft] def escapeFingerprintField(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, "\u0003", "\u0003\u0005"),
        "\u0001", "\u0003\u0006"),
      "\u0002", "\u0003\u0007")

  /** [[datasetFingerprint]] per group -- the INCREMENTAL form: both
    * folds are commutative and associative (xor; modular sum), so the
    * whole-table fingerprint is exactly the fold of any disjoint
    * cover's group fingerprints ([[foldFingerprints]]). A 100 TB store
    * therefore maintains one tiny fingerprint row per immutable
    * segment/shard and re-fingerprints only APPENDED segments --
    * O(new data) per maintenance, never a full-corpus rescan -- while
    * any auditor can still recompute the total from scratch and match.
    */
  def datasetFingerprintBy(df: DataFrame, groupCol: String,
                           cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "datasetFingerprintBy needs at least one column")
    df.select(col(groupCol), rowFingerprintHash(cols).as("__h"))
      .groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n_rows"),
        expr("bit_xor(__h)").as("xor_fingerprint"),
        expr("CAST(CAST(sum(CAST(__h AS DECIMAL(38,0))) % " +
          "2305843009213693951 AS DECIMAL(19,0)) AS BIGINT)")
          .as("sum_fingerprint"))
  }

  /** Fold a set of group fingerprints ([[datasetFingerprintBy]] rows)
    * into the whole-dataset fingerprint -- the identity that makes
    * fingerprint maintenance incremental. Pure integer arithmetic:
    * counts add, xors xor, modular sums add mod the same prime.
    */
  def foldFingerprints(parts: DataFrame): DataFrame =
    parts.agg(
      sum(col("n_rows")).as("n_rows"),
      expr("bit_xor(xor_fingerprint)").as("xor_fingerprint"),
      expr("CAST(CAST(sum(CAST(sum_fingerprint AS DECIMAL(38,0))) % " +
        "2305843009213693951 AS DECIMAL(19,0)) AS BIGINT)")
        .as("sum_fingerprint"))

  /** Multiset DIFF of two datasets over the same columns — the
    * drill-down a fingerprint mismatch calls for: WHICH rows differ,
    * and by how many copies. Rows reduce to (canonical row string,
    * count) per side and full-outer-join on the row identity; output
    * one row per divergent row value: `(row_repr, n_left, n_right)`
    * with the canonical `\u0001`-separated representation kept
    * readable for triage. Equal multisets produce ZERO rows — the
    * assertion form. Counts compare exactly, so even-copy differences
    * that a bit_xor fingerprint alone cannot see are reported.
    *
    * Scale shape: two map-side-combined count aggregations keyed on
    * the row hash + one hash join on that key; the join carries one
    * row per DISTINCT row value, never per row. A near-equal pair of
    * 100 TB corpora reduces to two count maps whose join output is the
    * (small) divergence set.
    */
  def datasetDiff(left: DataFrame, right: DataFrame,
                  cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "datasetDiff needs at least one column")
    def counted(df: DataFrame): DataFrame = {
      val canon = concat_ws("\u0001",
        cols.map(c =>
          coalesce(escapeFingerprintField(col(c).cast("string")),
            lit("\u0002"))): _*)
      df.select(canon.as("row_repr"))
        .groupBy(col("row_repr")).agg(count(lit(1)).as("n"))
    }
    counted(left).withColumnRenamed("n", "n_left")
      .join(counted(right).withColumnRenamed("n", "n_right"),
        Seq("row_repr"), "full_outer")
      .select(col("row_repr"),
        coalesce(col("n_left"), lit(0L)).as("n_left"),
        coalesce(col("n_right"), lit(0L)).as("n_right"))
      .filter(col("n_left") =!= col("n_right"))
  }

  // ---- fingerprint sidecar (corpus checksum through the store seams) ----

  def fingerprintSidecarMarkerPath(table: String): String =
    s"$table/_fingerprint_sidecar"

  /** Build the fingerprint sidecar for a [[VersionedStore]] table
    * ([[SidecarRegistry.FingerprintSidecar]]), with the simplest possible
    * merge algebra: one fingerprint row PER SEGMENT
    * (`$path/parts`: segment, n_rows, xor_fingerprint,
    * sum_fingerprint), total = [[foldFingerprints]] over the parts
    * (exact by the fold identity -- xor and the modular sum are
    * commutative/associative over any disjoint cover). The append seam
    * therefore fingerprints ONLY new segments (O(batch)); the
    * corpus-equality checksum is always one tiny parts read away,
    * never a corpus rescan. `_stats`: `"v1 <cols,joined> v<version>"`
    * under the registry's stamp discipline; merges/deletes rewrite
    * segments a per-segment ledger cannot un-count, so non-pure-append
    * histories refuse the fold and the registry reconciles
    * ([[reconcileFingerprintSidecar]]).
    */
  def buildFingerprintSidecarForStore(spark: SparkSession, table: String,
                                      cols: Seq[String],
                                      path: String): Unit = {
    require(cols.nonEmpty, "fingerprint sidecar needs at least one column")
    val v0 = VersionedStore.currentState(spark, table).map(_.version).getOrElse(0L)
    val st = VersionedStore.currentState(spark, table).getOrElse(
      throw new IllegalStateException(s"no committed state at $table"))
    graft.Fs.delete(spark, s"$path/_stats")
    segmentParts(spark, table, st.segments, cols)
      .write.mode("overwrite").parquet(s"$path/parts")
    val v1 = VersionedStore.currentState(spark, table).map(_.version).getOrElse(0L)
    require(v1 == v0,
      s"store $table moved from version $v0 to $v1 during the fingerprint build; rebuild")
    graft.Fs.writeString(spark, s"$path/_stats",
      s"v1 ${cols.mkString(",")} v$v0")
  }

  /** Per-segment fingerprint rows in ONE scan. A union of n
    * per-segment plans would make the Catalyst plan O(n segments) — a
    * 100 TB store with thousands of segments would blow up the
    * analyzer/driver before the first task ran. Instead all segment
    * paths feed a single multi-root parquet scan, the segment is
    * recovered from each file's path (segments are immutable
    * directories directly under the table root — partition
    * subdirectories inside a segment stay below it), and one grouped
    * aggregation emits every segment's fingerprint. Attribution is
    * guarded: a file whose path does not parse back to a requested
    * segment raises rather than silently ledgering under a wrong key.
    */
  private def segmentParts(spark: SparkSession, table: String,
                           segments: Seq[String],
                           cols: Seq[String]): DataFrame =
    datasetFingerprintBy(
        readWithSegment(spark, table, segments, "__segment"),
        "__segment", cols)
      .select(col("__segment").as("segment"), col("n_rows"),
        col("xor_fingerprint"), col("sum_fingerprint"))

  /** Multi-root read of the given segments with a guarded segment
    * column recovered from each file's path — the one-pass shape every
    * per-segment sidecar build shares (a union of n per-segment plans
    * is O(n segments) in the Catalyst analyzer). A file whose path does
    * not parse back to a requested segment raises rather than silently
    * attributing rows to a wrong ledger key.
    */
  private[ops] def readWithSegment(spark: SparkSession, table: String,
                                   segments: Seq[String],
                                   segCol: String): DataFrame = {
    val tp = new org.apache.hadoop.fs.Path(table)
    val abs = tp.getFileSystem(spark.sessionState.newHadoopConf())
      .makeQualified(tp).toUri.getPath
    val segOf = regexp_extract(input_file_name(),
      java.util.regex.Pattern.quote(abs) + "/([^/]+)/", 1)
    val segGuarded = when(segOf.isin(segments: _*), segOf)
      .otherwise(expr("raise_error(concat('readWithSegment: file outside " +
        "the requested segments: ', input_file_name()))"))
    spark.read.parquet(segments.map(s => s"$table/$s"): _*)
      .withColumn(segCol, segGuarded)
  }

  /** Fingerprint the store's NEW segments into the sidecar ledger --
    * O(appended rows), one parts append. The bloom-sidecar discipline
    * verbatim: damaged stats, column-set mismatches and
    * non-pure-append histories refuse as IllegalArgumentException
    * (the registry's rebuild trigger), stamp retired before the write.
    */
  def appendToFingerprintSidecar(spark: SparkSession, table: String,
                                 cols: Seq[String], path: String): Unit = {
    val stats = graft.Fs.readString(spark, s"$path/_stats").trim.split(" ")
    require(stats.length >= 3 && stats(0) == "v1" && stats(2).startsWith("v"),
      s"fingerprint sidecar at $path has a damaged/unstamped _stats; " +
        "rebuild with buildFingerprintSidecarForStore")
    require(stats(1) == cols.mkString(","),
      s"fingerprint sidecar at $path ledgers columns ${stats(1)}, this " +
        s"maintenance asks ${cols.mkString(",")}; rebuild")
    VersionedStore.appendedSince(spark, table, stats(2).drop(1).toLong,
      "fingerprint sidecar", "a per-segment ledger cannot un-count rewritten " +
        "rows; rebuild with buildFingerprintSidecarForStore").foreach {
      case (version, newSegs) =>
        graft.Fs.delete(spark, s"$path/_stats")
        if (newSegs.nonEmpty)
          segmentParts(spark, table, newSegs, cols)
            .write.mode("append").parquet(s"$path/parts")
        graft.Fs.writeString(spark, s"$path/_stats",
          s"v1 ${cols.mkString(",")} v$version")
    }
  }

  /** Reconcile the ledger against the CURRENT segment set at
    * O(changed segments + parts) — the merge/delete repair path (the
    * pure-append fold above stays the cheapest path for appends):
    * scan ONLY current segments the ledger has never fingerprinted,
    * drop rows for segments no longer live, keep everything else
    * untouched. A merge that rewrites one segment of a 100 TB store
    * therefore re-reads ONE segment where the previous behavior fell
    * through to a full-corpus rebuild. Retired-name rows (left behind
    * by the compact seam's O(1) restamp — harmless for totals, since
    * any disjoint cover folds identically) are dropped here, and the
    * segments that cover their rows rescanned, so the ledger returns
    * to segment-accurate. Damaged stats / config mismatches still
    * refuse to the registry's rebuild.
    */
  def reconcileFingerprintSidecar(spark: SparkSession, table: String,
                                  cols: Seq[String], path: String): Unit = {
    val stats = graft.Fs.readString(spark, s"$path/_stats").trim.split(" ")
    require(stats.length >= 3 && stats(0) == "v1" && stats(2).startsWith("v"),
      s"fingerprint sidecar at $path has a damaged/unstamped _stats; " +
        "rebuild with buildFingerprintSidecarForStore")
    require(stats(1) == cols.mkString(","),
      s"fingerprint sidecar at $path ledgers columns ${stats(1)}, this " +
        s"maintenance asks ${cols.mkString(",")}; rebuild")
    val cur = VersionedStore.currentState(spark, table).getOrElse(
      throw new IllegalStateException(s"$table has no committed state"))
    if (stats(2) == s"v${cur.version}") return
    reconcileSegmentLedger(spark, table, path,
      segs => segmentParts(spark, table, segs, cols), cur.segments)
    val v1 = VersionedStore.currentState(spark, table).map(_.version).getOrElse(0L)
    require(v1 == cur.version,
      s"store $table moved from version ${cur.version} to $v1 during the " +
        "fingerprint reconcile; rebuild")
    graft.Fs.writeString(spark, s"$path/_stats",
      s"v1 ${cols.mkString(",")} v${cur.version}")
  }

  /** The shared segment-ledger reconcile: given the builder for new
    * segments' rows and the current segment list, drop rows of retired
    * segments and append rows for unledgered ones via a
    * stage-and-swap. Used by every per-segment ledger sidecar
    * (fingerprint / weighted-sample / histogram). The caller retires
    * the stamp before and re-stamps after.
    */
  private[ops] def reconcileSegmentLedger(spark: SparkSession, table: String,
                                          path: String,
                                          buildFor: Seq[String] => DataFrame,
                                          curSegments: Seq[String]): Unit = {
    val partsPath = s"$path/parts"
    val parts = spark.read.parquet(partsPath)
    val ledgered = parts.select(col("segment")).distinct()
      .collect().map(_.getString(0)).toSet
    val curSet = curSegments.toSet
    val toAdd = curSegments.filterNot(ledgered)
    val toDrop = ledgered.diff(curSet)
    graft.Fs.delete(spark, s"$path/_stats")
    if (toDrop.isEmpty && toAdd.nonEmpty)
      // pure growth: a plain parts append, no rewrite
      buildFor(toAdd).write.mode("append").parquet(partsPath)
    else if (toDrop.nonEmpty) {
      // stage-and-swap: materialize (kept ∪ new) BEFORE touching the
      // live parts (the staged write reads them), then swap
      val keep = parts.filter(col("segment").isin(curSegments: _*))
      val next = if (toAdd.isEmpty) keep
        else keep.unionByName(buildFor(toAdd))
      val tmp = s"$path/parts.next-" +
        java.util.UUID.randomUUID().toString.take(8)
      next.write.mode("overwrite").parquet(tmp)
      graft.Fs.delete(spark, partsPath)
      graft.Fs.rename(spark, tmp, partsPath)
    }
  }

  /** The maintained whole-store fingerprint: one tiny parts read + the
    * exact fold -- refuses a stale ledger loudly (a stale checksum
    * silently vouches for rows it never saw). Output matches
    * [[datasetFingerprint]] row for row.
    */
  def storeFingerprint(spark: SparkSession, table: String,
                       path: String): DataFrame = {
    val stats = graft.Fs.readString(spark, s"$path/_stats").trim.split(" ")
    require(stats.length >= 3 && stats(0) == "v1",
      s"fingerprint sidecar at $path has a damaged _stats; rebuild")
    val cur = VersionedStore.currentState(spark, table).map(_.version).getOrElse(0L)
    require(stats(2) == s"v$cur",
      s"fingerprint sidecar at $path (${stats(2)}) is stale against $table " +
        s"(v$cur) -- run appendToFingerprintSidecar first")
    foldFingerprints(spark.read.parquet(s"$path/parts"))
  }

  /** The maintained fingerprint of a HISTORICAL version — time-travel
    * checksums at O(parts read), no data rescan: a pure-append
    * history means version v's corpus is exactly a PREFIX of the
    * segment ledger, so folding v's segments' rows reproduces the
    * checksum that version would have published. Refuses loudly when
    * v's segments are not all ledgered (a rewritten history) or the
    * ledger is stale against the CURRENT version (its rows may lag).
    * Audits "which snapshot did run X train on?" without reading the
    * snapshot.
    */
  def storeFingerprintAt(spark: SparkSession, table: String,
                         path: String, version: Long): DataFrame = {
    val stats = graft.Fs.readString(spark, s"$path/_stats").trim.split(" ")
    require(stats.length >= 3 && stats(0) == "v1",
      s"fingerprint sidecar at $path has a damaged _stats; rebuild")
    val cur = VersionedStore.currentState(spark, table).map(_.version).getOrElse(0L)
    require(stats(2) == s"v$cur",
      s"fingerprint sidecar at $path (${stats(2)}) is stale against $table " +
        s"(v$cur) -- run appendToFingerprintSidecar first")
    val at = VersionedStore.stateAt(spark, table, version).getOrElse(
      throw new IllegalArgumentException(
        s"$table has no readable manifest at v$version"))
    val parts = spark.read.parquet(s"$path/parts")
    val ledgered = parts.select(col("segment")).collect().map(_.getString(0)).toSet
    val missing = at.segments.filterNot(ledgered)
    require(missing.isEmpty,
      s"v$version of $table holds segments the ledger never fingerprinted " +
        s"(${missing.take(3).mkString(", ")}...) -- the history was rewritten; " +
        "rebuild with buildFingerprintSidecarForStore")
    foldFingerprints(parts.filter(col("segment").isin(at.segments: _*)))
  }

  def registerFingerprintSidecar(spark: SparkSession, table: String,
                                 cols: Seq[String], path: String): Unit =
    SidecarRegistry.register(spark, table, SidecarRegistry.FingerprintSidecar,
      SidecarRegistry.Registration(path, cols.head, cols.mkString(",")))
}
