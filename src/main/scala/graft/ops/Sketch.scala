package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.SimHash64

/** Distributed sketches whose every intermediate is ENGINE-PORTABLE —
  * the 100 TB profiling primitives (cardinality, dimensionality
  * reduction) built exclusively from the md5 hash family, so a SQL
  * oracle regenerates registers, projections, and estimates rather than
  * trusting seed-defined values.
  *
  * Extends the reference's aggregation surface (SURVEY.md §2.4: its
  * profiling is exact COUNT/GROUP BY over Oracle tables) with the
  * sketch tier a corpus-scale profiler needs: a 100 TB vocabulary
  * cannot be `count(DISTINCT token)`'d per slice interactively, but 256
  * HLL registers per slice merge associatively and answer it within
  * ~6.5%.
  */
object Sketch {

  /** HyperLogLog parameters: p = 8 ⇒ m = 256 registers; the standard
    * bias-corrected alpha. Registers derive from
    * [[SimHash64.hash64]] — top 8 bits select the register, the
    * remaining 56 carry the rank (leading-zero count + 1, so rho ∈
    * [1, 57]) — which is exactly what DuckDB replays from
    * `('0x'||substr(md5(t),1,16))::UBIGINT`.
    */
  val HllP = 8
  val HllM = 256
  val HllAlpha: Double = 0.7213 / (1.0 + 1.079 / HllM)

  /** `(register, rho)` — the max rank observed per register over the
    * DISTINCT hash stream of `valueCol`. One hash-aggregate shuffle of
    * ≤ m rows out; at 100 TB the map-side partial max collapses each
    * partition to ≤ m rows before the exchange, and register frames
    * from different slices/days MERGE by groupBy-max (the HLL merge
    * operator) without touching raw data again.
    */
  /** Register index of a value — the md5-u64's top `p` bits. */
  def registerCol(value: Column): Column =
    shiftrightunsigned(SimHash64.md5Prefix64(value), 64 - HllP).cast("int")

  /** Rank of a value — leading zeros of the low 56 bits + 1 ∈ [1, 57]. */
  def rhoCol(value: Column): Column = {
    val w = SimHash64.md5Prefix64(value).bitwiseAND(lit(0x00FFFFFFFFFFFFFFL))
    when(w === 0L, lit(57)).otherwise(lit(57) - length(bin(w))).cast("int")
  }

  def hllRegisters(df: DataFrame, valueCol: String): DataFrame =
    df.filter(col(valueCol).isNotNull)
      .select(registerCol(col(valueCol)).as("register"),
        rhoCol(col(valueCol)).as("__rho"))
      .groupBy(col("register"))
      .agg(max(col("__rho")).as("rho"))

  /** The HLL cardinality estimate from a register frame — raw
    * harmonic-mean estimate with the standard small-range linear
    * counting correction (E ≤ 2.5m with empty registers present).
    * One row out; everything is closed-form over ≤ m rows, and the
    * same arithmetic is one SQL expression for the oracle.
    */
  def hllEstimate(registers: DataFrame): DataFrame = {
    val m = lit(HllM.toDouble)
    registers
      .agg(count(lit(1)).as("__present"),
        sum(pow(lit(2.0), -col("rho"))).as("__s"))
      .select(
        (m - col("__present")).cast("long").as("__zeros"),
        (lit(HllAlpha) * m * m /
          (col("__s") + (m - col("__present")))).as("__raw"))
      .select(
        when(col("__raw") <= lit(2.5 * HllM) && col("__zeros") > 0,
          m * log(m / col("__zeros")))
          .otherwise(col("__raw")).as("hll_estimate"),
        col("__zeros"))
      // the estimate passes through a harmonic mean and ln (transcendental
      // chain): round(4) is safe — never an exact integer ratio
      .select(round(col("hll_estimate"), 4).as("hll_estimate"))
  }

  // ---- incremental HLL: the vocabulary-cardinality sidecar ----

  private def tokenRows(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(split(col(textCol), "\\s+")).as("t"))
      .filter(length(col("t")) > 0)

  def hllSidecarMarkerPath(table: String): String = s"$table/_hll_sidecar"

  /** Build the HLL register sidecar for a [[VersionedStore]] table
    * ([[SidecarRegistry.HllSidecar]]), the kind that shows why the
    * registry's merge algebra matters: registers max-merge, so the
    * append seam folds a batch's registers in at O(batch) and the
    * corpus-wide vocabulary cardinality is always one 256-row read away
    * — never a corpus rescan. `_stats`: `"<p> v<version>"` under the
    * registry's stamp discipline. Merges/deletes can't "un-max" a
    * register, so those seams correctly fall through to the LOUD
    * rebuild; compaction restamps O(1) (rows preserved ⇒ registers
    * identical).
    */
  def buildHllSidecarForStore(spark: org.apache.spark.sql.SparkSession,
                              table: String, idCol: String, textCol: String,
                              path: String): Unit = {
    val v0 = VersionedStore.currentState(spark, table).map(_.version).getOrElse(0L)
    val docs = VersionedStore.read(spark, table).getOrElse(
      throw new IllegalStateException(s"no rows to sketch at $table"))
    graft.Fs.delete(spark, s"$path/_stats")
    hllRegisters(tokenRows(docs, textCol), "t")
      .write.mode("overwrite").parquet(s"$path/registers")
    val v1 = VersionedStore.currentState(spark, table).map(_.version).getOrElse(0L)
    require(v1 == v0,
      s"store $table moved from version $v0 to $v1 during the sidecar build; rebuild")
    graft.Fs.writeString(spark, s"$path/_stats", s"$HllP v$v0")
  }

  /** Fold the store's NEW segments into the register sidecar —
    * max-merge of the batch's registers with the existing 256 (the HLL
    * merge operator), O(appended docs) + a bounded 256-row read-back.
    * The [[Dedup.appendToMinhashSidecar]] discipline verbatim:
    * damaged stats and non-pure-append histories refuse as
    * IllegalArgumentException (the registry's rebuild trigger), stamp
    * retired before the write.
    */
  def appendToHllSidecar(spark: org.apache.spark.sql.SparkSession,
                         table: String, idCol: String, textCol: String,
                         path: String): Unit = {
    val stats = graft.Fs.readString(spark, s"$path/_stats").trim.split(" ")
    require(stats.length >= 2 && stats(1).startsWith("v"),
      s"HLL sidecar at $path has a damaged/unstamped _stats; rebuild with buildHllSidecarForStore")
    require(stats(0).toInt == HllP,
      s"HLL sidecar at $path was built at p=${stats(0)}, engine expects p=$HllP; rebuild")
    VersionedStore.appendedSince(spark, table, stats(1).drop(1).toLong, "HLL sidecar",
      "max-merged registers cannot subtract rewritten rows; rebuild with " +
        "buildHllSidecarForStore").foreach { case (version, newSegs) =>
      graft.Fs.delete(spark, s"$path/_stats")
      if (newSegs.nonEmpty) {
        // the existing frame is ≤ m rows — collect it so the overwrite
        // never reads the path it writes
        val spark2 = spark
        import spark2.implicits._
        val existing = spark.read.parquet(s"$path/registers")
          .select(col("register").cast("int"), col("rho").cast("int"))
          .as[(Int, Int)].collect().toSeq.toDF("register", "rho")
        hllRegisters(tokenRows(VersionedStore.readSegments(spark, table, newSegs), textCol), "t")
          .unionByName(existing)
          .groupBy(col("register")).agg(max(col("rho")).as("rho"))
          .write.mode("overwrite").parquet(s"$path/registers")
      }
      graft.Fs.writeString(spark, s"$path/_stats", s"$HllP v$version")
    }
  }

  def registerHllSidecar(spark: org.apache.spark.sql.SparkSession,
                         table: String, idCol: String, textCol: String,
                         path: String): Unit =
    SidecarRegistry.register(spark, table, SidecarRegistry.HllSidecar,
      SidecarRegistry.Registration(path, idCol, textCol))

  /** The corpus vocabulary-cardinality estimate from the maintained
    * sidecar — refuses a stale sidecar loudly (stamp ≠ store version),
    * exactly like [[Dedup.nearDupAgainstStore]]: a stale cardinality
    * silently under-reports freshly appended vocabulary.
    */
  def estimateFromSidecar(spark: org.apache.spark.sql.SparkSession,
                          table: String, path: String): DataFrame = {
    val stats = graft.Fs.readString(spark, s"$path/_stats").trim.split(" ")
    require(stats.length >= 2,
      s"HLL sidecar at $path has a damaged _stats; rebuild with buildHllSidecarForStore")
    val cur = VersionedStore.currentState(spark, table).map(_.version).getOrElse(0L)
    require(stats(1) == s"v$cur",
      s"HLL sidecar at $path (${stats.lift(1).getOrElse("-")}) is stale against " +
        s"$table (v$cur) — run appendToHllSidecar first")
    hllEstimate(spark.read.parquet(s"$path/registers"))
  }

  // ---- incremental histogram: the length-distribution sidecar ----

  def histogramSidecarMarkerPath(table: String): String =
    s"$table/_hist_sidecar"

  /** Exact log2 bucketing via the binary-string length:
    * `bucket(x) = length(bin(x)) = floor(log2 x) + 1` for x ≥ 1 — an
    * INTEGER derivation both engines share bit for bit (a floating
    * `log2`'s last ulp at exact powers of two differs per libm build,
    * the same cross-engine axis the md5 bridge avoids). Bucket b
    * covers `[2^(b-1), 2^b)`; x < 1 and NULL land in bucket 0. Log
    * resolution is the right call for corpus length monitoring: the
    * question a 100 TB pipeline asks is "what magnitude are documents
    * now", feeding packing budgets and bucket plans — not the exact
    * 50th-percentile byte.
    */
  def log2Bucket(c: Column): Column =
    when(c.isNull || c < 1, lit(0))
      .otherwise(length(bin(c.cast("long")))).cast("int")

  /** One-pass exact histogram over the log2 buckets — map-side
    * combined, ≤ 64 result rows at any corpus size.
    */
  def log2Histogram(df: DataFrame, valueCol: String): DataFrame =
    df.groupBy(log2Bucket(col(valueCol)).as("bucket"))
      .agg(count(lit(1)).as("n"))

  /** Build the length-histogram sidecar for a [[VersionedStore]]
    * table ([[SidecarRegistry.HistogramSidecar]]), with the simplest
    * exact merge algebra of them all: per-segment bucket counts ADD,
    * so the folded corpus histogram (and every quantile read off it)
    * is exact, the append seam folds a batch in at O(batch), and the
    * ledger grows ≤ 64 rows per immutable segment. `_stats`:
    * `"v1 <valueCol> v<version>"`; merges/deletes rewrite segments a
    * count ledger cannot un-count — the fold refuses and the registry
    * reconciles ([[reconcileHistogramSidecar]]).
    */
  def buildHistogramSidecarForStore(spark: org.apache.spark.sql.SparkSession,
                                    table: String, valueCol: String,
                                    path: String): Unit = {
    val st = VersionedStore.currentState(spark, table).getOrElse(
      throw new IllegalStateException(s"no committed state at $table"))
    graft.Fs.delete(spark, s"$path/_stats")
    segmentHistograms(spark, table, st.segments, valueCol)
      .write.mode("overwrite").parquet(s"$path/parts")
    val v1 = VersionedStore.currentState(spark, table).map(_.version).getOrElse(0L)
    require(v1 == st.version,
      s"store $table moved from version ${st.version} to $v1 during the " +
        "histogram sidecar build; rebuild")
    graft.Fs.writeString(spark, s"$path/_stats", s"v1 $valueCol v${st.version}")
  }

  private def segmentHistograms(spark: org.apache.spark.sql.SparkSession,
                                table: String, segments: Seq[String],
                                valueCol: String): DataFrame =
    Profile.readWithSegment(spark, table, segments, "__segment")
      .groupBy(col("__segment").as("segment"),
        log2Bucket(col(valueCol)).as("bucket"))
      .agg(count(lit(1)).as("n"))

  /** Fold the store's NEW segments into the ledger — O(appended rows),
    * one parts append; the usual refusal discipline.
    */
  def appendToHistogramSidecar(spark: org.apache.spark.sql.SparkSession,
                               table: String, path: String): Unit = {
    val stats = graft.Fs.readString(spark, s"$path/_stats").trim.split(" ")
    require(stats.length >= 3 && stats(0) == "v1" && stats(2).startsWith("v"),
      s"histogram sidecar at $path has a damaged/unstamped _stats; rebuild " +
        "with buildHistogramSidecarForStore")
    val valueCol = stats(1)
    VersionedStore.appendedSince(spark, table, stats(2).drop(1).toLong,
      "histogram sidecar", "a count ledger cannot un-count rewritten rows; " +
        "rebuild with buildHistogramSidecarForStore").foreach { case (version, newSegs) =>
      graft.Fs.delete(spark, s"$path/_stats")
      if (newSegs.nonEmpty)
        segmentHistograms(spark, table, newSegs, valueCol)
          .write.mode("append").parquet(s"$path/parts")
      graft.Fs.writeString(spark, s"$path/_stats", s"v1 $valueCol v$version")
    }
  }

  /** The maintained corpus histogram: fold the ≤ 64-rows-per-segment
    * ledger by bucket — exact, never a corpus rescan; stale refuses.
    */
  def maintainedHistogram(spark: org.apache.spark.sql.SparkSession,
                          table: String, path: String): DataFrame = {
    val stats = graft.Fs.readString(spark, s"$path/_stats").trim.split(" ")
    require(stats.length >= 3 && stats(0) == "v1",
      s"histogram sidecar at $path has a damaged _stats; rebuild")
    val cur = VersionedStore.currentState(spark, table).map(_.version).getOrElse(0L)
    require(stats(2) == s"v$cur",
      s"histogram sidecar at $path (${stats(2)}) is stale against $table " +
        s"(v$cur) — run appendToHistogramSidecar first")
    spark.read.parquet(s"$path/parts")
      .groupBy(col("bucket")).agg(sum(col("n")).as("n"))
  }

  /** Quantile read off a (maintained or direct) log2 histogram: for
    * each requested permille q, the smallest bucket whose cumulative
    * count reaches `ceil(q·total/1000)` — pure integer rank logic, so
    * the answer is bit-identical on any engine. Output per q:
    * `(q_pm, bucket, lo, hi, n_at_or_below)` with `[lo, hi]` the
    * bucket's inclusive value range (`2^(b-1) … 2^b − 1` via integer
    * shifts, never a floating power).
    */
  def quantilesFromHistogram(hist: DataFrame,
                             permilles: Seq[Int]): DataFrame = {
    require(permilles.nonEmpty && permilles.forall(q => q >= 1 && q <= 1000),
      "permilles must be in [1, 1000]")
    val spark2 = hist.sparkSession
    import spark2.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("bucket"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    // the histogram is ≤ 64 rows — every step below is driver-light
    // and stays in-plan
    val cum = hist
      .withColumn("cum", sum(col("n")).over(w))
      .crossJoin(broadcast(hist.agg(sum(col("n")).as("__total"))))
    cum.crossJoin(broadcast(permilles.toDF("q_pm")))
      .filter(col("cum") * 1000 >= col("q_pm") * col("__total"))
      .groupBy(col("q_pm"))
      .agg(min(col("bucket")).as("bucket"))
      .join(cum.select(col("bucket"), col("cum")), Seq("bucket"))
      .select(col("q_pm"),
        col("bucket"),
        when(col("bucket") <= 0, lit(0L))
          .otherwise(expr("shiftleft(CAST(1 AS BIGINT), bucket - 1)")).as("lo"),
        when(col("bucket") <= 0, lit(0L))
          .otherwise(expr("shiftleft(CAST(1 AS BIGINT), bucket) - 1")).as("hi"),
        col("cum").as("n_at_or_below"))
  }

  /** The maintained histogram of a HISTORICAL version — time-travel
    * length distributions at O(parts read), no data rescan: a
    * pure-append history makes version v's corpus a prefix of the
    * segment ledger, so folding v's segments' bucket counts reproduces
    * the histogram that version would have published ("what magnitude
    * were documents in the snapshot run X trained on?"). Refuses
    * loudly when v's segments are not all ledgered (a rewritten
    * history) or the ledger is stale against the CURRENT version.
    */
  def maintainedHistogramAt(spark: org.apache.spark.sql.SparkSession,
                            table: String, path: String,
                            version: Long): DataFrame = {
    val stats = graft.Fs.readString(spark, s"$path/_stats").trim.split(" ")
    require(stats.length >= 3 && stats(0) == "v1",
      s"histogram sidecar at $path has a damaged _stats; rebuild")
    val cur = VersionedStore.currentState(spark, table).map(_.version).getOrElse(0L)
    require(stats(2) == s"v$cur",
      s"histogram sidecar at $path (${stats(2)}) is stale against $table " +
        s"(v$cur) — run appendToHistogramSidecar first")
    val at = VersionedStore.stateAt(spark, table, version).getOrElse(
      throw new IllegalArgumentException(
        s"$table has no readable manifest at v$version"))
    val parts = spark.read.parquet(s"$path/parts")
    val ledgered = parts.select(col("segment")).distinct()
      .collect().map(_.getString(0)).toSet
    val missing = at.segments.filterNot(ledgered)
    require(missing.isEmpty,
      s"v$version of $table holds segments the ledger never counted " +
        s"(${missing.take(3).mkString(", ")}...) — the history was " +
        "rewritten; rebuild with buildHistogramSidecarForStore")
    parts.filter(col("segment").isin(at.segments: _*))
      .groupBy(col("bucket")).agg(sum(col("n")).as("n"))
  }

  /** Reconcile the count ledger against the CURRENT segment set at
    * O(changed segments + parts) — the merge/delete repair path
    * ([[Profile.reconcileSegmentLedger]] discipline).
    */
  def reconcileHistogramSidecar(spark: org.apache.spark.sql.SparkSession,
                                table: String, path: String): Unit = {
    val stats = graft.Fs.readString(spark, s"$path/_stats").trim.split(" ")
    require(stats.length >= 3 && stats(0) == "v1" && stats(2).startsWith("v"),
      s"histogram sidecar at $path has a damaged/unstamped _stats; rebuild " +
        "with buildHistogramSidecarForStore")
    val valueCol = stats(1)
    val cur = VersionedStore.currentState(spark, table).getOrElse(
      throw new IllegalStateException(s"$table has no committed state"))
    if (stats(2) == s"v${cur.version}") return
    Profile.reconcileSegmentLedger(spark, table, path,
      segs => segmentHistograms(spark, table, segs, valueCol), cur.segments)
    val v1 = VersionedStore.currentState(spark, table).map(_.version).getOrElse(0L)
    require(v1 == cur.version,
      s"store $table moved from version ${cur.version} to $v1 during the " +
        "histogram reconcile; rebuild")
    graft.Fs.writeString(spark, s"$path/_stats", s"v1 $valueCol v${cur.version}")
  }

  def registerHistogramSidecar(spark: org.apache.spark.sql.SparkSession,
                               table: String, idCol: String, valueCol: String,
                               path: String): Unit =
    SidecarRegistry.register(spark, table, SidecarRegistry.HistogramSidecar,
      SidecarRegistry.Registration(path, idCol, valueCol))

  /** Johnson-Lindenstrauss random projection of an `ARRAY<FLOAT>`
    * embedding column to `outDim` dimensions via the md5-derived
    * Rademacher planes ([[Dedup.rademacherPlanes]] — the SRP-LSH
    * construction, here keeping the VALUES instead of the signs):
    * `out_j = <v, plane_j> / sqrt(outDim)`, which preserves pairwise
    * distances within (1 ± ε) w.h.p. (JL lemma; Achlioptas 2003 shows
    * ±1 entries suffice). The projection matrix is derived, never
    * stored or broadcast — any executor (or SQL engine) regenerates
    * plane (j, i) from md5, so the 100 TB shape is a pure narrow map
    * with zero model state.
    *
    * Use it to cut ANN/dedup cost at high dim: bucket or cluster in
    * the reduced space, verify in the original.
    */
  def jlProject(df: DataFrame, embCol: String, dim: Int, outDim: Int,
                seed: Long = 42L, outCol: String = "jl"): DataFrame = {
    val planes = Dedup.rademacherPlanes(outDim, dim, table = 0, seed = seed)
    val scale = math.sqrt(outDim.toDouble)
    df.withColumn(outCol,
      when(col(embCol).isNotNull, array(scala.collection.immutable.ArraySeq.unsafeWrapArray(planes).map { p =>
        graft.functions.VectorFunctions.dotProduct(col(embCol),
          typedlit(p.toSeq)) / lit(scale)
      }: _*)))
  }

  // ---- bottom-k minwise signatures: corpus-level set similarity ----

  /** 60-bit md5 hash of a value as a POSITIVE long — 15 hex chars, so
    * signed (Spark BIGINT) and unsigned (DuckDB) comparisons order
    * identically; the bottom-k ranking depends on that.
    */
  def hash60(value: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    conv(substring(md5(value.cast("binary")), 1, 15), 16, 10).cast("long")

  /** Bottom-k minwise signature per slice: the `k` smallest distinct
    * [[hash60]] values over the slice's distinct word `n`-shingles —
    * `(sliceCol, hv)`, ≤ k rows per slice. The KMV/bottom-k sketch
    * (Bar-Yossef et al. 2002; Broder 1997's minwise estimator): unlike
    * per-document MinHash it summarizes a whole CORPUS SLICE in k
    * longs, and two slices' signatures alone estimate their
    * distinct-shingle Jaccard (bottom-k of a union is computable from
    * the unions' bottom-ks).
    *
    * Scale shape: explode → distinct (slice, hv) collapses map-side;
    * the per-slice bottom-k is a window over the distinct-hash stream
    * — at 100 TB swap the window for groupBy + a bounded-heap typed
    * aggregate, same contract. Signatures are |slices|·k rows total:
    * corpus-size-independent state that merges by union + re-rank.
    */
  def bottomkSignatures(df: DataFrame, sliceCol: String, textCol: String,
                        k: Int, n: Int = 3): DataFrame = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(sliceCol)).orderBy(col("hv"))
    // gram kernel swap (round-18 opt): the transform/slice/array_join
    // HOF composition is interpreted (CodegenFallback, re-evaluated per
    // element) and was this op's single 3.6 s job at sf0.1. The
    // imperative WordNGrams kernel emits the same grams — its
    // splitWs(trim(text)) ≡ tokens() = split(trim(text), "\\s+"), and
    // its per-document dedup is absorbed by the slice-level distinct
    // below (it only shrinks the exploded row count on the way) — so
    // the distinct (slice, hv) set, and every downstream signature, is
    // bit-identical.
    df.select(col(sliceCol), explode(
        graft.functions.WordNGrams.wordNGrams(trim(col(textCol)), n)).as("__sh"))
      .select(col(sliceCol), hash60(col("__sh")).as("hv"))
      .distinct()
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col(sliceCol), col("hv"))
  }

  /** Pairwise Jaccard AND containment estimates between every two
    * slices from their bottom-k signatures alone — `(slice_a, slice_b,
    * n_common, denom, est_jaccard, est_containment_a,
    * est_containment_b)` for slice_a < slice_b. For each pair the
    * union's bottom-k is re-ranked from the two signatures (a subset
    * of their union, so no raw data is touched); est_jaccard is the
    * fraction of those union-minima present in BOTH signatures, and
    * est_containment_a = |A∩B|/|A| ≈ common / (union-minima from A)
    * — the asymmetric "how much of crawl A is inside crawl B"
    * question Jaccard can't answer when sizes differ. When the union
    * carries fewer than k hashes every denominator is exact. All work
    * is over ≤ |slices|²·k sketch rows — corpus-size-independent.
    */
  def bottomkJaccard(signatures: DataFrame, sliceCol: String,
                     k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    // the signature frame is referenced three times below (slice-a
    // pairs, slice-b pairs, membership); materialize its ≤|slices|·k
    // rows once so the corpus-sized signature build never re-runs
    val sig = signatures.localCheckpoint()
    val slices = sig.select(col(sliceCol)).distinct()
    val pairs = slices.select(col(sliceCol).as("slice_a"))
      .crossJoin(slices.select(col(sliceCol).as("slice_b")))
      .filter(col("slice_a") < col("slice_b"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("slice_a"), col("slice_b")).orderBy(col("hv"))
    broadcast(pairs)
      .join(sig,
        col(sliceCol) === col("slice_a") || col(sliceCol) === col("slice_b"))
      .groupBy(col("slice_a"), col("slice_b"), col("hv"))
      .agg(count(lit(1)).as("__cnt"),
        max(col(sliceCol) === col("slice_a")).as("__in_a"),
        max(col(sliceCol) === col("slice_b")).as("__in_b"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .groupBy(col("slice_a"), col("slice_b"))
      .agg(sum(when(col("__cnt") === 2, 1L).otherwise(0L)).as("n_common"),
        count(lit(1)).as("denom"),
        sum(when(col("__in_a"), 1L).otherwise(0L)).as("__na"),
        sum(when(col("__in_b"), 1L).otherwise(0L)).as("__nb"))
      // the estimates are exact integer ratios of sketch counts — leave
      // as pure-Long micros (round-half-up), never round(double, n):
      // that pattern is tie- and engine-build-sensitive on exact ratios
      .withColumn("est_jaccard_micros",
        expr("CAST((2*1000000*n_common + denom) DIV (2*denom) AS BIGINT)"))
      .withColumn("est_containment_a_micros",
        expr("CAST((2*1000000*n_common + __na) DIV (2*__na) AS BIGINT)"))
      .withColumn("est_containment_b_micros",
        expr("CAST((2*1000000*n_common + __nb) DIV (2*__nb) AS BIGINT)"))
      .drop("__na", "__nb")
  }

  // ---- Bloom filter (the frontier seen-set) ----------------------------

  /** Bloom filter over a value column — the crawl frontier's "have I
    * already fetched this URL" membership structure at corpus scale:
    * `mBits` bits (a multiple of 64) packed into `mBits/64` longs, `k`
    * md5-derived positions per value (seeds `bloom:<i>:` through the
    * [[hash60]] family, so build AND probe replay bit-for-bit in SQL).
    * Standard `(1 − e^(−kn/m))^k` false-positive rate, never a false
    * negative. Two map-side-combinable stages (explode the k seeds →
    * `bit_or` per word); output is ≤ `mBits/64` `(word_idx, word)`
    * rows — zero words omitted, which [[collectBloom]] densifies.
    */
  def bloomBuild(df: DataFrame, valueCol: String, mBits: Int,
                 k: Int): DataFrame = {
    require(mBits > 0 && mBits % 64 == 0, s"mBits must be a multiple of 64, got $mBits")
    require(k >= 1, s"k must be >= 1, got $k")
    // a null value can't be a member (concat would null the position and
    // crash collectBloom on a null word_idx group) — drop, don't throw
    df.filter(col(valueCol).isNotNull)
      .select(col(valueCol).as("__v"),
        explode(array((0 until k).map(lit(_)): _*)).as("__seed"))
      .select(pmod(hash60(concat(lit("bloom:"), col("__seed").cast("string"),
        lit(":"), col("__v"))), lit(mBits)).as("__pos"))
      .select((col("__pos") / 64).cast("long").as("word_idx"),
        pmod(col("__pos"), lit(64)).cast("int").as("__bit"))
      .groupBy(col("word_idx"))
      .agg(expr("bit_or(shiftleft(cast(1 as bigint), __bit))").as("word"))
  }

  /** Densify a built bloom into the literal array the probe embeds —
    * the collect is bounded by CONSTRUCTION at `mBits/64` longs (256
    * rows for a 16 Ki-bit filter), the broadcast-small serving
    * artifact, never corpus-sized.
    */
  def collectBloom(bloom: DataFrame, mBits: Int): Array[Long] = {
    val words = new Array[Long](mBits / 64)
    bloom.select(col("word_idx"), col("word")).collect()
      .foreach(r => words(r.getLong(0).toInt) = r.getLong(1))
    words
  }

  /** Membership probe: appends `might_contain` — pure narrow
    * expressions over the literal word array (the filter rides the
    * PLAN, no join, no shuffle — streaming-safe), testing all `k`
    * seeded bit positions.
    */
  def bloomMightContain(df: DataFrame, valueCol: String,
                        words: Array[Long], k: Int): DataFrame = {
    val mBits = words.length * 64
    val test = (0 until k).map { i =>
      val pos = pmod(hash60(concat(lit(s"bloom:$i:"), col(valueCol))),
        lit(mBits))
      val word = element_at(lit(words), (pos / 64).cast("int") + 1)
      call_function("shiftrightunsigned", word, pmod(pos, lit(64)).cast("int"))
        .bitwiseAND(lit(1L)) === 1L
    }.reduce(_ && _)
    df.withColumn("might_contain", test)
  }

  // ---- Bloom sidecar (incremental frontier seen-set) --------------------

  /** Sidecar filter geometry: 64 Ki bits / 5 hashes — ~1% false
    * positives at 8 k members, the per-store default; rebuild at a
    * wider geometry when a store outgrows it (the stamp carries m:k,
    * so a mismatch refuses loudly instead of probing the wrong bits).
    */
  val BloomSidecarM: Int = 1 << 16
  val BloomSidecarK: Int = 5

  def bloomSidecarMarkerPath(table: String): String = s"$table/_bloom_sidecar"

  /** Build the Bloom seen-set sidecar for a [[VersionedStore]] table
    * ([[SidecarRegistry.BloomSidecar]]), with the same merge
    * algebra as the HLL registers: words `bit_or`-merge, so the append
    * seam folds a batch in at O(batch) and "was this URL ever
    * ingested" is always one ≤ m/64-row read away. Deletes can't
    * un-set a bit, so non-pure-append histories fall through to the
    * LOUD rebuild; compaction restamps O(1) when row-preserving.
    * `_stats`: `"<m>:<k> v<version>"`.
    */
  def buildBloomSidecarForStore(spark: org.apache.spark.sql.SparkSession,
                                table: String, idCol: String, valueCol: String,
                                path: String): Unit = {
    val v0 = VersionedStore.currentState(spark, table).map(_.version).getOrElse(0L)
    val rows = VersionedStore.read(spark, table).getOrElse(
      throw new IllegalStateException(s"no rows to sketch at $table"))
    graft.Fs.delete(spark, s"$path/_stats")
    bloomBuild(rows, valueCol, BloomSidecarM, BloomSidecarK)
      .write.mode("overwrite").parquet(s"$path/words")
    val v1 = VersionedStore.currentState(spark, table).map(_.version).getOrElse(0L)
    require(v1 == v0,
      s"store $table moved from version $v0 to $v1 during the sidecar build; rebuild")
    graft.Fs.writeString(spark, s"$path/_stats",
      s"$BloomSidecarM:$BloomSidecarK v$v0")
  }

  /** Fold the store's NEW segments into the word sidecar — `bit_or`
    * of the batch's words with the existing ≤ m/64 (the Bloom union
    * operator), O(appended rows). The [[appendToHllSidecar]]
    * discipline verbatim: damaged stats, geometry mismatches and
    * non-pure-append histories refuse as IllegalArgumentException
    * (the registry's rebuild trigger), stamp retired before the write.
    */
  def appendToBloomSidecar(spark: org.apache.spark.sql.SparkSession,
                           table: String, idCol: String, valueCol: String,
                           path: String): Unit = {
    val stats = graft.Fs.readString(spark, s"$path/_stats").trim.split(" ")
    require(stats.length >= 2 && stats(1).startsWith("v"),
      s"bloom sidecar at $path has a damaged/unstamped _stats; rebuild with buildBloomSidecarForStore")
    require(stats(0) == s"$BloomSidecarM:$BloomSidecarK",
      s"bloom sidecar at $path was built at geometry ${stats(0)}, engine expects " +
        s"$BloomSidecarM:$BloomSidecarK; rebuild")
    VersionedStore.appendedSince(spark, table, stats(1).drop(1).toLong, "bloom sidecar",
      "bit_or-merged words cannot subtract rewritten rows; rebuild with " +
        "buildBloomSidecarForStore").foreach { case (version, newSegs) =>
      graft.Fs.delete(spark, s"$path/_stats")
      if (newSegs.nonEmpty) {
        // the existing frame is ≤ m/64 rows — collect it so the
        // overwrite never reads the path it writes
        val spark2 = spark
        import spark2.implicits._
        val existing = spark.read.parquet(s"$path/words")
          .select(col("word_idx").cast("long"), col("word").cast("long"))
          .as[(Long, Long)].collect().toSeq.toDF("word_idx", "word")
        bloomBuild(VersionedStore.readSegments(spark, table, newSegs), valueCol,
            BloomSidecarM, BloomSidecarK)
          .unionByName(existing)
          .groupBy(col("word_idx")).agg(expr("bit_or(word)").as("word"))
          .write.mode("overwrite").parquet(s"$path/words")
      }
      graft.Fs.writeString(spark, s"$path/_stats",
        s"$BloomSidecarM:$BloomSidecarK v$version")
    }
  }

  def registerBloomSidecar(spark: org.apache.spark.sql.SparkSession,
                           table: String, idCol: String, valueCol: String,
                           path: String): Unit =
    SidecarRegistry.register(spark, table, SidecarRegistry.BloomSidecar,
      SidecarRegistry.Registration(path, idCol, valueCol))

  /** Probe candidates against the maintained sidecar — refuses a stale
    * sidecar loudly (stamp ≠ store version): a stale seen-set silently
    * re-crawls freshly ingested URLs.
    */
  def probeBloomSidecar(spark: org.apache.spark.sql.SparkSession,
                        table: String, path: String,
                        candidates: DataFrame, valueCol: String): DataFrame = {
    val stats = graft.Fs.readString(spark, s"$path/_stats").trim.split(" ")
    require(stats.length >= 2,
      s"bloom sidecar at $path has a damaged _stats; rebuild with buildBloomSidecarForStore")
    require(stats(0) == s"$BloomSidecarM:$BloomSidecarK",
      s"bloom sidecar at $path was built at geometry ${stats(0)}, engine expects " +
        s"$BloomSidecarM:$BloomSidecarK — probing foreign geometry would test the " +
        "wrong bit positions; rebuild with buildBloomSidecarForStore")
    val cur = VersionedStore.currentState(spark, table).map(_.version).getOrElse(0L)
    require(stats(1) == s"v$cur",
      s"bloom sidecar at $path (${stats.lift(1).getOrElse("-")}) is stale against " +
        s"$table (v$cur) — run appendToBloomSidecar first")
    val words = new Array[Long](BloomSidecarM / 64)
    spark.read.parquet(s"$path/words").collect()
      .foreach(r => words(r.getAs[Long]("word_idx").toInt) = r.getAs[Long]("word"))
    bloomMightContain(candidates, valueCol, words, BloomSidecarK)
  }
}
