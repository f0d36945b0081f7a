package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Parquet table loaders for the driver-generated TPC-H-ish test data
  * (TESTDATA.md) plus shared numeric-determinism helpers.
  */
object Tables {
  // cached: the testdata tables are immutable for a process lifetime, and
  // re-resolving (list + footer schema read) per call is pure driver-side
  // overhead paid by every query construction (ParquetIO doc)
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    ParquetIO.readImmutable(spark, s"$dir/$name.parquet")

  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  /** Session bootstrap — settings every Graft session needs, applied once
    * at session construction time by every entry point (Bench, Verify,
    * tools, the test session). Deliberately NOT a table-loader side
    * effect: a mid-session conf flip would silently change how unrelated
    * nanos-parquet reads behave after the first `events()` call.
    */
  def bootstrap(s: SparkSession): SparkSession = {
    // events.ts is parquet TIMESTAMP(NANOS), which Spark only reads as a
    // nanos-since-epoch BIGINT behind this legacy flag; [[eventTime]]
    // turns it back into a microsecond TimestampType column when needed.
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    s
  }

  /** The local session of every entry point but Bench (Verify, the tools,
    * the test session): `local[cpus]` with as many shuffle partitions,
    * the UI off, the UTC session time zone, [[bootstrap]] applied and
    * WARN logging.
    */
  def localSession(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    bootstrap(s)
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Runs `body` on `df` persisted at MEMORY_AND_DISK and unpersists it
    * when `body` ends, by return or by exception: the one release rule
    * for a Dataset pinned because two consumers read it. The pin runs no
    * job; the body's first action populates it, usually an eager count
    * before consumers that run concurrently could each compute it. A
    * result that outlives the pin is materialized inside `body`
    * (`localCheckpoint`), whose blocks Spark's ContextCleaner frees once
    * the result is unreachable. `Dataset.persist` itself is not
    * ContextCleaner-managed: an entry lives in the CacheManager until
    * `unpersist` or `clearCache`.
    */
  def pinned[T](df: DataFrame)(body: DataFrame => T): T = {
    df.persist(StorageLevel.MEMORY_AND_DISK)
    try body(df) finally df.unpersist()
  }

  /** Events with `ts` normalized to the canonical nanos-since-epoch
    * BIGINT shape every downstream consumer computes against. The
    * driver-generated parquet has shipped `ts` as both TIMESTAMP(NANOS)
    * (read as a nanos BIGINT behind the [[bootstrap]] legacy flag) and
    * TIMESTAMP(MICROS, isAdjustedToUTC=false) (read as TIMESTAMP_NTZ);
    * normalizing at the loader keeps the query code format-agnostic.
    * The NTZ→TS cast is exact under the UTC session timezone every
    * Graft entry point sets.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val df = table(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => df
      case _ =>
        df.withColumn("ts",
          unix_micros(col("ts").cast(org.apache.spark.sql.types.TimestampType)) * 1000L)
    }
  }

  /** Event time as TimestampType (micros) from the nanos BIGINT column.
    * Integer `div`, not `/`: nanos (~1.7e18) exceed 2^53, so a double
    * division would lose sub-microsecond exactness.
    */
  def eventTime(c: Column): Column =
    timestamp_micros((c.cast("decimal(38,0)") / 1000).cast("long"))
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Exact fixed-point view of a 2-decimal monetary double: cents as BIGINT.
    * The true value of `x*100` is an integer, so `round` is unambiguous and
    * the downstream integer sums are bit-identical across engines — this is
    * what makes aggregate queries hash-comparable against the DuckDB oracle
    * (double-sum reassociation never enters the plan).
    */
  def cents(c: Column): Column = round(c * 100).cast("long")

  /** Exact cross-engine 6-decimal pin for a ratio-of-integers double:
    * `floor(x·10⁶ + 0.5)` as BIGINT. Both engines execute the same two
    * IEEE operations on the same input double, so the result is
    * bit-identical by construction — immune to `round(double, n)`
    * implementation differences at a .5·10⁻ⁿ boundary (the class of
    * bug behind r15's one driver-red row, `decimal_pricing_summary`:
    * Spark rounds the exact binary value HALF_UP via BigDecimal,
    * DuckDB rounds the scaled double, and they disagree at ties —
    * differently across DuckDB versions). Convention: any OUTPUT
    * column whose pre-round value is an exact rational (count ratios,
    * cents averages, shares) must go through this or stay an integer;
    * values reached through transcendentals (ln/exp/sqrt/cosine) may
    * keep `round(x, n)` — a tie there needs the double within ~1 ulp
    * of a boundary, measure-zero and absorbed identically by both
    * engines' rounding of a non-boundary value.
    */
  def micros(c: Column): Column = floor(c * lit(1000000d) + lit(0.5d)).cast("long")

  /** [[micros]] at 8 decimals — for share columns previously round-8. */
  def e8(c: Column): Column = floor(c * lit(100000000d) + lit(0.5d)).cast("long")
}
