package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared scaffolding for the tool mains, which are outside the
  * Verify/Bench contract: the local session, codegen warm-up, a
  * stage-listener shuffle-bytes counter, and a min-of-K timer (a
  * shared host stalls single runs 10-100× at random, so a single-shot
  * timing is not a signal). Probe suites live in [[RoundProbe]] behind
  * one entry point — a new round adds a suite there, not a main; the
  * retired one-off probes' evidence stays in the committed
  * `scaleprobe_*.log` files and SCALE.md rows.
  */
object ProbeHarness {
  final case class Sample(wall: Double, shuffleMb: Double, rows: Long)

  /** [[graft.Tables.localSession]] on `SPARK_GRAFT_CPUS` cores (default
    * 4, as Verify and Bench), so tool numbers compare with Bench's.
    */
  def session(): SparkSession =
    graft.Tables.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)

  /** Codegen and class-loading warm-up before the first measured job. */
  def warmUp(spark: SparkSession): Unit =
    spark.range(100000).selectExpr("sum(id)").collect(): Unit

  private val shuffleBytes = new java.util.concurrent.atomic.AtomicLong(0)
  @volatile private var listenerInstalled = false

  def installShuffleListener(spark: SparkSession): Unit = synchronized {
    if (!listenerInstalled) {
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
            shuffleBytes.addAndGet(
              sc.stageInfo.taskMetrics.shuffleReadMetrics.remoteBytesRead +
              sc.stageInfo.taskMetrics.shuffleReadMetrics.localBytesRead): Unit
        })
      listenerInstalled = true
    }
  }

  /** Min-of-K timing with per-best-run shuffle bytes; prints one line.
    * The body returns a row count (forcing the plan) — probes must
    * consume the VALUE they measure, a bare count over a global agg
    * lets Catalyst drop the aggregate expressions entirely.
    */
  def probe(spark: SparkSession, tag: String, label: String, runs: Int)
           (f: => Long): Sample = {
    val samples = (1 to runs).map { _ =>
      shuffleBytes.set(0)
      val t0 = System.nanoTime()
      val rows = f
      val wall = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache(); System.gc()
      Thread.sleep(200)
      Sample(wall, shuffleBytes.get() / 1e6, rows)
    }
    val best = samples.minBy(_.wall)
    println(f"[$tag] $label%-46s min ${best.wall}%7.2f s  " +
      f"max ${samples.map(_.wall).max}%7.2f s  " +
      f"shuffle ${best.shuffleMb}%8.1f MB  rows ${best.rows}")
    best
  }

  /** Synthetic planning-sized rows (~16 B: id, small string, weight) —
    * the row-count scale-up shape the sampling/fingerprint probes use.
    */
  def synth(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(col("id"),
      expr("CAST(id % 37 AS STRING)").as("s"),
      expr("1 + id % 512").as("w"))
}
