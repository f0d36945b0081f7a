package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import Trace.span

/** One benchmark run in one JVM: start a `local[4]` session, build the
  * workload's fixture `setups` times (the median counts), run ops in a
  * closed loop with one client for `--seconds`, check the recorded
  * outputs, and write the result as JSON to `--out`. `perfbench/run.py`
  * builds the classes, launches this and prints the result.
  *
  * Arguments (all `--name value`): workload, seed, seconds, trace (0|1),
  * tmp (private temp root), out (result file), corpus (the documents
  * file), spans (where a traced run writes its spans), sizes (full|tiny),
  * corrupt (1 = alter one recorded output before the checks).
  */
object Main {
  /** The engine calls the benchmark spans, in the order they are reported. */
  val SpanNames = Seq("Ingest.ingest", "Ivf.indexStore",
    "Keyword.registerLexicalIndex", "VersionedStore.read", "Chat.answer",
    "Testbed.generateTestset", "Testbed.evaluateRag", "Dedup.minhashNearDupPairs",
    "Dedup.nearDupSurvivors", "Classifier.fitLogReg", "Classifier.score")
  /** Spans that read or write the store, which also report file bytes. */
  val StoreSpans = Set("Ingest.ingest", "VersionedStore.read", "Chat.answer")
  val SearchTypes = Seq("similarity", "mmr", "hybrid")

  def main(args: Array[String]): Unit = {
    require(args.length % 2 == 0, s"arguments come in --name value pairs: ${args.mkString(" ")}")
    val opts = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val name = opts("workload")
    require(Workload.names.contains(name), s"unknown workload $name")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val tmp = opts("tmp")
    val sizes = if (opts.get("sizes").contains("tiny")) Sizes.tiny else Sizes.full

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$tmp/spark-local")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9
    try run(spark, opts, name, seed, seconds, traced, tmp, sizes, sessionS)
    finally spark.stop()
  }

  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  private def run(spark: SparkSession, opts: Map[String, String], name: String, seed: Long,
                  seconds: Double, traced: Boolean, tmp: String, sizes: Sizes,
                  sessionS: Double): Unit = {
    val sc = spark.sparkContext
    sc.addSparkListener(TaskCpu)
    if (traced) Trace.install(sc)
    val corpus = Inputs.corpus(opts("corpus"))
    val wl = Workload(name, spark, corpus, seed, sizes)

    val setupS = (0 until sizes.setups).map { r =>
      Trace.setupRound = r
      val t = System.nanoTime()
      wl.setup(s"$tmp/fixture-$r")
      val s = (System.nanoTime() - t) / 1e9
      log(f"setup $r: $s%.3f s")
      s
    }

    Trace.phase = "window"
    val c0 = Counters.snapshot()
    val q0 = wl.questionsAsked
    val lat = ArrayBuffer.empty[Double]
    val cpu = ArrayBuffer.empty[Double]
    val threads = java.lang.management.ManagementFactory.getThreadMXBean
    var items = 0L
    var opErrors = 0
    val w0 = System.nanoTime()
    while (lat.length < wl.minOps || lat.length % wl.opBlock != 0 ||
        (System.nanoTime() - w0) / 1e9 < seconds) {
      val t = System.nanoTime()
      val c = threads.getCurrentThreadCpuTime + TaskCpu.ns.get
      try items += span("op")(wl.op(lat.length))
      catch { case NonFatal(e) => opErrors += 1; log(s"op ${lat.length} failed: $e") }
      lat += (System.nanoTime() - t) / 1e6
      // the op's last task-end events may still be queued
      org.apache.spark.PerfbenchBus.drain(sc)
      cpu += (threads.getCurrentThreadCpuTime + TaskCpu.ns.get - c) / 1e6
    }
    val c1 = Counters.snapshot()
    val questions = wl.questionsAsked - q0
    val opP50 = percentile(lat.toSeq, 0.5)
    log(f"window: ${lat.length} ops, p50 $opP50%.1f ms")
    val spans = if (traced) Trace.spans() else Nil

    Trace.phase = "check"
    val failures =
      try wl.check(opts.get("corrupt").contains("1"))
      catch { case NonFatal(e) => Seq(s"check threw: $e") }
    failures.foreach(f => log(s"check failed: $f"))
    val attempted = lat.length
    val failed = math.min(attempted, opErrors + failures.length)

    val counts = wl.layerCounts()
    // the context cleaner releases blocks of collected datasets after a
    // collection, asynchronously: collect, let it run, collect again
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(300) }
    val heapMb = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    val busyS = lat.sum / 1000

    val endToEnd = Seq(
      ("setup_s", sessionS + median(setupS), "s"),
      ("op_cpu_ms", percentile(cpu.toSeq, 0.5), "ms"),
      ("items_per_cpu_s", items / (cpu.sum / 1000), "items/s"),
      ("heap_after_run_mb", heapMb, "MB"))
    val extra = Seq(
      ("session_s", sessionS, "s"),
      ("ops", attempted.toDouble, "count"),
      ("op_p50_ms", opP50, "ms"),
      ("op_p90_ms", if (attempted >= 100) percentile(lat.toSeq, 0.9) else Double.NaN, "ms"),
      (if (wl.itemUnit == "docs") "docs_per_s" else "questions_per_s", items / busyS,
        s"${wl.itemUnit}/s"),
      ("fail_ratio", failed.toDouble / attempted, "failed/attempted"),
      ("store_bytes_per_text_byte", counts.getOrElse("store_bytes_per_text_byte", Double.NaN), "ratio"))
    val perLayer =
      if (!traced) Nil
      else {
        opts.get("spans").foreach(p => Trace.writeJsonl(java.nio.file.Paths.get(p), spans))
        layerMetrics(spans, sizes, attempted, c0, c1, questions, counts, opP50, wl)
      }

    val json =
      s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,""" +
        s""""setup_runs_s":[${setupS.mkString(",")}],""" +
        s""""failures":[${failures.map(quote).mkString(",")}],""" +
        s""""end_to_end":${metricsJson(endToEnd)},"extra":${metricsJson(extra)},""" +
        s""""per_layer":${metricsJson(perLayer)}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(opts("out")),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  private def layerMetrics(spans: Seq[Trace.Span], sizes: Sizes, ops: Int,
                           c0: Map[String, Long], c1: Map[String, Long], questions: Long,
                           counts: Map[String, Double], opP50: Double,
                           wl: Workload): Seq[(String, Double, String)] = {
    def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
    def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b
    // a span's figures come from the window; a call made only while
    // setting up (the index builds) is reported from the last setup
    def records(name: String): Seq[Trace.Span] = {
      val w = spans.filter(s => s.name == name && s.phase == "window")
      if (w.nonEmpty) w
      else spans.filter(s => s.name == name && s.phase == "setup" && s.setupRound == sizes.setups - 1)
    }
    val opSpans = spans.filter(s => s.name == "op" && s.phase == "window")
    def driver(f: Trace.Span => Double) = mean(opSpans.map(f))
    val driverMetrics = Seq(
      ("driver.jobs", driver(_.jobs.get.toDouble), "count"),
      ("driver.stages", driver(_.stages.get.toDouble), "count"),
      ("driver.tasks", driver(_.tasks.get.toDouble), "count"),
      ("driver.task_cpu_ms", driver(_.taskCpuNs.get / 1e6), "ms"),
      ("driver.gap_ms", driver(_.gapMs), "ms"),
      ("driver.gc_ms", driver(_.gc.toDouble), "ms"),
      ("driver.shuffle_bytes", driver(_.shuffleBytes.get.toDouble), "bytes"),
      ("driver.spill_bytes", driver(_.spillBytes.get.toDouble), "bytes"),
      ("driver.failed_tasks", driver(_.failedTasks.get.toDouble), "count"),
      ("driver.fs_read_bytes", driver(_.fsRead.toDouble), "bytes"),
      ("driver.fs_write_bytes", driver(_.fsWrite.toDouble), "bytes"))
    val spanMetrics = SpanNames.flatMap { n =>
      val rs = records(n)
      Seq(
        (s"$n.calls", rs.length.toDouble, "count"),
        (s"$n.ms", mean(rs.map(_.wallMs)), "ms"),
        (s"$n.jobs", mean(rs.map(_.jobs.get.toDouble)), "count"),
        (s"$n.tasks", mean(rs.map(_.tasks.get.toDouble)), "count"),
        (s"$n.task_cpu_ms", mean(rs.map(_.taskCpuNs.get / 1e6)), "ms"),
        (s"$n.gap_ms", mean(rs.map(_.gapMs)), "ms")) ++
        (if (!StoreSpans(n)) Nil
        else Seq(
          (s"$n.fs_read_bytes", mean(rs.map(_.fsRead.toDouble)), "bytes"),
          (s"$n.fs_write_bytes", mean(rs.map(_.fsWrite.toDouble)), "bytes")))
    }
    val answers = spans.filter(s => s.name == "Chat.answer" && s.phase == "window")
    val bySearchType = SearchTypes.flatMap { t =>
      val rs = answers.filter(_.tag == t)
      Seq((s"Chat.answer.$t.ms", mean(rs.map(_.wallMs)), "ms"),
        (s"Chat.answer.$t.jobs", mean(rs.map(_.jobs.get.toDouble)), "count"))
    }
    def delta(k: String): Double = (c1(k) - c0(k)).toDouble
    val fits = records("Classifier.fitLogReg")
    val countMetrics = Seq(
      ("embed.calls", ratio(delta("embed.calls"), ops), "count"),
      ("embed.texts", ratio(delta("embed.texts"), ops), "count"),
      ("embed.useful_ratio", counts.getOrElse("embed.useful_ratio", 0.0), "ratio"),
      ("Ingest.append_ratio", counts.getOrElse("Ingest.append_ratio", 0.0), "ratio"),
      ("VersionedStore.segments", counts.getOrElse("VersionedStore.segments", 0.0), "count"),
      ("store_bytes_per_text_byte", counts.getOrElse("store_bytes_per_text_byte", 0.0), "ratio"),
      ("Chat.model_calls_per_q",
        ratio(delta("model.rewrites") + delta("model.generates"), questions.toDouble), "count"),
      ("Chat.grounded_ratio", ratio(delta("grader.relevant"), delta("grader.calls")), "ratio"),
      ("Dedup.pairs", counts.getOrElse("Dedup.pairs", 0.0), "count"),
      ("Dedup.survivor_ratio", counts.getOrElse("Dedup.survivor_ratio", 0.0), "ratio"),
      ("Classifier.jobs_per_step", wl match {
        case c: CurateWorkload => ratio(mean(fits.map(_.jobs.get.toDouble)), c.fitIters)
        case _                 => 0.0
      }, "count"),
      ("trace.op_p50_ms", opP50, "ms"))
    driverMetrics ++ spanMetrics ++ bySearchType ++ countMetrics
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear interpolation between closest ranks. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  private def quote(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c    => c.toString
    } + "\""

  private def metricsJson(ms: Seq[(String, Double, String)]): String =
    ms.map { case (n, v, u) =>
      val value = if (v.isNaN || v.isInfinite) "null" else v.toString
      s"""${quote(n)}:{"value":$value,"unit":${quote(u)}}"""
    }.mkString("{", ",", "}")
}
