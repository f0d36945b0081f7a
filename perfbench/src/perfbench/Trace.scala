package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.{PerfbenchBus, SparkContext, Success}
import org.apache.spark.scheduler._

/** Spans recorded by benchmark code around calls into the engine's public
  * functions, and a listener that attributes Spark work to them.
  *
  * A span's id travels to Spark as the local property [[SpanKey]] of the
  * calling thread, so every job the call submits carries it. The listener
  * credits a job, its stages and its tasks to that span and to every
  * enclosing span. Spans are kept in memory and written out when the run
  * ends. With tracing off, [[span]] only runs its body.
  */
object Trace {
  val SpanKey = "perfbench.span"

  @volatile var enabled = false
  /** "setup" or "window": which part of the run a new span belongs to. */
  @volatile var phase = "setup"
  /** Index of the setup repetition a new span belongs to. */
  @volatile var setupRound = 0

  final class Span(val id: Long, val name: String, val tag: String,
                   val parent: Option[Span], val phase: String, val setupRound: Int) {
    val startMs: Long = System.currentTimeMillis()
    private val startNs = System.nanoTime()
    private val fs0 = fsBytes()
    private val gc0 = gcMs()
    var endMs = 0L
    var wallMs = 0.0
    var fsRead = 0L
    var fsWrite = 0L
    var gc = 0L
    val jobs, stages, tasks, failedTasks = new AtomicLong
    val taskCpuNs, shuffleBytes, spillBytes = new AtomicLong
    val jobIntervals = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]

    private[Trace] def close(): Unit = {
      wallMs = (System.nanoTime() - startNs) / 1e6
      endMs = System.currentTimeMillis()
      val fs1 = fsBytes()
      fsRead = fs1._1 - fs0._1
      fsWrite = fs1._2 - fs0._2
      gc = gcMs() - gc0
    }

    /** This span and every span enclosing it. */
    def lineage: Iterator[Span] = Iterator.iterate(Option(this))(_.flatMap(_.parent))
      .takeWhile(_.isDefined).map(_.get)

    /** Wall time not covered by any job that ran inside the span. */
    def gapMs: Double = {
      val iv = jobIntervals.asScala.toSeq
        .map { case (a, b) => (math.max(a, startMs), math.min(b, endMs)) }
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = -1L
      var curB = -1L
      for ((a, b) <- iv) {
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      math.max(0.0, wallMs - covered)
    }
  }

  private val ids = new AtomicLong
  private val byId = new ConcurrentHashMap[Long, Span]
  private val all = ArrayBuffer.empty[Span]
  private val current = new ThreadLocal[Span]
  private val sc = new AtomicReference[SparkContext]

  /** Bytes read and written through Hadoop's local file system so far. */
  def fsBytes(): (Long, Long) = {
    val st = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file")
    if (st == null) (0L, 0L)
    else (Option(st.getLong("bytesRead")).map(_.longValue).getOrElse(0L),
      Option(st.getLong("bytesWritten")).map(_.longValue).getOrElse(0L))
  }

  /** Collection time of every garbage collector in the JVM, in ms. In
    * local mode executors share the driver's JVM, so per-task GC times
    * overlap; the JVM-wide delta over a span is the honest figure.
    */
  def gcMs(): Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime.max(0L)).sum

  def install(context: SparkContext): Unit = {
    sc.set(context)
    context.addSparkListener(Listener)
    enabled = true
  }

  /** Runs `body` inside a span named `name`; `tag` sub-divides a name
    * (the search type of a `Chat.answer`).
    */
  def span[T](name: String, tag: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val parent = Option(current.get)
      val s = new Span(ids.incrementAndGet(), name, tag, parent, phase, setupRound)
      byId.put(s.id, s)
      all.synchronized(all += s)
      val ctx = sc.get
      ctx.setLocalProperty(SpanKey, s.id.toString)
      current.set(s)
      try body
      finally {
        s.close()
        current.set(parent.orNull)
        ctx.setLocalProperty(SpanKey, parent.map(_.id.toString).orNull)
      }
    }

  /** Every span recorded so far, after the listener has seen all events. */
  def spans(): Seq[Span] = {
    Option(sc.get).foreach(PerfbenchBus.drain)
    all.synchronized(all.toList)
  }

  private def spanOf(props: java.util.Properties): Option[Span] =
    Option(props).flatMap(p => Option(p.getProperty(SpanKey)))
      .flatMap(id => Option(byId.get(id.toLong)))

  private object Listener extends SparkListener {
    private val jobSpan = new ConcurrentHashMap[Int, (Span, Long)]
    private val stageSpan = new ConcurrentHashMap[Int, Span]

    override def onJobStart(e: SparkListenerJobStart): Unit =
      spanOf(e.properties).foreach { s =>
        jobSpan.put(e.jobId, (s, e.time))
        s.lineage.foreach(_.jobs.incrementAndGet())
      }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.remove(e.jobId)).foreach { case (s, start) =>
        s.lineage.foreach(_.jobIntervals.add((start, e.time)))
      }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      spanOf(e.properties).foreach { s =>
        stageSpan.put(e.stageInfo.stageId, s)
        s.lineage.foreach(_.stages.incrementAndGet())
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        val m = e.taskMetrics
        val failed = e.reason != Success
        s.lineage.foreach { a =>
          a.tasks.incrementAndGet()
          if (failed) a.failedTasks.incrementAndGet()
          if (m != null) {
            a.taskCpuNs.addAndGet(m.executorCpuTime)
            a.shuffleBytes.addAndGet(
              m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
            a.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
          }
        }
      }
  }

  /** The spans as JSON lines, one per span. */
  def writeJsonl(path: java.nio.file.Path, spans: Seq[Span]): Unit = {
    val lines = spans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent.map(_.id).getOrElse(-1)},""" +
        s""""name":"${s.name}","tag":"${s.tag}","phase":"${s.phase}","setup_round":${s.setupRound},""" +
        s""""start_ms":${s.startMs},"wall_ms":${s.wallMs},"gap_ms":${s.gapMs},""" +
        s""""jobs":${s.jobs.get},"stages":${s.stages.get},"tasks":${s.tasks.get},""" +
        s""""failed_tasks":${s.failedTasks.get},"task_cpu_ms":${s.taskCpuNs.get / 1e6},""" +
        s""""gc_ms":${s.gc},"shuffle_bytes":${s.shuffleBytes.get},""" +
        s""""spill_bytes":${s.spillBytes.get},"fs_read_bytes":${s.fsRead},""" +
        s""""fs_write_bytes":${s.fsWrite}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** CPU time of every Spark task that has ended, in ns. Installed on
  * every run, traced or not: with the client thread's own CPU time it
  * gives the CPU an op costs, which, unlike wall time, excludes the time
  * the machine's CPUs spent on other guests.
  */
object TaskCpu extends SparkListener {
  val ns = new AtomicLong
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) ns.addAndGet(e.taskMetrics.executorCpuTime)
}

/** JVM-global counts behind the counting wrappers. In `local[N]` the
  * executors run in the driver's JVM, so calls made inside tasks land
  * here too.
  */
object Counters {
  val embedCalls, embedTexts = new AtomicLong
  val modelRewrites, modelGenerates = new AtomicLong
  val graderCalls, graderRelevant = new AtomicLong

  def snapshot(): Map[String, Long] = Map(
    "embed.calls" -> embedCalls.get, "embed.texts" -> embedTexts.get,
    "model.rewrites" -> modelRewrites.get, "model.generates" -> modelGenerates.get,
    "grader.calls" -> graderCalls.get, "grader.relevant" -> graderRelevant.get)
}

/** Counts every call into the wrapped [[graft.embed.Embedder]]. */
final case class CountingEmbedder(inner: graft.embed.Embedder) extends graft.embed.Embedder {
  def dim: Int = inner.dim
  def embed(text: String): Array[Float] = {
    Counters.embedCalls.incrementAndGet()
    Counters.embedTexts.incrementAndGet()
    inner.embed(text)
  }
  override def embedBatch(texts: Seq[String]): Seq[Array[Float]] = {
    Counters.embedCalls.incrementAndGet()
    Counters.embedTexts.addAndGet(texts.size)
    inner.embedBatch(texts)
  }
}

/** Counts every call into the wrapped [[graft.ops.Chat.ChatModel]]. */
final case class CountingModel(inner: graft.ops.Chat.ChatModel) extends graft.ops.Chat.ChatModel {
  def rewrite(question: String, history: Seq[String]): String = {
    Counters.modelRewrites.incrementAndGet()
    inner.rewrite(question, history)
  }
  def generate(sysPrompt: String, context: String, question: String): String = {
    Counters.modelGenerates.incrementAndGet()
    inner.generate(sysPrompt, context, question)
  }
}

/** Counts every call into the wrapped [[graft.ops.Chat.Grader]] and how
  * many of them found the context relevant.
  */
final case class CountingGrader(inner: graft.ops.Chat.Grader) extends graft.ops.Chat.Grader {
  def relevant(question: String, context: String): Boolean = {
    Counters.graderCalls.incrementAndGet()
    val r = inner.relevant(question, context)
    if (r) Counters.graderRelevant.incrementAndGet()
    r
  }
}
