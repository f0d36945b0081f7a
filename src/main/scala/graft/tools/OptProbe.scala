package graft.tools

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Round-18 optimization instrumentation (guide §1: measure first).
  *
  * Modes (first arg):
  *  - `plans <outDir> [q1,q2,…]` — write every (or the named) declared
  *    query's `explain("formatted")` to `<outDir>/<name>.txt`. Queries
  *    whose CONSTRUCTION runs eager work (store lifecycles) pay that
  *    work here too; the captured plan is the final returned frame's.
  *  - `jobs <q1,q2,…>` — run each named query exactly as Bench does
  *    (`fn(spark, sfDir).count()`) with a listener stamping every Spark
  *    job's wall time and call site, then print a per-job breakdown:
  *    where inside a 5-second lifecycle query the time actually goes
  *    (which action, which store write, which fold), which the SQL-tab
  *    UI would show if the bench ran with the UI enabled. The `==`
  *    line also counts the generated classes the measured run compiled
  *    (`compiles=`, `compile_ms=`): a warm run that still compiles is
  *    missing Spark's code cache.
  */
object OptProbe {
  private final case class J(id: Int, desc: String, site: String,
                             start: Long, var end: Long = 0L)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = ProbeHarness.session()
    // same warmup as Bench so the first probed query is comparable
    ProbeHarness.warmUp(spark)
    spark.read.parquet(s"$sfDir/region.parquet").count()

    args.headOption match {
      case Some("plans") =>
        val outDir = args(1)
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
        val names = if (args.length > 2) args(2).split(",").toSeq
          else graft.SparkEntry.queries.keys.toSeq.sorted
        graft.queries.VectorSearch.prewarmStores(spark, sfDir)
        graft.queries.KeywordQueries.prewarmIndexes(spark, sfDir)
        names.foreach { n =>
          graft.SparkEntry.queries.get(n) match {
            case None => System.err.println(s"[plans] no such query: $n")
            case Some(fn) =>
              try {
                val df = fn(spark, sfDir)
                val txt = df.queryExecution.explainString(
                  org.apache.spark.sql.execution.FormattedMode)
                java.nio.file.Files.writeString(
                  java.nio.file.Paths.get(s"$outDir/$n.txt"), txt)
                System.err.println(s"[plans] wrote $n")
              } catch { case e: Throwable =>
                System.err.println(s"[plans] $n FAILED: ${e.toString.take(200)}")
              }
              spark.catalog.clearCache()
          }
        }
      case Some("jobs") =>
        val names = args(1).split(",").toSeq
        graft.queries.VectorSearch.prewarmStores(spark, sfDir)
        graft.queries.KeywordQueries.prewarmIndexes(spark, sfDir)
        names.foreach { n =>
          val fn = graft.SparkEntry.queries(n)
          // warm run 1 (codegen/classloading), measure run 2 — matches
          // Bench's min-of-3 which reports the warmed number
          try { fn(spark, sfDir).count(); () } catch { case _: Throwable => () }
          spark.catalog.clearCache(); System.gc()
          val jobs = new java.util.concurrent.ConcurrentHashMap[Int, J]()
          val listener = new SparkListener {
            override def onJobStart(e: SparkListenerJobStart): Unit = {
              val p = e.properties
              val desc = Option(p).flatMap(pp =>
                Option(pp.getProperty("spark.job.description"))).getOrElse("")
              val site = Option(p).flatMap(pp =>
                Option(pp.getProperty("callSite.short"))).getOrElse("")
              jobs.put(e.jobId, J(e.jobId, desc, site, System.nanoTime()))
            }
            override def onJobEnd(e: SparkListenerJobEnd): Unit = {
              Option(jobs.get(e.jobId)).foreach(_.end = System.nanoTime())
            }
          }
          spark.sparkContext.addSparkListener(listener)
          val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
          val compileNs0 = CodeGenerator.compileTime
          val t0 = System.nanoTime()
          val err = try { fn(spark, sfDir).count(); None }
            catch { case e: Throwable => Some(e.toString.take(200)) }
          val wall = (System.nanoTime() - t0) / 1e9
          val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
          val compileMs = (CodeGenerator.compileTime - compileNs0) / 1e6
          // listener bus is async — give it a beat to drain
          Thread.sleep(400)
          spark.sparkContext.removeSparkListener(listener)
          import scala.jdk.CollectionConverters._
          val js = jobs.values().asScala.toSeq.sortBy(_.id)
          val jobSum = js.filter(_.end > 0).map(j => (j.end - j.start) / 1e9).sum
          println(f"== $n wall=$wall%.3f s jobs=${js.size} jobSum=$jobSum%.3f s" +
            f" compiles=$compiles compile_ms=$compileMs%.0f" +
            err.map(e => s" ERR=$e").getOrElse(""))
          js.foreach { j =>
            val d = if (j.end > 0) (j.end - j.start) / 1e9 else -1.0
            if (d > 0.02)
              println(f"   job ${j.id}%4d ${d}%7.3f s  ${j.site.take(60)}%-60s ${j.desc.take(60)}")
          }
          spark.catalog.clearCache(); System.gc()
        }
      case _ =>
        System.err.println("usage: OptProbe plans <outDir> [names] | jobs <names>")
    }
    spark.stop()
  }
}
