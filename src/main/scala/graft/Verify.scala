package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query names — fast single-query
    // iteration (the driver always passes 2 args: the full dump)
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).headOption.map(_.split(",").toSet)
    val spark = Tables.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // same single-JVM hygiene as Bench: released caches and
      // checkpoint blocks are only reclaimed when a GC runs, and the
      // accumulated heap pressure measurably drags later queries
      spark.catalog.clearCache()
      System.gc()
    }
    // a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness
    def q(s: String): String = "\"" + Jsons.escape(s) + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
