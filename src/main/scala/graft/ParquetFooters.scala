package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{DataType, StructType}

import scala.jdk.CollectionConverters._

/** Footer-statistics reads — the metadata-only min/max any parquet
  * writer already recorded per row group, surfaced so store operations
  * can SKIP whole segments without scanning a single data page (the
  * Delta-style file-skipping primitive, from the footers the files
  * already carry instead of a separate stats log).
  *
  * All reads here are footer-only: one small tail read per file, no
  * column data IO. A file lacking statistics for the column (older
  * writer, unsupported physical type) yields None and the caller falls
  * back to scanning — pruning is an optimization, never a correctness
  * dependency.
  */
object ParquetFooters {

  /** Closed [min, max] of a 32/64-bit integer `column` across every
    * parquet file under `dir` (recursive), from footers only.
    *
    * Returns None when any file lacks usable stats for the column —
    * a partial range would under-approximate and break pruning
    * soundness. Files (or row groups) whose column is entirely null
    * contribute nothing: null keys never equi-match, so they cannot
    * make a segment matchable. A directory where EVERY value is null
    * (or that has no data files) returns Some(Long.MaxValue,
    * Long.MinValue) — the empty range, disjoint from everything.
    */
  def longRange(spark: SparkSession, dir: String, column: String): Option[(Long, Long)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val files = Fs.listFilesRecursive(spark, dir)
      .map(_._1).filter(_.endsWith(".parquet"))
    var lo = Long.MaxValue
    var hi = Long.MinValue
    for (f <- files) {
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f), conf))
      try {
        for (block <- reader.getFooter.getBlocks.asScala) {
          block.getColumns.asScala.find(_.getPath.toDotString == column) match {
            case None => return None // column not in this file: no claim
            case Some(chunk) =>
              val st = chunk.getStatistics
              if (st == null || st.isEmpty) return None // no stats written
              if (st.hasNonNullValue) {
                val (mn, mx) = (st.genericGetMin, st.genericGetMax) match {
                  case (a: java.lang.Long, b: java.lang.Long) => (a.longValue, b.longValue)
                  case (a: java.lang.Integer, b: java.lang.Integer) =>
                    (a.longValue, b.longValue)
                  case _ => return None // non-integer physical type
                }
                if (mn < lo) lo = mn
                if (mx > hi) hi = mx
              } // all-null row group: contributes nothing, stays prunable
          }
        }
      } finally reader.close()
    }
    Some((lo, hi))
  }

  /** The data schema a Spark writer stamped into the footer of the first
    * data file under `dir` (recursive): the Spark row metadata entry,
    * which is what Spark's own schema inference reads (from one file,
    * schema merging being off). Partition columns live in the directory
    * names, not in the files, so they are not part of it. Passing this
    * schema to the reader skips the inference job.
    *
    * None when `dir` holds no data file or the file carries no Spark
    * schema; the caller then lets Spark infer (and fail loudly on a
    * directory without data).
    */
  def sparkSchema(spark: SparkSession, dir: String): Option[StructType] = {
    val p = new Path(dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return None
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val f = it.next().getPath
      val name = f.getName
      if (name.endsWith(".parquet") && !name.startsWith("_") && !name.startsWith(".")) {
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
        val json = try reader.getFooter.getFileMetaData.getKeyValueMetaData
          .get(SparkRowMetadataKey)
        finally reader.close()
        return Option(json).flatMap(j => scala.util.Try(DataType.fromJson(j)).toOption)
          .collect { case s: StructType => s }
      }
    }
    None
  }

  /** Footer key under which Spark's parquet writer records the row schema. */
  private val SparkRowMetadataKey = "org.apache.spark.sql.parquet.row.metadata"
}
