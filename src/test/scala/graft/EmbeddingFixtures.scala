package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Deterministic embedding fixtures for the specs. */
object EmbeddingFixtures {

  /** A clustered embedding table: `k` gaussian clusters of `perCluster`
    * points each (centers ~ N(0, sep²) per coordinate, points = center +
    * N(0, sigma²) jitter), fixed seed. This is the geometry IVF's
    * premise — locality — actually holds on: the synthetic near-uniform
    * `embeddings` parquet table shows the recall FLOOR (nprobe=1 ≈
    * 1/k, every cluster equally plausible), this fixture shows the
    * intended operating point (the true neighbors of a query share its
    * cluster, so small-nprobe recall is high). Returns (table, planted
    * centers) — the centers double as out-of-corpus query vectors.
    */
  def clusteredEmbeddings(spark: SparkSession, k: Int, perCluster: Int,
                          dim: Int, sep: Double = 5.0, sigma: Double = 0.3,
                          seed: Long = 7L): (DataFrame, Array[Array[Float]]) = {
    val rnd = new scala.util.Random(seed)
    val centers = Array.fill(k)(Array.fill(dim)((rnd.nextGaussian() * sep).toFloat))
    val pts = for (c <- 0 until k; i <- 0 until perCluster) yield
      ((c.toLong * perCluster + i,
        centers(c).map(v => v + (rnd.nextGaussian() * sigma).toFloat).toSeq))
    import spark.implicits._
    (pts.toDF("vec_id", "embedding"), centers)
  }
}
