package graft.tools

import org.apache.spark.sql.functions._

/** Scratch probe main: drives the public library surface end-to-end —
  * used by the verification workflow, not by the driver. Currently:
  * prefix filtering in ngramJaccardPairs (timing + candidate-pair count
  * vs the unfiltered inverted-index join it replaced).
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val spark = ProbeHarness.session()
    ProbeHarness.warmUp(spark)
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.1")
    val t = sys.env.getOrElse("SPARK_GRAFT_PROBE_T", "0.2").toDouble

    // candidate-pair counts: full df>1-pruned inverted index (what the
    // pre-prefix implementation joined on) vs the rarest-first prefix index
    val inv = docs
      .select(col("doc_id").as("id"), graft.ops.Dedup.wordShingles(col("text"), 3).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("id"), size(col("sh")).as("sz"), explode(col("sh")).as("s"))
      .select(col("id"), col("sz"), xxhash64(col("s")).as("shingle"))
      .persist()
    val dfreq = inv.groupBy(col("shingle")).agg(count(lit(1)).as("docfreq"))
    val full = inv.join(dfreq.filter(col("docfreq") > 1), "shingle")
      .select(col("id"), col("shingle"))
    val prefix = graft.ops.Dedup.prefixIndex(inv, t)
    def candCount(ix: org.apache.spark.sql.DataFrame): Long =
      ix.as("x").join(ix.as("y"),
          col("x.shingle") === col("y.shingle") && col("x.id") < col("y.id"))
        .select(col("x.id"), col("y.id")).distinct().count()
    // the shipped candidate generation — the SAME ppjoinCandidates the
    // library runs, so the measured formula cannot drift from it
    val filtered = graft.ops.Dedup.ppjoinCandidates(prefix, prefix, t,
      col("x.id") < col("y.id"), col("x.id"), col("y.id")).count()
    println(s"ngram_jaccard sf0.1 t=$t candidates: full-index=${candCount(full)} " +
      s"prefix=${candCount(prefix)} prefix+len+pos=$filtered")
    inv.unpersist()

    for (i <- 1 to 3) {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val n = graft.ops.Dedup.ngramJaccardPairs(docs, "doc_id", "text", t).count()
      println(f"ngram_jaccard sf0.1 run $i: ${(System.nanoTime() - t0) / 1e9}%.2f s, $n pairs")
    }

    // phase breakdown (cold cache each phase-set); the verify phase here
    // deliberately uses the OLD array_intersect/array_union composition so
    // its cost stays measurable against the jaccard_sorted merge scan the
    // library now uses
    {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      spark.catalog.clearCache()
      def time[A](label: String)(f: => A): A = {
        val t0 = System.nanoTime(); val r = f
        println(f"phase $label: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
      }
      val dd = time("shingle+persist") {
        val d = docs.select(col("doc_id").as("id"), graft.ops.Dedup.wordShingles(col("text"), 3).as("sh"))
          .filter(size(col("sh")) > 0).persist()
        d.count(); d
      }
      val inv = dd.select(col("id"), size(col("sh")).as("sz"), explode(col("sh")).as("s"))
        .select(col("id"), col("sz"), xxhash64(col("s")).as("shingle"))
      val dfreq = inv.groupBy(col("shingle")).agg(count(lit(1)).as("docfreq"))
      val prefix = time("prefix build+persist") {
        val p = inv.join(dfreq, "shingle")
          .withColumn("rk", row_number().over(Window.partitionBy(col("id")).orderBy(col("docfreq"), col("shingle"))))
          .filter(col("rk") <= col("sz") - ceil(lit(t) * col("sz") - lit(1e-9)) + 1)
          .filter(col("docfreq") > 1)
          .select(col("id"), col("shingle")).persist()
        p.count(); p
      }
      val cand = time("cand self-join+distinct") {
        val c = prefix.as("x").join(prefix.as("y"),
            col("x.shingle") === col("y.shingle") && col("x.id") < col("y.id"))
          .select(col("x.id").as("id_a"), col("y.id").as("id_b")).distinct().persist()
        c.count(); c
      }
      time("verify arrays") {
        cand.join(dd.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
          .join(dd.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
          .withColumn("jaccard",
            size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
              size(array_union(col("sh_a"), col("sh_b"))))
          .filter(col("jaccard") >= t).count()
      }
    }

    // round 6: the hybrid lexical leg — batch BM25 (ONE corpus scan for
    // the whole question batch) vs the per-question bm25 loop it
    // replaces, plus a plan audit: every join in the batch path must be
    // a broadcast (the stats/df and (qid,term) sides are tiny), never a
    // sort of corpus rows.
    {
      spark.catalog.clearCache()
      import spark.implicits._
      val qs = (0 until 16).map(i => (i.toLong, Seq("spark", "vector", "merge", "window")
        .drop(i % 3)))
      val qt = qs.flatMap { case (q, ts) => ts.map((q, _)) }.toSeq.toDF("__qid2", "__term")
      val t0 = System.nanoTime()
      val batch = graft.ops.Keyword.bm25BatchRank(docs, "doc_id", "text", qt,
        topKPerQuery = 20)
      val nBatch = batch.count()
      val tBatch = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val nLoop = qs.map { case (_, ts) =>
        graft.ops.Keyword.bm25(docs, "doc_id", "text", ts, topK = 20).count()
      }.sum
      val tLoop = (System.nanoTime() - t1) / 1e9
      println(f"bm25 16-question batch: batchRank $tBatch%.2f s ($nBatch rows) vs per-question loop $tLoop%.2f s ($nLoop rows) — ${tLoop / tBatch}%.1fx")
      // (the returned frame is checkpoint-materialized, so its plan is a
      // LocalTableScan — join shape is pinned in code by the explicit
      // broadcast() on the df and (qid, term) sides, which is binding)
    }

    // round 6: SQ8 quantization — the claimed scan-IO win, measured.
    // Writes the float store and the quantized-columns projection as
    // separate parquet dirs (what each pass actually reads) and compares
    // on-disk bytes + min-of-3 query times.
    {
      import spark.implicits._
      import scala.jdk.CollectionConverters._
      def dirBytes(p: String): Long =
        java.nio.file.Files.walk(java.nio.file.Paths.get(p)).iterator().asScala
          .filter(java.nio.file.Files.isRegularFile(_))
          .map(java.nio.file.Files.size(_)).sum
      val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.1")
        .select($"vec_id", $"embedding")
      val base = java.nio.file.Files.createTempDirectory("sq8probe").toString
      emb.write.parquet(s"$base/float")
      val quant = graft.ops.Quantize.withQuantized(emb, "embedding")
      quant.select($"vec_id", $"embedding_q", $"embedding_qmin",
          $"embedding_qscale", $"embedding_qnorm")
        .write.parquet(s"$base/q")
      quant.write.parquet(s"$base/full") // the real store: both layouts
      println(f"SQ8 bytes sf0.1: float-store ${dirBytes(s"$base/float")}%10d | " +
        f"coarse-cols ${dirBytes(s"$base/q")}%10d " +
        f"(${dirBytes(s"$base/q").toDouble / dirBytes(s"$base/float")}%.2fx)")
      val store = spark.read.parquet(s"$base/full")
      val qv = emb.filter($"vec_id" === 0).select($"embedding").head().getSeq[Float](0).toArray
      def minOf3(f: => Long): Double =
        (1 to 3).map { _ =>
          val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
        }.min
      val tExact = minOf3(graft.ops.Similarity.knn(
        store.filter($"vec_id" =!= 0).select($"vec_id", $"embedding"),
        "embedding", qv, 10).count())
      val tQuant = minOf3(graft.ops.Quantize.knnQuantizedRescore(
        store.filter($"vec_id" =!= 0), "vec_id", "embedding", qv, 10).count())
      println(f"SQ8 sf0.1 min-of-3: exact knn $tExact%.2f s | coarse+rescore $tQuant%.2f s")
    }
    spark.stop()
  }
}
