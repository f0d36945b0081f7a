package graft.tools

import org.apache.spark.sql.functions._

/** THE round-probe entry point (round 18 — consolidates the ten
  * one-file `R*Probe` mains whose 40-line session/timer/listener
  * boilerplate repeated per round; their published evidence lives in
  * the committed `scaleprobe_*.log` files and SCALE.md rows).
  *
  * Usage: `runMain graft.tools.RoundProbe <suite>[,suite...] [runs]`
  *
  * Suites:
  *   - `r17-buckets`  lengthBucketBatches at 16× (mixed vs the
  *                    single-bucket single-reducer worst case)
  *   - `r17-ops`      datasetFingerprint / weightedSample /
  *                    datasetDiff at 16×
  *   - `r17-ledger`   constant 64k append onto 1-seg vs 16-seg store
  *                    (O(batch) maintenance) + full-rebuild contrast
  *   - `r18-ledger16` 16× corpus with a 1/16 append: maintenance cost
  *                    tracks the APPEND (same-size appends cost the
  *                    same on 1× and 16× stores; a 16×-smaller append
  *                    onto the SAME store costs ~16× less), and the
  *                    maintained checksum read is parts-sized
  *   - `r18-diff`     datasetDiff at a FIXED 16× corpus with 100-row
  *                    vs half-corpus divergence: the scan dominates
  *                    and the join output is the divergence set — no
  *                    divergence-quadratic term
  *   - `r18-stratum`  weightedSamplePerStratum under 90/10 stratum
  *                    skew at 1× and 16× — the two-phase
  *                    (stratum, partition) pre-filter must scale
  *                    ~linearly where the old single-exchange plan
  *                    put 90% of the corpus on one reducer
  *   - `r18-seamstack` the write-amplification honesty probe: the
  *                    cost of one 64k append with NO ledger sidecars
  *                    vs with fingerprint + sample + histogram all
  *                    registered — the full maintenance stack must
  *                    stay O(batch) (each ledger folds only the new
  *                    segment), and the probe prints what the stack
  *                    actually adds per append
  */
object RoundProbe {
  def main(args: Array[String]): Unit = {
    val suites = args.headOption
      .getOrElse("r18-ledger16,r18-diff,r18-stratum").split(",").toSeq
    val runs = args.drop(1).headOption.map(_.toInt).getOrElse(2)
    val spark = ProbeHarness.session()
    ProbeHarness.warmUp(spark)
    ProbeHarness.installShuffleListener(spark)
    def probe(label: String)(f: => Long): Unit =
      ProbeHarness.probe(spark, suites.mkString("+"), label, runs)(f): Unit
    def synth(n: Long) = ProbeHarness.synth(spark, n)
    val base = 1L << 20
    val cols = Seq("id", "s", "w")

    def mkStore(label: String, segments: Int, rowsPerSeg: Long): String = {
      val t = java.nio.file.Files.createTempDirectory(s"rp$label")
        .toString + "/store"
      (0 until segments).foreach { b =>
        graft.ops.VersionedStore.append(spark, t,
          synth(rowsPerSeg).withColumn("id", col("id") + lit(b * rowsPerSeg)))
      }
      graft.ops.Profile.registerFingerprintSidecar(spark, t, cols, s"$t/../fp")
      t
    }

    suites.foreach {
      case "r17-buckets" =>
        def plan(n: Long, tokensExpr: String): Long =
          graft.ops.Sampling.lengthBucketBatches(
              spark.range(n).select(col("id").as("key"),
                expr(tokensExpr).as("tok")),
              "key", "tok", quantum = 64, budget = 512)
            .groupBy(col("bucket_len"), col("batch_id"))
            .agg(count(lit(1)).as("n"), max(col("waste")).as("w"))
            .count()
        for (mult <- Seq(1L, 4L, 16L))
          probe(s"mixed 8-bucket ${mult}x (${base * mult} rows)") {
            plan(base * mult, "1 + id % 512")
          }
        for (mult <- Seq(1L, 4L, 16L))
          probe(s"single-bucket worst ${mult}x (${base * mult} rows)") {
            plan(base * mult, "256")
          }

      case "r17-ops" =>
        for (mult <- Seq(1L, 16L)) {
          val n = base * mult
          probe(s"datasetFingerprint ${mult}x (${n} rows)") {
            val r = graft.ops.Profile
              .datasetFingerprint(synth(n), cols).head()
            if (r.getLong(1) != 0L || r.getLong(2) != 0L) 1L else 0L
          }
          probe(s"weightedSample k=1000 ${mult}x (${n} rows)") {
            graft.ops.Sampling.weightedSample(synth(n), "id", "w", 1000, "p17")
              .count()
          }
          probe(s"datasetDiff near-equal ${mult}x (${n} rows)") {
            graft.ops.Profile.datasetDiff(synth(n),
              synth(n).filter(col("id") >= 100), cols).count()
          }
        }

      case "r17-ledger" =>
        val small = mkStore("S", 1, base)
        val big = mkStore("B", 16, base)
        val batchN = 64L << 10
        var off = 1L << 40
        for ((label, t) <- Seq("1-seg store" -> small, "16-seg store" -> big))
          probe(s"ledger append 64k batch onto $label") {
            val b = synth(batchN).withColumn("id", col("id") + lit(off))
            off += batchN
            graft.ops.Ingest.appendRespectingLayout(spark, t, b).toLong
          }
        probe("ledger full rebuild on 16-seg store (contrast)") {
          graft.ops.Profile.buildFingerprintSidecarForStore(spark, big, cols,
            s"$big/../fp")
          1L
        }

      case "r18-ledger16" =>
        // the VERDICT-prescribed shape: a 16× corpus receiving a 1/16
        // append — maintenance must cost the APPEND, not the corpus
        val s1 = mkStore("L1", 1, base)        // 1× corpus
        val s16 = mkStore("L16", 16, base)     // 16× corpus
        var off = 1L << 40
        def appendRows(t: String, n: Long): Long = {
          val b = synth(n).withColumn("id", col("id") + lit(off))
          off += n
          graft.ops.Ingest.appendRespectingLayout(spark, t, b).toLong
        }
        // same-size append (base = the 16× store's 1/16) onto both
        // stores: equal wall ⇒ cost tracks the append, not the corpus
        probe(s"ledger append ${base} rows onto 1x store (whole-corpus-sized)") {
          appendRows(s1, base)
        }
        probe(s"ledger append ${base} rows onto 16x store (1/16 of corpus)") {
          appendRows(s16, base)
        }
        // a 16×-smaller append onto the SAME 16× store ⇒ ~16× less
        probe(s"ledger append ${base / 16} rows onto 16x store (1/256 of corpus)") {
          appendRows(s16, base / 16)
        }
        // the maintained checksum: a parts-sized read + fold, NOT a
        // corpus rescan — contrast with the direct recompute
        probe("storeFingerprint (maintained ledger read) on 16x store") {
          val r = graft.ops.Profile.storeFingerprint(spark, s16,
            s"$s16/../fp").head()
          if (r.getLong(1) != 0L || r.getLong(2) != 0L) 1L else 0L
        }
        probe("direct datasetFingerprint recompute on 16x store (contrast)") {
          val r = graft.ops.Profile.datasetFingerprint(
            graft.ops.VersionedStore.read(spark, s16).get, cols).head()
          if (r.getLong(1) != 0L || r.getLong(2) != 0L) 1L else 0L
        }

      case "r18-diff" =>
        // FIXED 16× corpus, varying divergence: wall must be
        // scan-dominated (~flat) while the reported rows track the
        // divergence — no divergence-proportional blowup beyond the
        // join's own output
        val n = base * 16
        probe(s"datasetDiff 16x corpus, 100-row divergence") {
          graft.ops.Profile.datasetDiff(synth(n),
            synth(n).filter(col("id") >= 100), cols).count()
        }
        probe(s"datasetDiff 16x corpus, half-corpus divergence") {
          graft.ops.Profile.datasetDiff(synth(n),
            synth(n).filter(col("id") % 2 === 0), cols).count()
        }

      case "r18-stratum" =>
        // 90/10 two-strata skew: the old single-exchange plan put the
        // dominant stratum's every row on ONE reducer; the two-phase
        // (stratum, partition) pre-filter must stay ~linear 1×→16×
        def skewed(n: Long) = spark.range(n).select(col("id"),
          when(col("id") % 10 < 9, lit("en")).otherwise(lit("de")).as("g"),
          expr("1 + id % 512").as("w"))
        for (mult <- Seq(1L, 16L)) {
          val n = base * mult
          probe(s"weightedSamplePerStratum k=1000 90/10 skew ${mult}x (${n} rows)") {
            graft.ops.Sampling.weightedSamplePerStratum(
              skewed(n), "g", "id", "w", 1000, "p18").count()
          }
        }

      case "r18-seamstack" =>
        val batchN = 64L << 10
        def freshStore(label: String): String = {
          val t = java.nio.file.Files.createTempDirectory(s"rpss$label")
            .toString + "/store"
          graft.ops.VersionedStore.append(spark, t, synth(base))
          t
        }
        var off = 1L << 41
        def appendOnce(t: String): Long = {
          val b = synth(batchN).withColumn("id", col("id") + lit(off))
          off += batchN
          graft.ops.Ingest.appendRespectingLayout(spark, t, b).toLong
        }
        val bare = freshStore("bare")
        probe(s"64k append, NO ledger sidecars") { appendOnce(bare) }
        val full = freshStore("full")
        graft.ops.Profile.registerFingerprintSidecar(spark, full, cols,
          s"$full/../fp")
        graft.ops.Sampling.registerSampleSidecar(spark, full, "id", "w",
          k = 100, seed = "ss", path = s"$full/../smp")
        graft.ops.Sketch.registerHistogramSidecar(spark, full, "id", "w",
          s"$full/../hist")
        probe(s"64k append, fingerprint+sample+histogram ledgers") {
          appendOnce(full)
        }
        // and the reads those ledgers buy, at their maintained cost
        probe("maintained reads: checksum + sample + p50/p99 buckets") {
          val f = graft.ops.Profile.storeFingerprint(spark, full,
            s"$full/../fp").head()
          val n = graft.ops.Sampling.maintainedWeightedSample(spark, full,
            s"$full/../smp").count()
          val q = graft.ops.Sketch.quantilesFromHistogram(
            graft.ops.Sketch.maintainedHistogram(spark, full, s"$full/../hist"),
            Seq(500, 990)).count()
          f.getLong(0) + n + q
        }

      case "r18-reconcile" =>
        // merge maintenance on a 16-segment store, ISOLATED from the
        // merge's own copy-on-write cost: the same 1-row merge against
        // a bare twin store vs a fingerprint-ledgered one — the delta
        // is what the seam's ledger maintenance adds. The reconcile
        // path rescans ONLY the rewritten segment; the full rebuild it
        // replaced rescans the corpus.
        def mk16(register: Boolean): String = {
          val t = java.nio.file.Files.createTempDirectory("rprec")
            .toString + "/store"
          (0 until 16).foreach { b =>
            graft.ops.VersionedStore.append(spark, t,
              synth(base).withColumn("id", col("id") + lit(b * base)))
          }
          if (register)
            graft.ops.Profile.registerFingerprintSidecar(spark, t, cols,
              s"$t/../fp")
          t
        }
        val bare16 = mk16(register = false)
        val led16 = mk16(register = true)
        var victim = 5L
        def mergeOne(t: String): Long = {
          val r = graft.ops.Ingest.mergeRespectingLayout(spark, t,
            synth(1).withColumn("id", lit(victim))
              .withColumn("s", lit("MERGED")), "id").toLong.max(1L)
          victim += 1
          r
        }
        probe("merge 1 row into 16x store, NO ledger (merge baseline)") {
          mergeOne(bare16)
        }
        probe("merge 1 row into 16x store + ledger RECONCILE (delta = maintenance)") {
          mergeOne(led16)
        }
        probe("full ledger rebuild on the 16x store (the replaced path)") {
          graft.ops.Profile.buildFingerprintSidecarForStore(spark, led16, cols,
            s"$led16/../fp")
          1L
        }

      case other =>
        System.err.println(s"[RoundProbe] unknown suite: $other")
    }
  }
}
