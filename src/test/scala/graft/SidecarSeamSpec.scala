package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Dedup, Hnsw, Ingest, Ivf, Keyword, Pq, Profile, Quantize, Sampling,
  SidecarRegistry, Sketch, VectorServe, VersionedStore}

/** Every store-mutating seam against every sidecar kind in
  * [[SidecarRegistry.kinds]]: after each seam, each registered kind
  * serves through its stamp-guarded read path and its stamp equals the
  * store version. The seams run in sequence on one store carrying every
  * kind; a kind a seam leaves broken is reported and registered afresh,
  * so each later seam is judged on its own. Plus the fault cases: a
  * damaged `_stats` at an append seam heals through a loud rebuild, and
  * a rebuild that throws after a rewrite leaves the sidecar loudly stale
  * while the committed rewrite stands.
  */
class SidecarSeamSpec extends AnyFunSuite {
  import SidecarSeamSpec.Fixture
  import TestSpark._
  import spark.implicits._

  private val dim = 8

  /** Store rows `lo until hi`: id, text, an 8-dim embedding, a length
    * and a sampling weight.
    */
  private def rows(lo: Int, hi: Int, tag: String = ""): DataFrame =
    (lo until hi).map { i =>
      (i.toLong, s"doc$i word${i % 7} token${i % 11} shared words $tag".trim,
        (0 until dim).map(j => math.sin(i * 0.7 + j * 1.3).toFloat),
        (i * 37L) % 1000 + 1, 1L + i % 9)
    }.toDF("id", "text", "embedding", "len", "w")

  private lazy val probe = rows(0, 3)

  private val fixtures: Map[String, Fixture] = Map(
    "lexical index" -> Fixture(
      (t, p) => Keyword.registerLexicalIndex(spark, t, "id", "text", p),
      (t, p) => Keyword.bm25Indexed(spark, p, Seq("word1"), store = Some(t)).collect(): Unit),
    "minhash sidecar" -> Fixture(
      (t, p) => Dedup.registerMinhashSidecar(spark, t, "id", "text", p),
      (t, p) => Dedup.nearDupAgainstStore(spark, probe, "id", "text", t, p, 0.5)
        .collect(): Unit),
    "srp sidecar" -> Fixture(
      (t, p) => Dedup.registerSrpSidecar(spark, t, "id", "embedding", p),
      (t, p) => Dedup.embNearDupAgainstStore(spark, probe, "id", "embedding", t, p, 0.9)
        .collect(): Unit),
    "hll sidecar" -> Fixture(
      (t, p) => Sketch.registerHllSidecar(spark, t, "id", "text", p),
      (t, p) => Sketch.estimateFromSidecar(spark, t, p).collect(): Unit),
    "bloom sidecar" -> Fixture(
      (t, p) => Sketch.registerBloomSidecar(spark, t, "id", "text", p),
      (t, p) => Sketch.probeBloomSidecar(spark, t, p, probe, "text").collect(): Unit),
    "hnsw sidecar" -> Fixture(
      (t, p) => Hnsw.registerHnswSidecar(spark, t, "id", "embedding", p),
      (t, _) => assert(VectorServe.route(spark, t) == VectorServe.Route.Hnsw)),
    "fingerprint sidecar" -> Fixture(
      (t, p) => Profile.registerFingerprintSidecar(spark, t, Seq("id", "text"), p),
      (t, p) => Profile.storeFingerprint(spark, t, p).collect(): Unit),
    "sample sidecar" -> Fixture(
      (t, p) => Sampling.registerSampleSidecar(spark, t, "id", "w", k = 5, seed = "s",
        path = p),
      (t, p) => Sampling.maintainedWeightedSample(spark, t, p).collect(): Unit),
    "histogram sidecar" -> Fixture(
      (t, p) => Sketch.registerHistogramSidecar(spark, t, "id", "len", p),
      (t, p) => Sketch.maintainedHistogram(spark, t, p).collect(): Unit))

  private def labels: Seq[String] = SidecarRegistry.kinds.map(_.label)

  /** A fresh store of 40 rows with every kind registered; returns the
    * table and each kind's sidecar path.
    */
  private def storeWithEveryKind(name: String): (String, Map[String, String]) = {
    val missing = labels.filterNot(fixtures.contains)
    assert(missing.isEmpty, s"no registration/read fixture for kinds: $missing")
    val root = Files.createTempDirectory(name).toString
    val table = s"$root/store"
    VersionedStore.append(spark, table, rows(10, 50))
    val paths = labels.map(l => l -> s"$root/${l.replace(' ', '_')}").toMap
    labels.foreach(l => fixtures(l).register(table, paths(l)))
    (table, paths)
  }

  private def stamp(path: String): String =
    Try(graft.Fs.readString(spark, s"$path/_stats").trim.split(" ").last)
      .getOrElse("(no _stats)")

  /** What is wrong with each kind now: its stamp behind the store, or
    * its read path refusing. Empty when every kind is fresh and serves.
    */
  private def problems(table: String, paths: Map[String, String]): Seq[(String, String)] = {
    val v = s"v${VersionedStore.currentState(spark, table).get.version}"
    labels.flatMap { l =>
      val st = stamp(paths(l))
      val staleStamp = if (st == v) None else Some(s"stamp $st, store $v")
      val refused = Try(fixtures(l).serve(table, paths(l))) match {
        case Success(_) => None
        case Failure(e) => Some(s"read refused: ${e.getMessage}")
      }
      (staleStamp ++ refused).headOption.map(l -> _)
    }
  }

  /** The WARN lines `body` makes the registry log, caught by an appender
    * on the root logger that is removed again afterwards.
    */
  private def registryWarnings[T](body: => T): (T, Seq[String]) = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("sidecar-seam-spec", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLoggerName == SidecarRegistry.getClass.getName && e.getLevel == Level.WARN)
          seen.add(e.getMessage.getFormattedMessage): Unit
    }
    appender.start()
    root.addAppender(appender, null, null)
    ctx.updateLoggers()
    try {
      val result = body
      (result, seen.asScala.toSeq)
    } finally {
      root.removeAppender(appender.getName)
      ctx.updateLoggers()
      appender.stop()
    }
  }

  test("every seam keeps every registered sidecar kind fresh and serving") {
    val (table, paths) = storeWithEveryKind("sidecar-seams")
    assert(problems(table, paths).isEmpty, "fresh registrations must serve")
    val seams: Seq[(String, () => Unit)] = Seq(
      "append" -> (() => Ingest.appendRespectingLayout(spark, table, rows(50, 60)): Unit),
      "merge" -> (() => Ingest.mergeRespectingLayout(spark, table,
        rows(55, 65, "merged"), "id"): Unit),
      "delete" -> (() => Ingest.deleteRespectingLayout(spark, table, col("id") < 13): Unit),
      "deleteKeys" -> (() => Ingest.deleteKeysRespectingLayout(spark, table,
        Seq(20L, 21L).toDF("id"), "id"): Unit),
      "compactTable" -> (() => Ingest.compactTable(spark, table): Unit),
      // an out-of-band append leaves every stamp behind: the rewrite
      // cannot prove row preservation and must reconcile or rebuild
      "compactTable over an out-of-band append" -> { () =>
        VersionedStore.append(spark, table, rows(70, 75))
        Ingest.compactTable(spark, table): Unit
      },
      "evolveSchema" -> (() => Ingest.evolveSchema(spark, table,
        Seq("extra" -> lit(1))): Unit),
      "indexStore" -> (() => Ivf.indexStore(spark, table, "id", "embedding", k = 2): Unit),
      "quantizeStore" -> (() => Quantize.quantizeStore(spark, table, "embedding")),
      "pqStore" -> (() => Pq.pqStore(spark, table, "embedding", m = 4, ncent = 4): Unit))
    val failures = seams.flatMap { case (seam, run) =>
      run()
      val broken = problems(table, paths)
      // re-register what the seam broke, so the next seam is judged alone
      broken.foreach { case (l, _) => fixtures(l).register(table, paths(l)) }
      broken.map { case (l, why) => s"$seam / $l: $why" }
    }
    assert(failures.isEmpty, failures.mkString("\n", "\n", ""))
  }

  test("a damaged _stats at an append seam heals through a loud rebuild, for every kind") {
    val (table, paths) = storeWithEveryKind("sidecar-damaged")
    labels.foreach(l => graft.Fs.writeString(spark, s"${paths(l)}/_stats", "damaged"))
    val (_, warned) = registryWarnings {
      Ingest.appendRespectingLayout(spark, table, rows(50, 55))
    }
    labels.foreach { l =>
      assert(warned.exists(w => w.contains(s"incremental $l maintenance") &&
        w.contains("rebuilding")), s"$l: no loud rebuild in $warned")
    }
    assert(problems(table, paths).isEmpty)
  }

  test("a rebuild that throws after a rewrite leaves every kind loudly stale; the rewrite stands") {
    val (table, paths) = storeWithEveryKind("sidecar-rewrite-fault")
    val pre = VersionedStore.currentState(spark, table).get.version
    // each sidecar's directory is moved aside and a plain file put in its
    // place: the rewrite cannot read a stamp, so it rebuilds, and every
    // rebuild's write fails
    labels.foreach { l =>
      Files.move(Paths.get(paths(l)), Paths.get(paths(l) + ".aside"))
      Files.write(Paths.get(paths(l)), Array[Byte](1))
    }
    val (files, warned) = registryWarnings(Ingest.compactTable(spark, table))
    assert(files > 0, "the committed compaction must not fail")
    assert(VersionedStore.currentState(spark, table).get.version == pre + 1)
    labels.foreach { l =>
      assert(warned.exists(w => w.contains(s"post-rewrite $l rebuild") &&
        w.contains("left stale")), s"$l: not loudly stale in $warned")
      Files.delete(Paths.get(paths(l)))
      Files.move(Paths.get(paths(l) + ".aside"), Paths.get(paths(l)))
    }
    // the sidecars are back, stamped at the pre-rewrite version: every
    // read path refuses them as stale
    val stale = problems(table, paths).toMap
    labels.foreach { l =>
      assert(stale.get(l).exists(_.contains(s"stamp v$pre")), s"$l: $stale")
      assert(Try(fixtures(l).serve(table, paths(l))).isFailure, s"$l served stale")
    }
    // the next append's maintenance heals every kind
    Ingest.appendRespectingLayout(spark, table, rows(50, 55)): Unit
    assert(problems(table, paths).isEmpty)
  }
}

object SidecarSeamSpec {

  /** How the spec registers a kind on a store (table, sidecar path) and
    * reads it back through its stamp-guarded read path.
    */
  final case class Fixture(register: (String, String) => Unit,
                           serve: (String, String) => Unit)
}
