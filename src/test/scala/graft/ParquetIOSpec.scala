package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.VersionedStore

/** The immutable-relation cache's hygiene contract (round 19): hits are
  * per (session, path); vacuum invalidates reclaimed segments so a
  * refactor of the write-once discipline can never silently serve a
  * stale file index; invalidation is prefix-exact.
  */
class ParquetIOSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def freshTable(name: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"pio-$name").toString
    s"$dir/t"
  }

  test("repeated reads of an immutable path return the cached relation") {
    val t = freshTable("hit")
    VersionedStore.append(spark, t, Seq((1L, "a")).toDF("id", "v"))
    val seg = VersionedStore.currentState(spark, t).get.segments.head
    val d1 = ParquetIO.readImmutable(spark, s"$t/$seg")
    val d2 = ParquetIO.readImmutable(spark, s"$t/$seg")
    assert(d1 eq d2)
  }

  test("sessions do not share cache entries (sessionUUID keying)") {
    val t = freshTable("sess")
    VersionedStore.append(spark, t, Seq((1L, "a")).toDF("id", "v"))
    val seg = VersionedStore.currentState(spark, t).get.segments.head
    val d1 = ParquetIO.readImmutable(spark, s"$t/$seg")
    val s2 = spark.newSession()
    val d2 = ParquetIO.readImmutable(s2, s"$t/$seg")
    assert(!(d1 eq d2))
    assert(d2.sparkSession eq s2)
    // and the second session's entry is itself cached
    assert(ParquetIO.readImmutable(s2, s"$t/$seg") eq d2)
  }

  test("vacuum invalidates reclaimed segments — a read re-resolves and fails loudly instead of serving the stale index") {
    val t = freshTable("vac")
    VersionedStore.append(spark, t, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val deadSeg = VersionedStore.currentState(spark, t).get.segments.head
    // populate the cache for the segment that is about to become dead
    assert(ParquetIO.readImmutable(spark, s"$t/$deadSeg").count() == 2)
    // merge rewrites the segment into a NEW one; the old becomes garbage
    VersionedStore.merge(spark, t, Seq((1L, "A")).toDF("id", "v"), "id")
    val reclaimed = VersionedStore.vacuum(spark, t, graceMs = 0L)
    assert(reclaimed.exists(_.endsWith(deadSeg)))
    // the cached relation for the deleted directory must be GONE: a
    // fresh resolution of the deleted path fails loudly (no such path),
    // which is the contract — never a silent answer from a stale index
    val e = intercept[Exception] {
      ParquetIO.readImmutable(spark, s"$t/$deadSeg").count()
    }
    assert(e.getMessage != null)
    // and the live table still reads fine through the manifest
    assert(VersionedStore.read(spark, t).get.count() == 2)
  }

  test("invalidate removes exactly the matching prefix") {
    val t = freshTable("inv")
    VersionedStore.append(spark, t, Seq((1L, "a")).toDF("id", "v"))
    val seg = VersionedStore.currentState(spark, t).get.segments.head
    val kept = ParquetIO.readImmutable(spark, s"$t/$seg")
    ParquetIO.invalidate(s"$t/some-other-prefix")
    assert(ParquetIO.readImmutable(spark, s"$t/$seg") eq kept)
    ParquetIO.invalidate(s"$t/$seg")
    assert(!(ParquetIO.readImmutable(spark, s"$t/$seg") eq kept))
  }

  test("VersionedStore.read returns one frame per committed state and session") {
    val t = freshTable("state")
    VersionedStore.append(spark, t, Seq((1L, "a")).toDF("id", "v"))
    val r1 = VersionedStore.read(spark, t).get
    assert(VersionedStore.read(spark, t).get eq r1)
    assert(!(VersionedStore.read(spark.newSession(), t).get eq r1))
    VersionedStore.append(spark, t, Seq((2L, "b")).toDF("id", "v"))
    val r2 = VersionedStore.read(spark, t).get
    assert(!(r2 eq r1) && r2.count() == 2 && r1.count() == 1)
    // a compaction is a new state; vacuum then deletes the segments r2
    // scans, and the compacted state still reads
    assert(VersionedStore.compact(spark, t)._2 > 0)
    assert(VersionedStore.vacuum(spark, t, graceMs = 0L).nonEmpty)
    assert(VersionedStore.read(spark, t).get.as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
  }
}
