package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[SessionCache]]'s eviction callback: every value that leaves the map
  * is handed to it once, after the map's lock is released.
  */
class SessionCacheSpec extends AnyFunSuite {
  import TestSpark._

  /** A cache of two entries whose callback records each value it is
    * given and whether another thread could take the cache's lock
    * meanwhile (an invalidation that matches nothing).
    */
  private final class Recorded {
    val evicted = scala.collection.mutable.ArrayBuffer.empty[String]
    var blocked = false
    lazy val cache: SessionCache[String] = new SessionCache[String](2, { v =>
      val reader = new Thread(() => cache.invalidate("no such scope"))
      reader.start()
      reader.join(5000)
      blocked ||= reader.isAlive
      evicted.synchronized(evicted += v): Unit
    })
  }

  test("the LRU bound, a drop and a lost race each hand a value over once, outside the lock") {
    val r = new Recorded
    r.cache.getOrElseUpdate(spark, "a", 1)("a1")
    r.cache.getOrElseUpdate(spark, "a", 2)("a2")
    r.cache.getOrElseUpdate(spark, "a", 1)("unused") // a1 is now the most recent
    r.cache.getOrElseUpdate(spark, "b", 1)("b1")
    assert(r.evicted == Seq("a2"), "the least recently used entry goes")
    // a racer that resolved while another put first loses its value;
    // the first put evicts a1
    assert(r.cache.getOrElseUpdate(spark, "c", 1) {
      r.cache.getOrElseUpdate(spark, "c", 1)("c-first")
      "c-second"
    } == "c-first")
    assert(r.evicted.contains("c-second"))
    r.cache.invalidate("")
    assert(r.evicted.toSet == Set("a1", "a2", "b1", "c-first", "c-second"))
    assert(r.evicted.size == r.evicted.toSet.size, "each value once")
    assert(!r.blocked, "a reader of the cache waited on an eviction callback")
  }
}
