package graft

import org.apache.spark.sql.SparkSession

/** A bounded, least-recently-used map of values resolved under one Spark
  * session, each filed under a path `scope` — the one cache shape behind
  * [[ParquetIO]]'s relations, [[graft.ops.VersionedStore]]'s state unions
  * and [[PreparedPlans]].
  *
  * Keys carry a per-session token that can NEVER collide across the JVM
  * lifetime (`System.identityHashCode` can coincide between a dead and a
  * live session, which would serve a value resolved under another
  * session's conf): first use assigns a UUID, weakly keyed so the
  * mapping itself never pins a dead session. A dead session's entries
  * age out through the LRU bound, so the footprint is capped whatever
  * the session churn, and eviction is one entry at a time (a wholesale
  * clear would be a latency cliff where every entry re-resolves at once).
  */
final class SessionCache[V <: AnyRef](maxEntries: Int) {
  private val map =
    new java.util.LinkedHashMap[(String, String, Any), V](64, 0.75f,
      /* accessOrder = */ true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, String, Any), V]): Boolean =
        size() > maxEntries
    }

  /** The value filed under (`scope`, `key`) in this session; on a miss,
    * `resolve` runs OUTSIDE the lock (resolution does real I/O, and a
    * concurrent resolver of another entry must not wait on it) and its
    * value is kept. Two racers on one entry both resolve and the last
    * put wins, so only cache values that are equivalent whoever
    * resolves them. A `resolve` that throws keeps nothing.
    */
  def getOrElseUpdate(spark: SparkSession, scope: String, key: Any)(resolve: => V): V = {
    val k = (SessionCache.token(spark), scope, key)
    val hit = map.synchronized(map.get(k))
    if (hit != null) hit
    else {
      val v = resolve
      map.synchronized(map.put(k, v)): Unit
      v
    }
  }

  /** Drop every entry (all sessions) whose scope starts with `prefix`. */
  def invalidate(prefix: String): Unit = map.synchronized {
    map.keySet().removeIf(_._2.startsWith(prefix)): Unit
  }
}

object SessionCache {
  private val tokens = new java.util.WeakHashMap[SparkSession, String]()

  private def token(spark: SparkSession): String = tokens.synchronized {
    val hit = tokens.get(spark)
    if (hit != null) hit
    else {
      val id = java.util.UUID.randomUUID().toString
      tokens.put(spark, id)
      id
    }
  }
}
