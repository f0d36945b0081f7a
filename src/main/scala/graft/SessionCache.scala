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
  *
  * `onEvict` sees every value that leaves the map — evicted by the LRU
  * bound, dropped by [[invalidate]] or [[evict]], or resolved by the
  * loser of a race — exactly once, after the map's lock is released, so
  * a value that holds resources (a persisted Dataset) can release them
  * without holding up every other reader of the cache.
  */
final class SessionCache[V <: AnyRef](maxEntries: Int, onEvict: V => Unit = (_: V) => ()) {
  private val map =
    new java.util.LinkedHashMap[(String, String, Any), V](64, 0.75f, /* accessOrder = */ true)

  /** The value filed under (`scope`, `key`) in this session; on a miss,
    * `resolve` runs OUTSIDE the lock (resolution does real I/O, and a
    * concurrent resolver of another entry must not wait on it) and its
    * value is kept. Two racers on one entry both resolve, the first put
    * wins and both get its value; the loser's goes to `onEvict`. A
    * `resolve` that throws keeps nothing.
    */
  def getOrElseUpdate(spark: SparkSession, scope: String, key: Any)(resolve: => V): V = {
    val k = (SessionCache.token(spark), scope, key)
    val hit = map.synchronized(map.get(k))
    if (hit != null) hit
    else {
      val v = resolve
      val (kept, gone) = map.synchronized {
        val won = map.putIfAbsent(k, v)
        if (won != null) (won, List(v))
        else {
          // past the bound, the least recently used entries go
          var eldest = List.empty[V]
          val it = map.values().iterator()
          while (map.size() > maxEntries) { eldest ::= it.next(); it.remove() }
          (v, eldest)
        }
      }
      gone.foreach(onEvict)
      kept
    }
  }

  /** Drop every entry (all sessions) whose scope starts with `prefix`. */
  def invalidate(prefix: String): Unit = drop((scope, _) => scope.startsWith(prefix))

  /** Drop every entry (all sessions) filed under exactly `scope` whose
    * key `stale` accepts.
    */
  def evict(scope: String)(stale: Any => Boolean): Unit =
    drop((s, key) => s == scope && stale(key))

  private def drop(p: (String, Any) => Boolean): Unit = map.synchronized {
    var gone = List.empty[V]
    val it = map.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (p(e.getKey._2, e.getKey._3)) { gone ::= e.getValue; it.remove() }
    }
    gone
  }.foreach(onEvict)
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
