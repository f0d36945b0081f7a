package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Cached reads of IMMUTABLE parquet directories (guide §6 "file listing"
  * / §7.3 driver-side planning cost).
  *
  * Every `spark.read.parquet(path)` call builds a fresh relation: it
  * re-lists the directory and re-infers the schema from a footer —
  * driver-side, single-threaded work that costs tens of milliseconds per
  * call locally and whole listing rounds on object stores. The engine's
  * two hottest read families are provably immutable once readable:
  *
  *  - [[graft.ops.VersionedStore]] segments — write-once directories; a
  *    committed segment is never modified (mutations write NEW segments
  *    and swap the manifest pointer), and vacuumed segments are never
  *    re-read (the manifest no longer references them; vacuum
  *    additionally [[invalidate]]s their entries as insurance);
  *  - the driver-generated testdata tables under the scale-factor
  *    directory, constant for a process lifetime.
  *
  * For those, the resolved DataFrame itself — logical relation, snapshot
  * file index, inferred schema — is reusable verbatim, so it is cached
  * per (session, path). Round-18 job attribution measured lifecycle
  * queries (CDC replay, incremental sidecar rows) spending ~half their
  * wall OUTSIDE Spark jobs on exactly this re-resolution: the same
  * store's segments re-listed and re-footer-read once per state read,
  * several state reads per batch.
  *
  * NOT for mutable paths (sidecar ledgers, streaming sinks, anything
  * rewritten in place): a cached relation pins the file list at first
  * read and would silently miss files added later. Callers own that
  * contract; only the two families above go through here.
  *
  * Cache hygiene (round 19): a [[SessionCache]] — keys carry a session
  * token unique for the JVM lifetime, eviction is true LRU, and entries
  * from stopped sessions age out through the same bound.
  */
object ParquetIO {
  // values are tiny (plan + file metadata), but a long-lived ingest JVM
  // touching millions of segments must not hoard plans for segments it
  // read once — least-recently-used wins stay, one-shot reads age out
  private val cache = new SessionCache[DataFrame](65536)

  /** The parquet directory at `path` as a cached, re-usable DataFrame.
    * First call resolves it exactly like `spark.read.parquet(path)`;
    * later calls in the same session return the identical relation with
    * zero driver I/O. Only call on paths whose CONTENTS never change
    * while readable (see object doc).
    */
  def readImmutable(spark: SparkSession, path: String): DataFrame =
    // two racers on the same path resolve twice and last-put wins — both
    // relations are equivalent (the directory is immutable)
    cache.getOrElseUpdate(spark, path, ())(spark.read.parquet(path))

  /** Drop every cached relation whose path starts with `prefix` (all
    * sessions) — called by the mutation-adjacent paths that delete or
    * replace files a cached file-index may still reference
    * ([[graft.ops.VersionedStore.vacuum]] on each reclaimed segment,
    * tests rewriting a fixture in place), so a future refactor of the
    * write-once discipline can never silently serve a stale index.
    */
  def invalidate(prefix: String): Unit = cache.invalidate(prefix)
}
