package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Poor-man's transaction log for parquet store tables — the atomicity
  * the reference gets for free from Oracle (its S15 merge runs inside a
  * DB transaction, `src/server/utils/embedding.py:352-358`) rebuilt as a
  * versioned-manifest pointer over immutable segment directories, without
  * adopting a table format.
  *
  * Layout under one table directory:
  * {{{
  *   TABLE/seg-<uuid8>/part-*.parquet     immutable data segments
  *   TABLE/_manifests/m-<%016d>.json      {"version":N,"segments":[...]}
  * }}}
  *
  * The table's state IS the highest-numbered manifest; a segment is
  * visible only once a committed manifest lists it. That gives:
  *
  *  - '''Atomic commits''': a manifest is written to a temp name and
  *    renamed into its final `m-<version>` name — readers see the old
  *    complete state or the new complete state, never a half-written
  *    table. A crash before the rename leaves orphan files the next
  *    [[vacuum]] reclaims; the current state is untouched.
  *  - '''Optimistic concurrency''': the version number is the
  *    compare-and-swap token. [[commit]] re-reads the state and re-applies
  *    its transform when the target version was taken by a concurrent
  *    committer — so compaction needs NO writer quiescence: an append
  *    landing mid-compaction wins or forces a retry that preserves its
  *    segment (the retired-segment set is subtracted, not the whole list
  *    replaced). The publish is EXACT on both filesystem families: on
  *    HDFS rename to an existing file fails, and on a POSIX local FS
  *    hardlink creation fails with EEXIST atomically
  *    ([[graft.Fs.publishExclusive]]) — so a lost race is always
  *    detected, never a silent overwrite.
  *  - '''Snapshot reads''': [[compact]] retires segments from the
  *    manifest but does not delete them, so an in-flight reader holding
  *    the previous state keeps scanning valid files; [[vacuum]] deletes
  *    segments no longer referenced once old readers are done.
  *
  * At 100 TB scale: every state read is one small-directory listing plus
  * one tiny JSON read (no data I/O); appends touch only their own new
  * segment; compaction rewrites data once and swaps a pointer.
  */
object VersionedStore {

  /** A committed table state: the manifest version and its live segment
    * directory names (relative to the table path).
    */
  case class State(version: Long, segments: Seq[String])

  private def manifestDir(table: String): String = s"$table/_manifests"
  private def manifestPath(table: String, v: Long): String =
    f"${manifestDir(table)}/m-$v%016d.json"

  private def render(v: Long, segments: Seq[String], op: String): String =
    s"""{"version":$v,"op":"$op","segments":[${segments.map(s => "\"" + s + "\"").mkString(",")}]}"""

  /** The `op` field of a manifest, or "unknown" for manifests written
    * before operations were recorded (parse tolerates both directions —
    * old readers regex-extract only version/segments).
    */
  private def parseOp(json: String): String =
    "\"op\":\"([a-z]+)\"".r.findFirstMatchIn(json).map(_.group(1)).getOrElse("unknown")

  // we control the writer, so a regex parse of the two fields is exact
  private def parse(json: String): State = {
    val v = "\"version\":(\\d+)".r.findFirstMatchIn(json)
      .getOrElse(throw new IllegalStateException(s"bad manifest: $json")).group(1).toLong
    val segs = "\"segments\":\\[([^\\]]*)\\]".r.findFirstMatchIn(json)
      .getOrElse(throw new IllegalStateException(s"bad manifest: $json")).group(1)
    State(v, segs.split(",").toSeq.map(_.trim.stripPrefix("\"").stripSuffix("\"")).filter(_.nonEmpty))
  }

  private def listManifests(spark: SparkSession, table: String): Seq[String] =
    graft.Fs.list(spark, manifestDir(table))
      .filter(_.matches(".*/m-\\d{16}\\.json"))
      .sorted

  /** One scan per segment, unioned by name: Hive-partitioned segments
    * (e.g. an [[Ivf]]-clustered store, `cluster_id=N/` dirs inside each
    * segment) discover their partition columns per segment root — a
    * single multi-path read would reject them as "conflicting directory
    * structures" since each segment is its own discovery base. Catalyst
    * pushes filters through the Union into every child scan, so
    * partition pruning holds per segment; the plan carries one scan node
    * per segment, which compaction keeps bounded. The union is strict
    * (no missing columns): a store mixing partitioned and flat segments
    * must fail loudly — silently null-filling `cluster_id` would let a
    * cluster predicate prune away every row of the flat segments.
    */
  private def readState(spark: SparkSession, table: String, st: State): DataFrame =
    try readSegments(spark, table, st.segments)
    catch {
      case e: org.apache.spark.sql.AnalysisException =>
        // diagnose before blaming: only claim a mixed state (and point at
        // the repair) when the live segments genuinely disagree on layout
        // or column sets — a vacuumed-away path or engine-level analysis
        // failure must not send the operator to a no-op repair
        val mixed = scala.util.Try {
          st.segments.map(s => segPartitioned(spark, table, s)).distinct.size > 1 ||
            st.segments.map(s => segColumns(spark, table, s)).distinct.size > 1
        }.getOrElse(false)
        if (mixed)
          throw new IllegalStateException(
            s"live segments of $table carry mixed layouts/schemas: ${e.getMessage} — " +
              "run VersionedStore.repairMixedLayout(spark, table), then re-index " +
              "(Ivf.indexStore) if the table was cluster-partitioned.", e)
        else throw e
    }

  // one union frame per committed state: a state's segments are
  // immutable, so the frame [[read]] builds for it is reusable verbatim,
  // and a reader opening the store once per request (a chat question)
  // pays the union's analysis once per state. [[read]] drops a table's
  // older states when it reads a newer one, and [[vacuum]] the states
  // whose segments it reclaims; a dropped state's pins are released.
  private val stateFrames = new graft.SessionCache[StateFrame](1024, _.release())

  // the frames [[read]] handed out, by identity, to their state; an
  // entry lives as long as its state's [[stateFrames]] entry
  private val handedOut = new java.util.IdentityHashMap[DataFrame, StateFrame]()

  /** A committed state's frame, which [[pin]] may hold in memory. Once
    * released (its state dropped from [[stateFrames]]) it pins nothing
    * more; the frame itself still reads its segments.
    */
  private final class StateFrame(val frame: DataFrame) {
    // the segments' bytes on disk: a union of parquet relations is
    // estimated at its files' sizes
    private lazy val estimate = frame.queryExecution.optimizedPlan.stats.sizeInBytes
    private var asked = 0
    private var released = false
    handedOut.synchronized(handedOut.put(frame, this)): Unit

    // Spark's cache is shared by every session of the application and
    // matches plans by result, so whether the frame is cached is asked
    // of it, not remembered: another release of an equal plan may have
    // dropped the pin, and the next question puts it back
    private def cached: Boolean = frame.storageLevel != StorageLevel.NONE

    def pin(): Unit = synchronized {
      asked = math.min(asked + 1, 2)
      if (!released && asked == 2) {
        val limit = frame.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
        val fits = limit >= 0 && estimate <= limit
        val pinned = cached
        if (fits && !pinned) frame.persist(StorageLevel.MEMORY_AND_DISK)
        if (!fits && pinned) frame.unpersist(blocking = false)
      }
    }

    // a frame that never reached its second question (the loser of a
    // race to read the state) pinned nothing, and leaves an equal plan
    // that another frame pinned alone
    def release(): Unit = synchronized {
      released = true
      handedOut.synchronized(handedOut.remove(frame))
      if (asked == 2 && cached) frame.unpersist(blocking = false)
    }
  }

  /** Serve `frame` from memory from its second question on: when
    * `frame` is a frame [[read]] handed out (matched by identity, never
    * by plan, so a caller's own `spark.read.parquet` frame is never
    * pinned) and Spark's size estimate of it, about its segments' bytes
    * on disk, is at most `spark.sql.autoBroadcastJoinThreshold` (the
    * session's bound on what every executor may hold whole; -1 pins
    * nothing), the frame is persisted in Spark's columnar cache. A
    * state's first question reads parquet, pruned to what it asks for:
    * filling the cache reads every file of the state, which pays only
    * when the state answers again. Lazy: no job runs here; the next
    * query over the frame fills the cache, and Spark's cache manager
    * serves every plan over the frame from it. A frame whose estimate
    * no longer fits the threshold is released.
    *
    * Released with its state: when a newer state of the table is read,
    * when [[vacuum]] reclaims one of its segments (before the delete),
    * and when the state's frame leaves the LRU of [[read]]'s frames.
    * A no-op for any other frame.
    */
  def pin(frame: DataFrame): Unit =
    Option(handedOut.synchronized(handedOut.get(frame))).foreach(_.pin())

  /** Column-name set of a segment (footer read; includes discovered
    * partition columns). The write-time guards compare these so a
    * segment whose SCHEMA disagrees with the table (e.g. bare rows into
    * a [[graft.ops.Quantize.quantizeStore]]d table) is refused before a
    * manifest references it — the strict union would otherwise fail
    * every subsequent read.
    */
  private def segColumns(spark: SparkSession, table: String, seg: String): Set[String] =
    graft.ParquetIO.readImmutable(spark, s"$table/$seg").schema.fieldNames.toSet

  /** Live segment directory names of the latest committed state (empty
    * for unversioned/plain tables) — the audit surface for per-segment
    * invariants like [[graft.ops.Ivf.requireModelMatch]]'s stamps.
    */
  def liveSegments(spark: SparkSession, table: String): Seq[String] =
    currentState(spark, table).map(_.segments).getOrElse(Nil)

  /** Modification time of the committed manifest file for `version`
    * (0 if absent). A cheap table-incarnation proxy: an out-of-band
    * delete-and-recreate of the table restarts version NUMBERING, but
    * cannot reproduce the original manifest file's mtime — so a cache
    * keyed on (version, mtime) cannot mistake the recreated store's
    * v3 for the one it validated.
    */
  def manifestModTime(spark: SparkSession, table: String, version: Long): Long =
    if (!graft.Fs.exists(spark, manifestPath(table, version))) 0L
    else graft.Fs.modTime(spark, manifestPath(table, version))

  /** The table's audit log as a DataFrame: one row per retained
    * manifest — (version, committed_at millis, op, n_segments) — newest
    * first. Metadata-only (one tiny JSON + one stat per manifest;
    * [[vacuum]]'s retention horizon bounds the count). Manifests from
    * before op recording report op "unknown"; a torn/unreadable
    * manifest reports op "unreadable" rather than hiding the version.
    */
  def describeHistory(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    listManifests(spark, table).reverse.map { m =>
      val (v, op, nSegs) = scala.util.Try {
        val json = graft.Fs.readString(spark, m)
        val st = parse(json)
        (st.version, parseOp(json), st.segments.size)
      }.getOrElse {
        val v = "m-(\\d{16})\\.json".r.findFirstMatchIn(m)
          .map(_.group(1).toLong).getOrElse(-1L)
        (v, "unreadable", -1)
      }
      (v, graft.Fs.modTime(spark, m), op, nSegs)
    }.toDF("version", "committed_at", "op", "n_segments")
  }

  /** Latest committed state, if any manifest exists. Zero-padded version
    * numbers make the lexicographic max the numeric max.
    */
  def currentState(spark: SparkSession, table: String): Option[State] = {
    val ms = listManifests(spark, table)
    if (ms.isEmpty) None
    else Some(parse(graft.Fs.readString(spark, ms.last)))
  }

  /** The table as of its latest committed manifest — None before the
    * first commit, an empty-segment state reads as None too (a table
    * with no live data rows has nothing to scan and no schema to carry).
    * A pre-manifest flat-layout table (loose part files, no manifests)
    * reads as-is, so legacy stores stay visible to pure readers; the
    * first write through [[appendNonEmpty]]/[[compact]] adopts them into
    * a committed segment. A session reading the same committed state
    * (version and segment list) again gets the same frame back.
    */
  def read(spark: SparkSession, table: String): Option[DataFrame] =
    currentState(spark, table).filter(_.segments.nonEmpty)
      .map(st => stateFrames.getOrElseUpdate(spark, table, st) {
        stateFrames.evict(table) { case old: State => old.version < st.version; case _ => false }
        new StateFrame(readState(spark, table, st))
      }.frame)
      .orElse {
        val loose = looseParquet(spark, table)
        if (loose.isEmpty) None else Some(spark.read.parquet(loose: _*))
      }

  /** All committed states, oldest first. Manifests are never deleted, so
    * the listing is complete — but materializing the states costs one
    * small read per version: an introspection surface, not a hot path
    * (a long-lived streaming table accumulates one version per
    * micro-batch; list versions via the listing if the contents are not
    * needed).
    */
  def history(spark: SparkSession, table: String): Seq[State] =
    listManifests(spark, table).map(p => parse(graft.Fs.readString(spark, p)))

  /** Time-travel read: the table exactly as of `version`. None when the
    * version was never committed OR when any of its segments has since
    * been [[vacuum]]ed away (a compaction retires segments from the
    * CURRENT state; older manifests referencing them stay readable until
    * vacuum reclaims the files) — the Option holds for both, never an
    * eager missing-path failure.
    */
  def readAt(spark: SparkSession, table: String, version: Long): Option[DataFrame] = {
    // parse inside the Try (as in stateAt): a torn manifest is
    // "unreadable" per the contract above, never an eager crash
    val json = scala.util.Try(parse(
      graft.Fs.readString(spark, manifestPath(table, version)))).toOption
    json.filter(_.segments.nonEmpty)
      .filter(_.segments.forall(s => graft.Fs.exists(spark, s"$table/$s")))
      .map(st => readState(spark, table, st))
  }

  /** Row-level snapshot diff between two committed versions — the
    * "what changed between these two table states" audit a pipeline
    * runs before trusting a CDC window or signing off a migration.
    * Classifies by `keyCols`: `added` (key only in v2), `removed` (key
    * only in v1), `changed` (key in both, any common non-key column
    * differing — compared via an md5 over the canonical JSON of the
    * sorted common value columns, so schema-evolved extra columns on
    * one side don't flag every row). Returns `(keyCols…, change)`;
    * None when either version is unreadable/vacuumed (same contract as
    * [[readAt]]).
    *
    * Scale: both snapshots reduce to (keys, 16-byte row digest) before
    * any join — two anti-joins + one inner join on scalar keys, never
    * moving row payloads.
    */
  def diffVersions(spark: SparkSession, table: String, v1: Long, v2: Long,
                   keyCols: Seq[String]): Option[DataFrame] = {
    import org.apache.spark.sql.functions._
    require(keyCols.nonEmpty, "diffVersions needs at least one key column")
    for { a <- readAt(spark, table, v1); b <- readAt(spark, table, v2) } yield {
      val common = a.columns.toSet.intersect(b.columns.toSet).toSeq.sorted
      require(keyCols.forall(common.contains),
        s"key columns ${keyCols.mkString(",")} must exist in both versions")
      val valCols = common.filterNot(keyCols.contains)
      val rowHash =
        if (valCols.isEmpty) lit("")
        else md5(to_json(struct(valCols.map(col): _*)).cast("binary"))
      def prep(df: DataFrame) =
        df.select(keyCols.map(col) :+ rowHash.as("__h"): _*)
      val aK = prep(a)
      val bK = prep(b)
      val keys = keyCols.map(col)
      val added = bK.join(aK.select(keys: _*), keyCols, "left_anti")
        .select(keys: _*).withColumn("change", lit("added"))
      val removed = aK.join(bK.select(keys: _*), keyCols, "left_anti")
        .select(keys: _*).withColumn("change", lit("removed"))
      val changed = aK.as("a").join(bK.as("b"), keyCols)
        .filter(col("a.__h") =!= col("b.__h"))
        .select(keys: _*).withColumn("change", lit("changed"))
      added.unionByName(removed).unionByName(changed)
    }
  }

  /** The committed manifest of `version` alone — segment names, no data
    * read, no liveness check (segments may have been vacuumed since).
    * The segment-set diff surface for incremental maintainers
    * ([[appendedSince]] diffs this against [[currentState]] to find
    * exactly the rows appended since a sidecar was stamped). None when
    * `version` was never committed or its
    * manifest is unreadable.
    */
  def stateAt(spark: SparkSession, table: String, version: Long): Option[State] =
    // parse inside the Try: a truncated/corrupt manifest is "unreadable"
    // per this method's contract, not a crash
    scala.util.Try(
      parse(graft.Fs.readString(spark, manifestPath(table, version)))).toOption

  /** A sidecar fold's refusal of a history that retired segments the
    * sidecar's stamp covers (a compaction, merge, delete or re-index
    * rewrote them): folding the live segments in again would count
    * rewritten rows twice. [[SidecarRegistry]] answers it with the
    * kind's reconcile, or a rebuild.
    */
  final class NotPureAppend(message: String) extends IllegalArgumentException(message)

  /** The segments `table` committed since a sidecar was stamped at
    * version `v0` — the diff every incremental sidecar fold starts
    * from. None when the stamp is current; otherwise the current
    * version and the segments added since `v0`, in manifest order
    * (possibly none). Refuses when the table has no committed state or
    * the `v0` manifest is unreadable (IllegalStateException), when the
    * stamp is ahead of the table (IllegalArgumentException), and when
    * the history since `v0` is not pure append ([[NotPureAppend]], its
    * message ending in `remedy`). `sidecar` names the stamped structure
    * in the messages.
    */
  def appendedSince(spark: SparkSession, table: String, v0: Long,
                    sidecar: String, remedy: String): Option[(Long, Seq[String])] = {
    val cur = currentState(spark, table).getOrElse(
      throw new IllegalStateException(s"$table has no committed state"))
    if (cur.version == v0) None
    else {
      require(cur.version > v0,
        s"$sidecar stamp v$v0 is ahead of $table's current version ${cur.version} — " +
          "it describes a store state that no longer exists; rebuild")
      val old = stateAt(spark, table, v0).getOrElse(
        throw new IllegalStateException(
          s"manifest v$v0 of $table is unreadable — cannot diff segments; rebuild"))
      if (!old.segments.forall(cur.segments.contains))
        throw new NotPureAppend(
          s"$table's history v$v0 -> v${cur.version} is not pure-append — $remedy")
      Some((cur.version, cur.segments.filterNot(old.segments.toSet)))
    }
  }

  /** The given immutable segments of `table` as one frame: a strict
    * union of per-segment scans.
    */
  def readSegments(spark: SparkSession, table: String, segments: Seq[String]): DataFrame =
    segments.map(s => graft.ParquetIO.readImmutable(spark, s"$table/$s"))
      .reduce(_.unionByName(_))

  /** Data files sitting loose in the table root — the pre-manifest flat
    * layout (segment data lives under seg-* directories, never here).
    */
  private def looseParquet(spark: SparkSession, table: String): Seq[String] =
    graft.Fs.list(spark, table).filter { p =>
      p.substring(p.lastIndexOf('/') + 1).endsWith(".parquet")
    }

  /** Loose parquet files landed AFTER the table went versioned — an
    * external or old-binary writer dropping flat-layout files under a
    * versioned table. Such rows are invisible to [[read]] (the manifest
    * shadows them) yet spared by [[vacuum]] (deleting would destroy the
    * only copy), so without this check they silently vanish from queries.
    * Run it from an audit/ops path — it costs a table-root listing, which
    * is exactly what the manifest layout keeps OFF the hot read path.
    * Empty for unversioned tables (the loose files ARE the table there).
    */
  def shadowedLooseFiles(spark: SparkSession, table: String): Seq[String] =
    (for {
      _ <- currentState(spark, table)
      adoptedAt <- scala.util.Try(
        graft.Fs.modTime(spark, manifestPath(table, 1))).toOption
    } yield looseParquet(spark, table)
      .filter(p => scala.util.Try(graft.Fs.modTime(spark, p)).toOption
        .exists(_ > adoptedAt))
    ).getOrElse(Seq.empty)

  private final class AdoptionRace extends RuntimeException

  /** Migrate a flat pre-manifest table in place: COPY its loose part
    * files into one segment, then commit that segment as the table's
    * first manifest. No-op when a manifest already exists or there is
    * nothing loose. Called by every writer before it acts, so old stores
    * keep their rows (and their anti-join idempotency) instead of
    * becoming silently invisible.
    *
    * Copy — not move — keeps this atomic for readers and crash-safe: the
    * loose files stay the complete readable table (the [[read]] fallback)
    * until the manifest lands, a crash mid-copy leaves only a vacuumable
    * orphan, and a retry starts fresh. The commit is conditional on the
    * state still being empty, so two racing adopters cannot each publish
    * a copy of the legacy rows (the loser deletes its segment — the
    * winner's adoption already carries them). The now-redundant loose
    * files are reclaimed by [[vacuum]] once a manifest exists.
    */
  private def adoptLegacy(spark: SparkSession, table: String): Unit = {
    // manifest check first: after the first commit adoption is a
    // guaranteed no-op, and listing the small _manifests dir is far
    // cheaper than listing a table root that grows a seg-* dir per
    // append (an O(#segments) RPC per micro-batch on object stores)
    if (currentState(spark, table).nonEmpty) return
    val loose = looseParquet(spark, table)
    if (loose.nonEmpty && currentState(spark, table).isEmpty) {
      val seg = "seg-legacy" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      graft.Fs.mkdirs(spark, s"$table/$seg")
      loose.foreach { p =>
        val name = p.substring(p.lastIndexOf('/') + 1)
        graft.Fs.copyFile(spark, p, s"$table/$seg/$name")
      }
      try commit(spark, table, cur => {
        if (cur.nonEmpty) throw new AdoptionRace
        Seq(seg)
      }, op = "adopt"): Unit
      catch {
        case _: AdoptionRace => graft.Fs.delete(spark, s"$table/$seg")
      }
    }
  }

  /** Write a new immutable segment (not yet visible — nothing references
    * it until a [[commit]] lists it). Returns the segment name.
    *
    * `partitionBy` lays the segment out Hive-style (`col=value/` dirs)
    * inside the segment directory: reads across a mix of segments all
    * partitioned on the same columns recover those columns via partition
    * discovery (each segment path is its own discovery root), and
    * predicates on them prune at the file index — this is how an
    * [[Ivf]]-clustered store stays partition-pruned as appends land.
    */
  def writeSegment(spark: SparkSession, table: String, df: DataFrame,
                   partitionBy: Seq[String] = Nil,
                   marker: Option[String] = None): String = {
    val seg = "seg-" + java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    df.write.mode(SaveMode.ErrorIfExists)
      .partitionBy(partitionBy: _*).parquet(s"$table/$seg")
    // an underscore-named marker file (invisible to the file index)
    // records which derivation stamped this segment — e.g. the IVF model
    // fingerprint that assigned its cluster layout, so a probe can
    // verify EVERY live segment was assigned by the sidecar's model,
    // not just that a sidecar exists (a re-index racing an assigned
    // append would otherwise leave stale-cluster rows undetectable)
    marker.foreach(m => graft.Fs.writeString(spark, s"$table/$seg/_marker-$m", m))
    seg
  }

  /** Commit a state transition: re-reads the current segment list, applies
    * `transform`, and publishes it as version current+1 via temp-write +
    * rename. If a concurrent committer took the version first, re-reads
    * and re-applies `transform` on the fresh state — so `transform` must
    * be expressible against ANY base state (appends add their segment;
    * compaction subtracts exactly the segments it rewrote).
    */
  def commit(spark: SparkSession, table: String,
             transform: Seq[String] => Seq[String], maxRetries: Int = 20,
             op: String = "commit"): State = {
    var attempt = 0
    while (attempt <= maxRetries) {
      val cur = currentState(spark, table)
      val next = State(cur.map(_.version).getOrElse(0L) + 1,
        transform(cur.map(_.segments).getOrElse(Nil)))
      val target = manifestPath(table, next.version)
      val tmp = s"$target.tmp-${java.util.UUID.randomUUID().toString.take(8)}"
      val rendered = render(next.version, next.segments, op)
      graft.Fs.writeString(spark, tmp, rendered)
      if (graft.Fs.publishExclusive(spark, tmp, target))
        return next
      // a retransmitted link(2) on NFS can report EEXIST for a publish
      // that actually landed — the manifest content (which names this
      // caller's unique segments) is the tiebreaker: ours means we won
      if (scala.util.Try(graft.Fs.readString(spark, target)).toOption.contains(rendered)) {
        graft.Fs.delete(spark, tmp)
        return next
      }
      graft.Fs.delete(spark, tmp) // genuinely lost the race: retry on fresh state
      attempt += 1
    }
    throw new java.io.IOException(
      s"manifest commit for $table lost the version race $maxRetries times")
  }

  /** Append `df` as a new segment and publish it. The write happens
    * before the commit, so a crash between the two leaves an orphan
    * segment (vacuumable) and an unchanged table.
    */
  /** A segment is Hive-partitioned iff it contains `key=value` child
    * dirs. Appends must match the table's existing layout: committing a
    * flat segment into a partitioned table (or vice versa) would make
    * every subsequent [[read]] fail on the schema mismatch — this check
    * turns that corruption into a loud error at WRITE time, before the
    * manifest ever references the bad segment. One child listing per
    * append; the empty-layout cases (first segment, empty table) pass.
    */
  private def segPartitioned(spark: SparkSession, table: String, seg: String): Boolean =
    graft.Fs.list(spark, s"$table/$seg")
      .exists(p => p.substring(p.lastIndexOf('/') + 1).contains("="))

  private def requireLayoutMatchIn(spark: SparkSession, table: String, seg: String,
                                   newPart: Boolean, newCols: Set[String],
                                   live: Seq[String]): Unit =
    live.headOption.foreach { liveSeg =>
      val livePart = segPartitioned(spark, table, liveSeg)
      if (newPart != livePart) {
        graft.Fs.delete(spark, s"$table/$seg")
        throw new IllegalStateException(
          s"append layout mismatch at $table: new segment is " +
            s"${if (newPart) "partitioned" else "flat"} but the table's live segments are " +
            s"${if (livePart) "partitioned" else "flat"} — committing it would break every " +
            "read. For an IVF-indexed store append through Ivf.appendAssigned / " +
            "Ingest.appendRespectingLayout (or re-run Ivf.indexStore).")
      }
      val liveCols = segColumns(spark, table, liveSeg)
      if (newCols != liveCols) {
        graft.Fs.delete(spark, s"$table/$seg")
        throw new IllegalStateException(
          s"append schema mismatch at $table: new segment carries columns " +
            s"${newCols.toSeq.sorted.mkString(",")} but the table's live segments carry " +
            s"${liveCols.toSeq.sorted.mkString(",")} — committing it would break every " +
            "read (strict union). Append through Ingest.appendRespectingLayout, which " +
            "derives maintained layouts (SQ8 columns, cluster assignment) on the way in.")
      }
    }

  /** Commit `seg` as an append with the layout check run INSIDE the
    * commit transform, i.e. against the FRESH segment list on every CAS
    * attempt. A check before the commit alone has a window: a flat
    * append validating against a still-flat table can lose the version
    * race to a compact-to-partitioned swap (Ivf.indexStore) and would
    * then publish a flat segment into the newly clustered table —
    * after which the strict [[readState]] union fails on every read,
    * including the recovery paths. Re-checking on each attempt turns
    * that race into a loud pre-publication error (the segment is
    * deleted, nothing was committed).
    */
  private[graft] def commitAppend(spark: SparkSession, table: String, seg: String): State = {
    val newPart = segPartitioned(spark, table, seg) // our own layout: stat once
    val newCols = segColumns(spark, table, seg)
    commit(spark, table, cur => {
      requireLayoutMatchIn(spark, table, seg, newPart, newCols, cur)
      cur :+ seg
    }, op = "append")
  }

  def append(spark: SparkSession, table: String, df: DataFrame,
             partitionBy: Seq[String] = Nil): State = {
    adoptLegacy(spark, table) // every writer adopts, or a first append
                              // would hide a legacy table's loose rows
    val seg = writeSegment(spark, table, df, partitionBy)
    commitAppend(spark, table, seg)
  }

  /** [[append]] with the row count observed on the segment write itself
    * (one execution of `df`'s plan), committing only when rows > 0 — a
    * no-op append (e.g. an idempotent re-ingest whose anti-join left
    * nothing) publishes no manifest version and leaves no empty segment.
    * Returns the appended row count.
    */
  def appendNonEmpty(spark: SparkSession, table: String, df: DataFrame,
                     partitionBy: Seq[String] = Nil,
                     marker: Option[String] = None): Long = {
    import org.apache.spark.sql.functions.{count, lit}
    adoptLegacy(spark, table)
    // caveat: an Observation accumulates over task attempts, so stage
    // retries / speculative duplicates can over-count relative to the
    // rows actually committed — accepted to keep the plan single-pass;
    // reconcile with a cheap count() over read() when a caller needs the
    // committed number exactly
    val obs = new org.apache.spark.sql.Observation()
    val seg = writeSegment(spark, table,
      df.observe(obs, count(lit(1)).as("n")), partitionBy, marker)
    val n = obs.get("n").asInstanceOf[Long]
    if (n > 0) commitAppend(spark, table, seg): Unit
    else graft.Fs.delete(spark, s"$table/$seg")
    n
  }

  /** Compact the current live segments into ceil(rows/rowsPerFile) files
    * in ONE new segment and swap the manifest to it — concurrent appends
    * survive (the commit subtracts exactly the rewritten segments, so a
    * segment appended mid-compaction stays listed), and concurrent
    * readers keep their snapshot (retired segments are not deleted here —
    * run [[vacuum]] once old readers are done). Returns the new state and
    * the file count of the compacted segment.
    */
  private final class ConcurrentCompaction extends RuntimeException

  def compact(spark: SparkSession, table: String, rowsPerFile: Long = 1L << 20,
              reshape: DataFrame => DataFrame = identity,
              partitionBy: Seq[String] = Nil,
              marker: Option[String] = None): (State, Int) = {
    require(rowsPerFile > 0)
    adoptLegacy(spark, table)
    val st = currentState(spark, table).getOrElse(
      throw new IllegalStateException(s"no committed state to compact at $table"))
    if (st.segments.isEmpty) return (st, 0)
    // `reshape` lets a caller rewrite the rows while they are being
    // rewritten anyway (e.g. [[Ivf.indexStore]] assigning cluster ids) —
    // the swap's race handling is identical, so re-layout costs exactly
    // one extra projection, not a second full rewrite
    val df = reshape(readState(spark, table, st))
    val rows = df.count()
    val nFiles = math.max(1L, (rows + rowsPerFile - 1) / rowsPerFile).toInt
    // coalesce when shrinking (no shuffle — partitions concatenate
    // locally); the scan may pack small files into FEWER splits than
    // nFiles and coalesce cannot grow a partition count — repartition
    // there, or the promised file count is a lie
    val sized =
      if (df.rdd.getNumPartitions < nFiles) df.repartition(nFiles)
      else df.coalesce(nFiles)
    val seg = writeSegment(spark, table, sized, partitionBy, marker)
    val newPart = segPartitioned(spark, table, seg)
    val newCols = segColumns(spark, table, seg)
    // "subtract what I rewrote" is only valid while every rewritten
    // segment is still live: if another compactor already swapped them
    // out, committing would publish BOTH full rewrites and silently
    // double every row — abandon this rewrite instead (the other
    // compactor's result stands). Likewise a layout- or SCHEMA-changing
    // compaction (Ivf.indexStore's flat→clustered swap, quantizeStore's
    // column-adding rewrite) must abandon when a concurrent append
    // landed a segment of the OLD shape: preserving it would publish a
    // mixed table no read can union. All are re-checked on every CAS
    // attempt, against the fresh list.
    try {
      val newState = commit(spark, table, cur => {
        if (!st.segments.forall(cur.contains)) throw new ConcurrentCompaction
        val survivors = cur.filterNot(st.segments.toSet)
        if (survivors.exists(s => segPartitioned(spark, table, s) != newPart ||
            segColumns(spark, table, s) != newCols))
          throw new ConcurrentCompaction
        survivors :+ seg
      }, op = "compact")
      (newState, nFiles)
    } catch {
      case _: ConcurrentCompaction =>
        graft.Fs.delete(spark, s"$table/$seg")
        (currentState(spark, table).getOrElse(st), 0)
    }
  }

  /** The live rows with the segment each row came from — per-segment
    * scans lit-tagged and unioned (exact, unlike regex-parsing
    * `input_file_name`, and the same one-job union shape as
    * [[readState]]). The minimal-rewrite mutations below use the tag to
    * touch only the segments that actually contain affected rows.
    */
  private def taggedState(spark: SparkSession, table: String, st: State): DataFrame =
    st.segments
      .map(s => graft.ParquetIO.readImmutable(spark, s"$table/$s")
        .withColumn("__seg", org.apache.spark.sql.functions.lit(s)))
      .reduce(_.unionByName(_))

  /** The live segments containing at least one row whose `keyCol`
    * appears in `keys` — [[merge]]/[[deleteByKeys]]'s detection scan,
    * in two tiers:
    *
    *  1. '''Footer pruning (metadata-only)''': for an integral key, the
    *     update keys' [min, max] (one tiny agg) is checked against each
    *     segment's parquet-footer key range
    *     ([[graft.ParquetFooters.longRange]]) — a disjoint segment is
    *     dismissed without reading ANY data page. For time-ordered or
    *     ranged keys (the common CDC shape: recent updates touch recent
    *     segments) detection cost collapses from O(table key column) to
    *     O(overlapping segments). A segment without usable stats simply
    *     stays in tier 2 — pruning is never a correctness dependency.
    *  2. '''Key-column scan''': the surviving segments' lit-tagged union
    *     projects only `keyCol` into the shuffled semi-join (column
    *     pruning pushes through union and join — plan-asserted).
    *
    * Returned as the DataFrame BEFORE the collect so tests can assert
    * both tiers from the plan (only overlapping segments appear as
    * scans, and only the key column is read).
    */
  private[graft] def segmentsContaining(spark: SparkSession, table: String,
                                        st: State, keys: DataFrame,
                                        keyCol: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, max, min}
    val keyed = keys.select(col(keyCol))
    val integral = keys.schema(keyCol).dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType => true
      case _ => false
    }
    val candidates =
      if (!integral || st.segments.size <= 1) st.segments
      else {
        val r = keyed.agg(min(col(keyCol)).cast("long"), max(col(keyCol)).cast("long")).head()
        if (r.isNullAt(0)) Nil // no non-null update keys: nothing can match
        else {
          val (kLo, kHi) = (r.getLong(0), r.getLong(1))
          st.segments.filter { seg =>
            graft.ParquetFooters.longRange(spark, s"$table/$seg", keyCol) match {
              case Some((lo, hi)) => hi >= kLo && lo <= kHi // overlap possible
              case None => true // no stats: must scan
            }
          }
        }
      }
    if (candidates.isEmpty)
      return keyed.filter(lit(false)).select(lit("").as("__seg")).limit(0)
    candidates
      .map(s => graft.ParquetIO.readImmutable(spark, s"$table/$s")
        .withColumn("__seg", lit(s)))
      .reduce(_.unionByName(_))
      .join(keyed, Seq(keyCol), "left_semi")
      .select(col("__seg")).distinct()
  }

  /** Roll the table back to `version`'s row set by committing that
    * version's segment list as a NEW version (op "restore") — the
    * bad-batch undo: nothing is rewritten or deleted, history stays
    * intact (the bad versions remain time-travel-readable until
    * [[vacuum]]), and concurrent committers CAS as usual. Fails loudly
    * if any of the target version's segments was already vacuumed —
    * a restore cannot resurrect reclaimed data.
    *
    * Restoring a table whose LIVE layout has since changed shape (e.g.
    * restored-to-flat after an [[graft.ops.Ivf.indexStore]] clustering)
    * also restores the old layout; sidecars describing the newer layout
    * (IVF model, lexical stamp) will then refuse to serve until their
    * build re-runs — the same loud-refusal contract every other
    * layout-changing path follows.
    */
  def restore(spark: SparkSession, table: String, version: Long): State = {
    val target = stateAt(spark, table, version).getOrElse(
      throw new IllegalArgumentException(
        s"no readable manifest for version $version at $table"))
    val missing = target.segments.filterNot(s => graft.Fs.exists(spark, s"$table/$s"))
    require(missing.isEmpty,
      s"cannot restore $table to v$version: segments ${missing.mkString(",")} " +
        "were vacuumed — a restore cannot resurrect reclaimed data")
    commit(spark, table, _ => target.segments, op = "restore")
  }

  /** Copy-on-write upsert by key — the CDC mutation an append-only store
    * lacks: every existing row whose `keyCol` appears in `updates` is
    * replaced by the update rows with that key (delete-then-insert
    * semantics, so multi-row updates per key are well-defined), rows
    * with unmatched keys are inserted, and everything else is untouched.
    *
    * Minimal rewrite: one tagged scan finds the segments that actually
    * CONTAIN a matched key (a shuffled semi-join — `updates` is never
    * assumed broadcastable); only those are rewritten (their unmatched
    * rows anti-joined against the update keys, unioned with `updates`,
    * re-sized like [[compact]]), every other live segment is carried
    * forward BY REFERENCE in the new manifest. At 100 TB a merge that
    * touches 1% of segments reads and writes 1% of the table plus the
    * updates — never a full rewrite. A merge into an empty table, or one
    * whose keys match nothing, degrades to a plain append.
    *
    * Concurrency: the same subtract-what-I-rewrote CAS as [[compact]],
    * but a lost race RETRIES INTERNALLY (fresh detection against the
    * fresh state, bounded attempts) instead of silently reporting a
    * no-op — a mutation must either apply or raise, never vanish (the
    * CDC seam checkpoints batches on normal return). A concurrent
    * APPEND is preserved without retry (its segment survives the
    * manifest transform untouched); a LAYOUT divergence (the written
    * segment disagrees with the survivors — wrong `partitionBy`, or a
    * concurrent re-clustering) raises IllegalStateException at once:
    * retrying the same arguments can never fix it, re-run through
    * [[graft.ops.Ingest.mergeRespectingLayout]] which re-reads the
    * sidecars. Retired segments stay on disk for snapshot readers;
    * [[vacuum]] reclaims them. Time travel sees the pre-merge rows at
    * the pre-merge version.
    *
    * Null keys: `updates` must not carry them (raise — an upsert keyed
    * on null matches nothing and is always a bug); table rows with a
    * null key never match and are kept.
    *
    * Returns (new state, number of segments rewritten); 0 rewritten
    * UNAMBIGUOUSLY means nothing needed rewriting (pure insert or
    * no-op) — an abandoned rewrite is an exception, never a return.
    */
  def merge(spark: SparkSession, table: String, updates: DataFrame,
            keyCol: String, rowsPerFile: Long = 1L << 20,
            partitionBy: Seq[String] = Nil,
            marker: Option[String] = None): (State, Int) = {
    import org.apache.spark.sql.functions.{col, lit, raise_error, when}
    require(rowsPerFile > 0)
    adoptLegacy(spark, table)
    val checkedUpdates = updates.withColumn(keyCol,
      when(col(keyCol).isNotNull, col(keyCol)).otherwise(raise_error(lit(
        s"merge: null $keyCol in updates — an upsert keyed on null matches nothing"))))
    val updKeys = checkedUpdates.select(col(keyCol)).distinct()
    var attempt = 0
    while (attempt < RewriteAttempts) {
      val stOpt = currentState(spark, table).filter(_.segments.nonEmpty)
      val affected: Seq[String] = stOpt match {
        case None => Nil
        case Some(st) =>
          segmentsContaining(spark, table, st, updKeys, keyCol)
            .collect().map(_.getString(0)).toSeq.sorted
      }
      if (affected.isEmpty) {
        // pure insert (or empty/first-write table): exactly an append
        if (checkedUpdates.isEmpty) return (currentState(spark, table)
          .getOrElse(State(0L, Nil)), 0)
        val seg = writeSegment(spark, table, checkedUpdates, partitionBy, marker)
        return (commitAppend(spark, table, seg), 0)
      }
      // re-read ONLY the affected segments (the detection scan read
      // everything once; the rewrite must not)
      val keep = readSegments(spark, table, affected)
        .join(updKeys, Seq(keyCol), "left_anti")
      val newData = keep.unionByName(checkedUpdates, allowMissingColumns = false)
      try {
        return (commitRewrite(spark, table, affected, newData,
          rowsPerFile, partitionBy, marker, "merge"), affected.size)
      } catch {
        case _: RewriteRaceLost => attempt += 1
      }
    }
    throw new IllegalStateException(
      s"merge at $table lost the rewrite race $RewriteAttempts times — " +
        "retry under less concurrent compaction")
  }

  private val RewriteAttempts = 5
  private final class RewriteRaceLost extends RuntimeException
  private final class LayoutDiverged extends RuntimeException

  /** One copy-on-write rewrite attempt, shared by [[merge]] /
    * [[deleteByKeys]] / [[deleteWhere]]: pin `newData` once
    * (persist — the count and the segment write must not re-read the
    * affected segments twice), write it sized like [[compact]] (no
    * segment at all when it is empty — a rewrite may delete every row),
    * and commit it as the replacement for `affected` under the
    * subtract-what-I-rewrote rules. Throws [[RewriteRaceLost]]
    * (internal — caller re-detects and retries) when an affected
    * segment was already swapped out, and IllegalStateException when
    * the written segment's layout/schema disagrees with the survivors
    * (deterministic caller error; retrying the same arguments cannot
    * fix it).
    */
  private def commitRewrite(spark: SparkSession, table: String,
                            affected: Seq[String], newData: DataFrame,
                            rowsPerFile: Long, partitionBy: Seq[String],
                            marker: Option[String], op: String): State = {
    graft.Tables.pinned(newData) { pinned =>
      val rows = pinned.count()
      val segOpt =
        if (rows == 0) None
        else {
          val nFiles = math.max(1L, (rows + rowsPerFile - 1) / rowsPerFile).toInt
          val sized =
            if (pinned.rdd.getNumPartitions < nFiles) pinned.repartition(nFiles)
            else pinned.coalesce(nFiles)
          Some(writeSegment(spark, table, sized, partitionBy, marker))
        }
      val (newPart, newCols) = segOpt
        .map(s => (segPartitioned(spark, table, s), segColumns(spark, table, s)))
        .getOrElse((false, Set.empty[String]))
      val affectedSet = affected.toSet
      try {
        commit(spark, table, cur => {
          // every rewritten segment must still be live, and the segment
          // we wrote must match the survivors' layout — same rules as
          // compact, re-checked against the fresh list per CAS attempt
          if (!affected.forall(cur.contains)) throw new ConcurrentCompaction
          val survivors = cur.filterNot(affectedSet)
          if (segOpt.isDefined &&
              survivors.exists(s => segPartitioned(spark, table, s) != newPart ||
                segColumns(spark, table, s) != newCols))
            throw new LayoutDiverged
          survivors ++ segOpt
        }, op = op)
      } catch {
        case _: ConcurrentCompaction =>
          segOpt.foreach(s => graft.Fs.delete(spark, s"$table/$s"))
          throw new RewriteRaceLost
        case _: LayoutDiverged =>
          segOpt.foreach(s => graft.Fs.delete(spark, s"$table/$s"))
          throw new IllegalStateException(
            s"$op at $table: the rewritten segment's layout/schema disagrees " +
              "with the table's surviving segments — wrong partitionBy, or the " +
              "table was re-clustered/evolved concurrently. Re-run through " +
              "Ingest.mergeRespectingLayout / deleteRespectingLayout, which " +
              "derive the live layout from the store's own sidecars.")
      }
    }
  }

  /** Copy-on-write delete BY KEY SET — [[deleteWhere]] for the CDC case
    * where the doomed keys arrive as data (a changelog's tombstones),
    * not as a predicate: `keys` is never collected to the driver (the
    * detection semi-join and the rewrite anti-join both shuffle), so a
    * micro-batch carrying millions of tombstones costs the same shape
    * as a merge. Null keys in `keys` match nothing. Minimal rewrite and
    * CAS semantics identical to [[merge]].
    */
  def deleteByKeys(spark: SparkSession, table: String, keys: DataFrame,
                   keyCol: String, rowsPerFile: Long = 1L << 20,
                   partitionBy: Seq[String] = Nil,
                   marker: Option[String] = None): (State, Int) = {
    import org.apache.spark.sql.functions.col
    require(rowsPerFile > 0)
    adoptLegacy(spark, table)
    val keySet = keys.select(col(keyCol)).filter(col(keyCol).isNotNull).distinct()
    var attempt = 0
    while (attempt < RewriteAttempts) {
      val stOpt = currentState(spark, table).filter(_.segments.nonEmpty)
      if (stOpt.isEmpty) return (State(0L, Nil), 0)
      val st = stOpt.get
      val affected = segmentsContaining(spark, table, st, keySet, keyCol)
        .collect().map(_.getString(0)).toSeq.sorted
      if (affected.isEmpty) return (st, 0)
      val keep = readSegments(spark, table, affected)
        .join(keySet, Seq(keyCol), "left_anti")
      try {
        return (commitRewrite(spark, table, affected, keep,
          rowsPerFile, partitionBy, marker, "delete"), affected.size)
      } catch {
        case _: RewriteRaceLost => attempt += 1
      }
    }
    throw new IllegalStateException(
      s"deleteByKeys at $table lost the rewrite race $RewriteAttempts times — " +
        "retry under less concurrent compaction")
  }

  /** Copy-on-write delete: removes every row where `predicate` is TRUE
    * (SQL DELETE semantics — rows where it evaluates null are KEPT).
    * Same minimal-rewrite shape as [[merge]]: one tagged scan finds the
    * segments containing ≥1 matching row, only those are rewritten with
    * their surviving rows, the rest ride forward by reference. A delete
    * that empties every affected segment publishes no replacement
    * segment at all. Returns (new state, segments rewritten).
    */
  def deleteWhere(spark: SparkSession, table: String,
                  predicate: org.apache.spark.sql.Column,
                  rowsPerFile: Long = 1L << 20,
                  partitionBy: Seq[String] = Nil,
                  marker: Option[String] = None): (State, Int) = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, not}
    require(rowsPerFile > 0)
    adoptLegacy(spark, table)
    var attempt = 0
    while (attempt < RewriteAttempts) {
      val stOpt = currentState(spark, table).filter(_.segments.nonEmpty)
      if (stOpt.isEmpty) return (State(0L, Nil), 0)
      val st = stOpt.get
      val affected = taggedState(spark, table, st)
        .filter(coalesce(predicate, lit(false)))
        .select(col("__seg")).distinct()
        .collect().map(_.getString(0)).toSeq.sorted
      if (affected.isEmpty) return (st, 0)
      val keep = readSegments(spark, table, affected)
        .filter(not(coalesce(predicate, lit(false))))
      try {
        return (commitRewrite(spark, table, affected, keep,
          rowsPerFile, partitionBy, marker, "delete"), affected.size)
      } catch {
        case _: RewriteRaceLost => attempt += 1
      }
    }
    throw new IllegalStateException(
      s"deleteWhere at $table lost the rewrite race $RewriteAttempts times — " +
        "retry under less concurrent compaction")
  }

  /** Hive partition-column names of a segment: the `key` of every
    * first-level `key=value` child directory.
    */
  private def segPartitionKeys(spark: SparkSession, table: String, seg: String): Set[String] =
    graft.Fs.list(spark, s"$table/$seg")
      .map(p => p.substring(p.lastIndexOf('/') + 1))
      .filter(_.contains("="))
      .map(_.takeWhile(_ != '='))
      .toSet

  /** Recovery for a table whose live segments no longer share one layout
    * (a mixed flat/partitioned state that slipped past the write-time
    * guards — e.g. an out-of-band writer, or a crash of an older binary):
    * reads every live segment individually, unions them with null-filled
    * missing columns, and swaps the result in as ONE flat segment via
    * the same race-safe subtract-what-I-rewrote commit as [[compact]].
    *
    * Partition columns that exist NOWHERE as data — only as the
    * partitioned segments' directory layout (e.g. an IVF `cluster_id`,
    * which `Ivf.assign` re-derives) — are layout artifacts: the repair
    * discards the layout, so it drops them rather than baking
    * half-null columns into the data and breaking every subsequent
    * original-schema append. A partition column that any segment DOES
    * carry as data (a date-style column) is kept, null-filled where a
    * flat segment lacked it. A model sidecar describing the lost
    * clustered layout is retired alongside (see below).
    *
    * After repair the table reads and appends again; a previously
    * cluster-partitioned store must be re-indexed (Ivf.indexStore)
    * before probing — the retired sidecar makes a probe fail loudly
    * until then.
    *
    * Returns Some(newState) when a repair was published, None when the
    * table was not mixed (no-op) or a concurrent committer won the swap
    * (re-run after inspecting the fresh state).
    */
  def repairMixedLayout(spark: SparkSession, table: String,
                        rowsPerFile: Long = 1L << 20): Option[State] = {
    require(rowsPerFile > 0)
    val stOpt = currentState(spark, table).filter(_.segments.nonEmpty)
    if (stOpt.isEmpty) return None
    val st = stOpt.get
    val layoutsMixed =
      st.segments.map(s => segPartitioned(spark, table, s)).distinct.size > 1
    val colsMixed =
      st.segments.map(s => segColumns(spark, table, s)).distinct.size > 1
    if (!layoutsMixed && !colsMixed)
      return None // one consistent shape — nothing to repair
    val perSeg = st.segments.map(s =>
      (graft.ParquetIO.readImmutable(spark, s"$table/$s"), segPartitionKeys(spark, table, s)))
    val dataCols = perSeg.flatMap { case (d, keys) =>
      d.schema.fieldNames.filterNot(keys)
    }.toSet
    val layoutOnly = perSeg.flatMap(_._2).distinct.filterNot(dataCols)
    val df = perSeg.map(_._1)
      .reduce(_.unionByName(_, allowMissingColumns = true))
      .drop(layoutOnly: _*)
    val rows = df.count()
    val nFiles = math.max(1L, (rows + rowsPerFile - 1) / rowsPerFile).toInt
    val sized =
      if (df.rdd.getNumPartitions < nFiles) df.repartition(nFiles)
      else df.coalesce(nFiles)
    val seg = writeSegment(spark, table, sized)
    val repairedCols = segColumns(spark, table, seg)
    try {
      val newState = commit(spark, table, cur => {
        if (!st.segments.forall(cur.contains)) throw new ConcurrentCompaction
        // a concurrent PARTITIONED or schema-divergent append (the stale
        // sidecars are retired only after this commit, so
        // Ivf.appendAssigned / quantized appends may still race in)
        // would re-publish the very mixed state being repaired —
        // abandon and let the caller re-run, same as compact
        val survivors = cur.filterNot(st.segments.toSet)
        if (survivors.exists(s => segPartitioned(spark, table, s) ||
            segColumns(spark, table, s) != repairedCols))
          throw new ConcurrentCompaction
        survivors :+ seg
      }, op = "repair")
      // the repaired table is FLAT: a model sidecar describing the old
      // clustered layout would make Ingest.appendRespectingLayout keep
      // writing partitioned segments (refused at commit — the table
      // would be append-dead until re-index) and would mis-describe the
      // store to probes. Retire it (kept beside the table for
      // forensics); Ivf.indexStore writes a fresh one on re-index.
      val sidecar = Ivf.modelPath(table)
      if (graft.Fs.exists(spark, sidecar)) {
        graft.Fs.copyFile(spark, sidecar, s"$sidecar.retired-v${newState.version}")
        graft.Fs.delete(spark, sidecar)
      }
      Some(newState)
    } catch {
      case _: ConcurrentCompaction =>
        graft.Fs.delete(spark, s"$table/$seg")
        None
    }
  }

  /** Delete segment directories no committed manifest references (crash
    * leftovers and compaction-retired segments) plus stale manifest temp
    * files, skipping anything modified within `graceMs`: an unreferenced
    * RECENT segment may be an in-flight writer's not-yet-committed data —
    * deleting it would let that writer publish a manifest pointing at a
    * missing directory. The default hour dwarfs any write-to-commit gap;
    * pass 0 only when all writers are known quiesced (tests). Readers
    * holding a retired snapshot need the same consideration: vacuum once
    * they are done. Returns the deleted paths.
    *
    * Clock-skew caveat: the grace window compares the DRIVER's
    * `currentTimeMillis` against FILESYSTEM modification times, which on
    * HDFS/NFS come from the remote server's clock — skew between the two
    * silently shrinks (or inflates) the protection window. The default
    * grace of an hour dwarfs any plausible skew; keep custom values well
    * above your clock-sync bound.
    */
  /** `retainVersions` adds an explicit TIME-TRAVEL HORIZON to vacuum:
    * with `N >= 1`, segments referenced by any of the last `N`
    * committed manifests stay live (so [[readAt]] keeps serving those
    * versions after compactions), and manifests BELOW the horizon are
    * reclaimed along with their exclusive segments — bounding both the
    * segment count and the one-manifest-per-micro-batch accumulation a
    * long-lived streaming table otherwise never sheds. The default `0`
    * is the legacy contract: only the CURRENT manifest's segments are
    * live and old manifests are kept as metadata (readable until their
    * segments happen to be reclaimed).
    */
  def vacuum(spark: SparkSession, table: String,
             graceMs: Long = 60L * 60 * 1000,
             retainVersions: Int = 0): Seq[String] = {
    require(retainVersions >= 0)
    val state = currentState(spark, table)
    val horizon = state.map(s => s.version - math.max(retainVersions, 1) + 1)
      .getOrElse(Long.MaxValue)
    val live: Set[String] = state match {
      case None => Set.empty
      case Some(st) if retainVersions <= 1 => st.segments.toSet
      case Some(st) =>
        // union of the retained manifests' segment sets; an unreadable
        // (torn/missing) old manifest contributes nothing — its version
        // was already unreadable per the stateAt contract
        (horizon until st.version).flatMap(v =>
          stateAt(spark, table, v).map(_.segments).getOrElse(Nil)
        ).toSet ++ st.segments
    }
    val cutoff = System.currentTimeMillis() - graceMs
    // a racing actor (empty-append cleanup, losing compactor, another
    // vacuum) may delete a listed path before we stat it — a vanished
    // path is simply not ours to reclaim, never a crash
    def reclaimable(p: String): Boolean =
      scala.util.Try(graft.Fs.modTime(spark, p)).toOption.exists(_ < cutoff)
    val deadSegs = graft.Fs.list(spark, table)
      .filter(p => p.substring(p.lastIndexOf('/') + 1).startsWith("seg-"))
      .filterNot(p => live.contains(p.substring(p.lastIndexOf('/') + 1)))
      .filter(reclaimable)
    val deadTmp = graft.Fs.list(spark, manifestDir(table))
      .filter(_.contains(".tmp-"))
      .filter(reclaimable)
    // manifests below the retention horizon: their versions are no
    // longer served (readAt contract: None), so the metadata goes too —
    // version numbers are parsed from the committed `m-<v>.json` names,
    // tmp files never match
    val deadManifests =
      if (retainVersions == 0 || state.isEmpty) Seq.empty
      else graft.Fs.list(spark, manifestDir(table))
        .filter { p =>
          val name = p.substring(p.lastIndexOf('/') + 1)
          name.startsWith("m-") && name.endsWith(".json") &&
            scala.util.Try(name.stripPrefix("m-").stripSuffix(".json").toLong)
              .toOption.exists(_ < horizon)
        }
    // loose flat-layout files older than the FIRST manifest were present
    // when adoption committed, so a committed segment carries their
    // copies — redundant, reclaimable. Loose files NEWER than manifest 1
    // were never adopted (an external/old-binary writer landed them
    // after the table went versioned): deleting those would destroy the
    // only copy, so they are left shadowed on disk for manual recovery.
    val deadLoose = (for {
      _ <- state
      adoptedAt <- scala.util.Try(graft.Fs.modTime(spark, manifestPath(table, 1))).toOption
    } yield looseParquet(spark, table)
      .filter(p => scala.util.Try(graft.Fs.modTime(spark, p)).toOption
        .exists(t => t < cutoff && t <= adoptedAt))
    ).getOrElse(Seq.empty)
    val dead = deadSegs ++ deadTmp ++ deadLoose ++ deadManifests
    // vacuum already paid for the root listing — surface what it spares:
    // post-adoption loose files are invisible to read() yet protected
    // from deletion, a state an operator must hear about to ever fix
    val shadowed = shadowedLooseFiles(spark, table)
    if (shadowed.nonEmpty)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"versioned table $table has ${shadowed.size} loose parquet file(s) " +
          s"written after adoption — invisible to read() and spared by vacuum; " +
          s"re-ingest them through append() or remove them: " +
          shadowed.take(5).mkString(", "))
    // drop each reclaimed segment's cached relation just before deleting
    // it: the manifest no longer references it so nothing SHOULD re-read
    // it, but a stale file index silently serving a deleted directory is
    // exactly the failure the readImmutable contract must make impossible
    // (the keys use the caller-form `$table/<seg>` path, same as every
    // read site). Only segments are cached; the other dead paths are not.
    // The states that list a reclaimed segment go first, pins and all.
    val deadNames = deadSegs.map(p => p.substring(p.lastIndexOf('/') + 1)).toSet
    if (deadNames.nonEmpty) stateFrames.evict(table) {
      case st: State => st.segments.exists(deadNames); case _ => false }
    deadSegs.foreach { p =>
      graft.ParquetIO.invalidate(s"$table/${p.substring(p.lastIndexOf('/') + 1)}")
      graft.Fs.delete(spark, p)
    }
    (deadTmp ++ deadLoose ++ deadManifests).foreach(graft.Fs.delete(spark, _))
    dead
  }
}
