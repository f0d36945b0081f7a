package graft.ops

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Which sidecars a store table carries, and how each is kept fresh.
  * [[kinds]] lists every sidecar kind once; every store-mutating seam
  * maintains every registered kind through one entry point:
  *
  *   - [[afterAppend]]: the append, merge, delete and keyed-delete seams
  *     of [[Ingest]] (all batch AND streaming writers);
  *   - [[afterRewrite]]: the row-preserving rewrites — [[Ingest.compactTable]],
  *     [[Ingest.evolveSchema]], [[Ivf.indexStore]],
  *     [[Quantize.quantizeStore]] and [[Pq.pqStore]].
  *
  * The lifecycle every kind inherits:
  *
  *   - a marker file inside the table names the sidecar + its columns;
  *     registration builds BEFORE writing the marker (a half-registered
  *     state is an unmarked, ignored sidecar — never a
  *     marked-but-missing one);
  *   - the append seam folds the new segments in; a history that
  *     rewrote covered segments ([[VersionedStore.NotPureAppend]])
  *     reconciles when the kind can, and any other fold refusal
  *     (damaged stats) falls back to a LOUD rebuild;
  *   - a rewrite restamps in O(1) ONLY when provably row-preserving
  *     from the artifacts alone (sole commit, single survivor segment,
  *     fresh pre-stamp), reconciles or rebuilds otherwise, and a
  *     failure there degrades to a loudly-stale sidecar the next seam
  *     append heals — never a retroactive failure of the committed
  *     rewrite;
  *   - one lock per TABLE serializes every maintenance path (a restamp
  *     racing a seam fold lock-free could overwrite the sidecar
  *     mid-append and stamp the result fresh — the silent-corruption
  *     mode the stamp discipline exists to prevent). The lock is shared
  *     across sidecar kinds on the same table deliberately: their
  *     maintenance reads the same manifest chain.
  *
  * The `_stats` contract every kind follows: a space-separated line
  * whose LAST field is the store stamp `v<version>`; the restamp
  * rewrites only that field.
  */
object SidecarRegistry {

  /** A marker's content: the sidecar path, the id column, and the
    * kind's value column(s) or configuration.
    */
  final case class Registration(path: String, idCol: String, textCol: String)

  type Step = (SparkSession, String, Registration) => Unit

  /** One sidecar kind: its log label, its marker path inside a table,
    * the O(new segments) fold of appended rows, the full rebuild from
    * the store, and — for the per-segment ledgers — a reconcile at
    * O(changed segments) that repairs a rewritten history without the
    * full rebuild.
    */
  final case class Kind(label: String, marker: String => String,
                        fold: Step, rebuild: Step,
                        reconcile: Option[Step] = None)

  /** The lexical index ([[Keyword.registerLexicalIndex]]): the committed
    * rows fold in at O(new docs), so continuous ingestion never trips
    * the query-time staleness guard.
    */
  val LexicalIndex: Kind = Kind("lexical index", Keyword.lexicalMarkerPath,
    (s, t, r) => Keyword.appendToLexicalIndexForStore(s, t, r.idCol, r.textCol, r.path),
    (s, t, r) => Keyword.buildLexicalIndexForStore(s, t, r.idCol, r.textCol, r.path))

  /** The MinHash band sidecar ([[Dedup.registerMinhashSidecar]]):
    * near-dup checks against the growing history stay fresh without
    * polling.
    */
  val MinhashSidecar: Kind = Kind("minhash sidecar", Dedup.sidecarMarkerPath,
    (s, t, r) => Dedup.appendToMinhashSidecar(s, t, r.idCol, r.textCol, r.path),
    (s, t, r) => Dedup.buildMinhashSidecarForStore(s, t, r.idCol, r.textCol, r.path))

  /** The SRP bucket sidecar ([[Dedup.registerSrpSidecar]]): the
    * embedding-space twin of the MinHash sidecar.
    */
  val SrpSidecar: Kind = Kind("srp sidecar", Dedup.srpSidecarMarkerPath,
    (s, t, r) => Dedup.appendToSrpSidecar(s, t, r.idCol, r.textCol, r.path),
    (s, t, r) => Dedup.buildSrpSidecarForStore(s, t, r.idCol, r.textCol, r.path))

  /** The HLL register sidecar ([[Sketch.registerHllSidecar]]):
    * registers max-merge, so a batch folds in at O(batch).
    */
  val HllSidecar: Kind = Kind("hll sidecar", Sketch.hllSidecarMarkerPath,
    (s, t, r) => Sketch.appendToHllSidecar(s, t, r.idCol, r.textCol, r.path),
    (s, t, r) => Sketch.buildHllSidecarForStore(s, t, r.idCol, r.textCol, r.path))

  /** The Bloom seen-set sidecar ([[Sketch.registerBloomSidecar]]):
    * words `bit_or`-merge, so a batch folds in at O(batch).
    */
  val BloomSidecar: Kind = Kind("bloom sidecar", Sketch.bloomSidecarMarkerPath,
    (s, t, r) => Sketch.appendToBloomSidecar(s, t, r.idCol, r.textCol, r.path),
    (s, t, r) => Sketch.buildBloomSidecarForStore(s, t, r.idCol, r.textCol, r.path))

  /** The HNSW graph sidecar ([[Hnsw.registerHnswSidecar]]): each batch
    * folds in as new segment graphs (the Lucene flush model) — O(batch),
    * no rebuild.
    */
  val HnswSidecar: Kind = Kind("hnsw sidecar", Hnsw.sidecarMarkerPath,
    (s, t, r) => Hnsw.appendToHnswSidecar(s, t, r.idCol, r.textCol, r.path),
    (s, t, r) => Hnsw.buildHnswSidecarForStore(s, t, r.idCol, r.textCol, r.path))

  /** The fingerprint ledger ([[Profile.registerFingerprintSidecar]]):
    * the corpus checksum folds the new segments in at O(batch) via the
    * fold identity; a rewritten history reconciles at O(changed
    * segments). The marker carries the comma-joined columns.
    */
  val FingerprintSidecar: Kind = Kind("fingerprint sidecar",
    Profile.fingerprintSidecarMarkerPath,
    (s, t, r) => Profile.appendToFingerprintSidecar(s, t, columns(r), r.path),
    (s, t, r) => Profile.buildFingerprintSidecarForStore(s, t, columns(r), r.path),
    Some((s, t, r) => Profile.reconcileFingerprintSidecar(s, t, columns(r), r.path)))

  private def columns(r: Registration): Seq[String] = r.textCol.split(",").toSeq

  /** The weighted-sample candidate ledger
    * ([[Sampling.registerSampleSidecar]]): each new segment folds in its
    * own A-ES top-k at O(batch); the maintained corpus sample stays one
    * (k x segments)-row fold away.
    */
  val SampleSidecar: Kind = Kind("sample sidecar", Sampling.sampleSidecarMarkerPath,
    (s, t, r) => Sampling.appendToSampleSidecar(s, t, r.path),
    Sampling.rebuildSampleSidecar,
    Some((s, t, r) => Sampling.reconcileSampleSidecar(s, t, r.path)))

  /** The length-histogram ledger ([[Sketch.registerHistogramSidecar]]):
    * per-segment bucket counts add, so the corpus length distribution
    * (and its quantile reads) stays exact and fresh at O(batch).
    */
  val HistogramSidecar: Kind = Kind("histogram sidecar", Sketch.histogramSidecarMarkerPath,
    (s, t, r) => Sketch.appendToHistogramSidecar(s, t, r.path),
    (s, t, r) => Sketch.buildHistogramSidecarForStore(s, t, r.textCol, r.path),
    Some((s, t, r) => Sketch.reconcileHistogramSidecar(s, t, r.path)))

  /** Every sidecar kind, in the order the seams maintain them. */
  val kinds: Seq[Kind] = Seq(LexicalIndex, MinhashSidecar, SrpSidecar, HllSidecar,
    BloomSidecar, HnswSidecar, FingerprintSidecar, SampleSidecar, HistogramSidecar)

  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lock(table: String): Object = locks.computeIfAbsent(table, _ => new Object)

  private def log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Build `kind` fresh for `table`, then write its marker: from here on
    * every seam maintains it.
    */
  private[ops] def register(spark: SparkSession, table: String, kind: Kind,
                            reg: Registration): Unit =
    lock(table).synchronized {
      kind.rebuild(spark, table, reg)
      graft.Fs.writeString(spark, kind.marker(table),
        s"${reg.path}\n${reg.idCol}\n${reg.textCol}")
    }

  /** The registration `table`'s marker for `kind` holds, if any. */
  private[ops] def registered(spark: SparkSession, table: String,
                              kind: Kind): Option[Registration] = {
    val markerPath = kind.marker(table)
    if (!graft.Fs.exists(spark, markerPath)) None
    else {
      val lines = graft.Fs.readString(spark, markerPath).trim
        .split("\n").map(_.trim)
      Some(Registration(lines(0), lines(1), lines(2)))
    }
  }

  /** The append seam's maintenance: every registered kind folds the
    * committed segments in (or reconciles, or rebuilds loudly). A no-op
    * for a table with no registered sidecar.
    */
  def afterAppend(spark: SparkSession, table: String): Unit =
    kinds.foreach(maintain(spark, table, _))

  /** The rewrite seam's maintenance: `preVersion` is the table's
    * version before the rewrite, `post` the state and `files` the file
    * count it committed (0: it lost its race and committed nothing).
    */
  def afterRewrite(spark: SparkSession, table: String, preVersion: Long,
                   post: VersionedStore.State, files: Int): Unit =
    kinds.foreach(maintainAfterRewrite(spark, table, _, preVersion, post, files))

  /** The refusals a fold, reconcile or build raises on purpose: damaged
    * or foreign `_stats`, a rewritten history, a missing file.
    */
  private def refusal(e: Throwable): Boolean = e match {
    case _: IllegalArgumentException | _: IllegalStateException |
         _: java.io.FileNotFoundException => true
    case _ => false
  }

  /** The kind's reconcile when it has one, falling back to the rebuild
    * when the reconcile refuses; the rebuild otherwise.
    */
  private def reconcileOrRebuild(spark: SparkSession, table: String, kind: Kind,
                                 reg: Registration): Unit =
    kind.reconcile match {
      case Some(reconcile) =>
        try reconcile(spark, table, reg)
        catch {
          case e: Exception if refusal(e) =>
            log.warn(s"${kind.label} reconcile of ${reg.path} failed " +
              s"(${e.getMessage}); rebuilding from the store")
            kind.rebuild(spark, table, reg)
        }
      case None => kind.rebuild(spark, table, reg)
    }

  /** Seam maintenance of one kind: fold; reconcile a rewritten history;
    * rebuild loudly on any other fold refusal.
    */
  private def maintain(spark: SparkSession, table: String, kind: Kind): Unit =
    registered(spark, table, kind).foreach { reg =>
      lock(table).synchronized {
        try kind.fold(spark, table, reg)
        catch {
          case _: VersionedStore.NotPureAppend if kind.reconcile.isDefined =>
            reconcileOrRebuild(spark, table, kind, reg)
          case e: Exception if refusal(e) =>
            log.warn(s"incremental ${kind.label} maintenance of ${reg.path} failed " +
              s"(${e.getMessage}); rebuilding from the store")
            kind.rebuild(spark, table, reg)
        }
      }
    }

  /** O(1) restamp of one kind across a provably row-preserving rewrite;
    * reconcile or rebuild otherwise, degrading to loudly-stale when that
    * fails.
    */
  private def maintainAfterRewrite(spark: SparkSession, table: String, kind: Kind,
                                   preVersion: Long, post: VersionedStore.State,
                                   files: Int): Unit =
    registered(spark, table, kind).foreach { reg =>
      lock(table).synchronized {
        val statsPath = s"${reg.path}/_stats"
        def stamp: Option[String] =
          if (!graft.Fs.exists(spark, statsPath)) None
          else {
            val st = graft.Fs.readString(spark, statsPath).trim.split(" ")
            if (st.length >= 2) Some(st.last) else None
          }
        // an abandoned rewrite (files == 0: the in-flight rewrite lost
        // its race and committed nothing) changed neither rows nor
        // version — a sidecar fresh at the current version needs nothing,
        // and rebuilding here would risk failing an operation that
        // already (vacuously) succeeded
        if (files == 0 && stamp.contains(s"v${post.version}")) ()
        else {
          val provablyExact = files > 0 && post.version == preVersion + 1 &&
            post.segments.size == 1 && stamp.contains(s"v$preVersion")
          if (provablyExact) {
            val st = graft.Fs.readString(spark, statsPath).trim.split(" ")
            graft.Fs.writeString(spark, statsPath,
              (st.init :+ s"v${post.version}").mkString(" "))
          } else {
            log.warn(s"rewrite of $table not provably row-preserving for " +
              s"the registered ${kind.label} ${reg.path}; " +
              (if (kind.reconcile.isDefined) "reconciling" else "rebuilding"))
            try reconcileOrRebuild(spark, table, kind, reg)
            catch {
              case NonFatal(e) =>
                log.warn(s"post-rewrite ${kind.label} rebuild of ${reg.path} " +
                  s"failed (${e.getMessage}); left stale — the staleness " +
                  "guard refuses to serve it until the next append's " +
                  "maintenance heals it")
            }
          }
        }
      }
    }
}
