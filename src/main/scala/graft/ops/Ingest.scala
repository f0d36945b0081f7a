package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.pinned
import graft.embed.{EmbedText, Embedder}

/** The ingestion pipeline (SURVEY.md §3.2): load → split → metadata ids →
  * exact dedup → embed → idempotent merge into a vector-store table.
  *
  * The store is a [[VersionedStore]] parquet table (immutable segments +
  * an atomically-swapped manifest pointer — the transactionality the
  * reference inherits from Oracle) with the reference's chunk schema
  * (`id, text, metadata MAP, embedding ARRAY<FLOAT>`; FIXTURES.md §2) and
  * a JSON sidecar manifest playing the role of the `GENAI:` table-comment
  * catalog (S12/S17, `src/server/utils/embedding.py:43-58,370-373`).
  *
  * Idempotency is the S15 semantics (`embedding.py:352-358`): a left-anti
  * join on the content-derived id before append — re-ingesting the same
  * corpus adds zero rows. At scale the anti-join is a shuffle equi-join on
  * the id; everything upstream of it is narrow (split/dedup/embed run
  * map-side per partition).
  */
object Ingest {

  /** One vector-store config = one table, named by the reference's
    * derivation: upper(non-alnum → '_') over the config fields
    * (`src/common/functions.py:47-75`).
    */
  case class StoreConfig(alias: String, model: String, chunkSize: Int,
                         chunkOverlap: Int, distanceMetric: String = "COSINE",
                         indexType: String = "HNSW") {
    def tableName: String =
      s"${alias}_${model}_${chunkSize}_${chunkOverlap}_${distanceMetric}_$indexType"
        .replaceAll("[^A-Za-z0-9]", "_").toUpperCase
    def toJson: String =
      s"""{"alias":"$alias","model":"$model","chunk_size":$chunkSize,""" +
        s""""chunk_overlap":$chunkOverlap,"distance_metric":"$distanceMetric","index_type":"$indexType"}"""
  }

  case class IngestResult(chunksIn: Long, deduped: Long, appended: Long, storeRows: Long)

  /** Run the full pipeline into `storeDir/<tableName>`. Returns counts at
    * each stage (the reference logs the same counts, A1).
    */
  def ingest(spark: SparkSession, docs: DataFrame, idCol: String, textCol: String,
             storeDir: String, config: StoreConfig, embedder: Embedder): IngestResult = {
    val path = s"$storeDir/${config.tableName}"
    val chunks = Split.chunkDocs(docs, idCol, textCol,
        t => Split.recursive(t, config.chunkSize, config.chunkOverlap))
      .withColumn("id", Split.contentKey(col("chunk_text")))
      .select(
        col("id"),
        col("chunk_text").as("text"),
        map(
          lit("source"), col(idCol).cast("string"),
          lit("start_index"), col("chunk_start").cast("string"),
          lit("chunk_id"), col("chunk_id")).as("metadata"))
    pinned(chunks) { chunks =>
      // the split runs exactly once: this count materializes the cache the
      // dedup pass reads (previously the count re-ran the whole split UDF)
      val chunksIn = chunks.count()

      // P5 exact dedup by content (embedding.py:296-304) — content-keyed id
      // makes dropDuplicates(id) equivalent to dedup-by-text. The embed
      // runs through [[embedBatched]]: batches of 500 per partition, one
      // Embedder.embedBatch (= one throttle token under a
      // RateLimitedEmbedder) per batch — the reference's quantitative
      // ingest contract (embedding.py:320-338).
      pinned(embedBatched(chunks.dropDuplicates("id"), "text", embedder)) { deduped =>
        val dedupedN = deduped.count()
        // the two pins overlap without nesting: the chunks are released
        // as soon as the deduped rows hold their data, before the merge
        // (the outer pin's own release then finds nothing to do)
        chunks.unpersist()

        // S15 idempotent merge: anti-join against the existing store.
        val existing = readStore(spark, storeDir, config)
        // count(*) over parquet decodes no columns — near-metadata cost,
        // unlike a full post-append table re-read
        val existingN = existing.map(_.count()).getOrElse(0L)
        // SHUFFLE_HASH on the store-id side: when the store's id column
        // outgrows the broadcast threshold (it does — it's the whole corpus)
        // the default anti-join becomes sort-merge, which sorts the NEW
        // chunk rows together with their text + embedding payloads — the
        // same measured payload-sort cliff as the dedup verify joins. The
        // hash anti-join builds on the bare ids and streams the wide rows.
        val toAppend = existing match {
          case Some(st) =>
            deduped.join(st.select("id").hint("SHUFFLE_HASH"), Seq("id"), "left_anti")
          case None => deduped
        }
        // the append goes through the versioned manifest (atomic publish —
        // concurrent readers see the old or the new complete table, never a
        // half-written append), with the count observed on the segment write
        // itself so the anti-join (a full scan of the store's id column, at
        // scale) runs once — not count-then-write twice. A no-op re-ingest
        // publishes nothing.
        val appendedN = appendRespectingLayout(spark, path, toAppend)
        writeManifest(spark, storeDir, config)
        IngestResult(chunksIn, dedupedN, appendedN, existingN + appendedN)
      }
    }
  }

  /** S14's quantitative embed contract, engine-side: append an
    * `outCol` ARRAY<FLOAT> embedding column computed in batches of
    * `batchSize` rows per partition through ONE [[Embedder.embedBatch]]
    * call each. The reference ingests in batches of 500 and sleeps
    * `60/rpm` seconds between them (`src/server/utils/embedding.py:
    * 320-338`); here the batch is exactly the unit a
    * [[graft.embed.RateLimitedEmbedder]] throttles (one token per
    * `embedBatch` call), so wrapping the embedder reproduces the
    * reference cadence: ceil(partitionRows/batchSize) model calls,
    * one sleep interval between each. `withBatchMeta` additionally
    * emits the 0-based per-partition batch index and the batch's row
    * count — the observable batch-boundary arithmetic an oracle can
    * replay. Values are identical to the per-row
    * [[graft.embed.EmbedText]] expression (the default `embedBatch`
    * maps `embed`); what batching buys at scale is amortizing the
    * per-call overhead of a REAL model API, which charges per request.
    */
  def embedBatched(df: DataFrame, textCol: String, embedder: Embedder,
                   batchSize: Int = 500, outCol: String = "embedding",
                   withBatchMeta: Boolean = false): DataFrame = {
    require(batchSize >= 1, s"batchSize must be >= 1, got $batchSize")
    import org.apache.spark.sql.types._
    // outCol is nullable: null text rows pass through embedBatch, and
    // an embedder that maps null text → null vector must surface that
    // as a null embedding (matching the per-row EmbedText expression's
    // null semantics), not as a bare NullPointerException in the encoder
    val base = df.schema
      .add(outCol, ArrayType(FloatType, containsNull = false), nullable = true)
    val schema =
      if (withBatchMeta)
        base.add("batch_idx", LongType, nullable = false)
          .add("batch_size", IntegerType, nullable = false)
      else base
    val ti = df.schema.fieldIndex(textCol)
    df.mapPartitions { it =>
      it.grouped(batchSize).zipWithIndex.flatMap { case (rows, bi) =>
        val vecs = embedder.embedBatch(
          rows.map(r => if (r.isNullAt(ti)) null else r.getString(ti)))
        // a real model API can return a partial batch after a per-item
        // failure; zipping short would silently DROP input rows
        require(vecs.length == rows.length,
          s"embedBatch returned ${vecs.length} vectors for ${rows.length} " +
            "texts — a partial batch must fail loudly, not lose rows")
        rows.lazyZip(vecs).map { (r, v) =>
          val vSeq: Any = if (v == null) null else v.toSeq
          val extra: Seq[Any] =
            if (withBatchMeta) Seq(vSeq, bi.toLong, rows.size)
            else Seq(vSeq)
          org.apache.spark.sql.Row.fromSeq(r.toSeq ++ extra)
        }
      }
    }(org.apache.spark.sql.Encoders.row(schema))
  }

  /** Append chunk rows into a store table WITHOUT degrading its layout:
    * an IVF-indexed store (it carries a model sidecar) appends through
    * [[Ivf.appendAssigned]] so its cluster-partitioned layout — and
    * probe-time partition pruning — survives continuous ingestion,
    * mirroring the reference's re-index-after-merge
    * (`src/server/utils/embedding.py:348-368`) without rewriting
    * existing data; an unindexed store appends flat. Every writer into a
    * store table (batch [[ingest]], streaming
    * [[graft.streaming.IncrementalIngest]]) must come through here: a
    * flat segment landing in a clustered store fails the next read
    * loudly (strict union), and this is the seam that prevents it.
    */
  /** The append seam's cluster-drift advisory: after an append into an
    * IVF-indexed store, the largest-cluster load vs the balanced ideal,
    * and whether a re-index is advised at `threshold`. Continuous-ingest
    * users read the LAST advisory per table here ([[driftAdvisory]])
    * instead of polling [[Ivf.needsReindex]] themselves; crossing the
    * threshold is also WARN-logged by the seam.
    */
  final case class DriftAdvisory(table: String, imbalance: Double,
                                 threshold: Double) {
    def reindexAdvised: Boolean = imbalance > threshold
  }
  private val driftAdvisories =
    new java.util.concurrent.ConcurrentHashMap[String, DriftAdvisory]()
  /** Latest [[DriftAdvisory]] the seam computed for `table` (this JVM) —
    * None before the first post-append check or for unindexed stores.
    */
  def driftAdvisory(table: String): Option[DriftAdvisory] =
    Option(driftAdvisories.get(table))

  /** Derive the maintained columns a store's sidecars demand of every
    * incoming row — SQ8 code columns for a [[Quantize.quantizeStore]]d
    * table, PQ codes (residual or plain) for a [[Pq.pqStore]]d one —
    * so appends AND merges land rows of the live schema (the strict
    * read-time union refuses anything else).
    */
  private def deriveMaintainedColumns(spark: SparkSession, table: String,
                                      df: DataFrame): DataFrame = {
    // a quantized store ([[Quantize.quantizeStore]]) carries four extra
    // columns on every row; appending bare rows would fail every
    // subsequent read on the strict union — derive them on the way in
    val df2 =
      if (graft.Fs.exists(spark, Quantize.markerPath(table)))
        Quantize.withQuantized(df,
          graft.Fs.readString(spark, Quantize.markerPath(table)).trim)
      else df
    // a PQ-encoded store ([[Pq.pqStore]]) likewise carries a codes
    // column on every row — re-derive it with the persisted codebooks.
    // Residual mode needs the row's cluster first; [[Ivf.appendAssigned]]
    // recomputes the same assignment downstream (idempotent withColumn)
    Pq.readMarker(spark, table) match {
      case Some(mk) if mk.residual =>
        val ivf = Ivf.loadModel(spark, Ivf.modelPath(table))
        Pq.encodeResiduals(Ivf.assign(df2, mk.embCol, ivf), mk.embCol,
          "cluster_id", ivf, Pq.loadModel(spark, Pq.modelPath(table)))
      case Some(mk) =>
        Pq.encode(df2, mk.embCol, Pq.loadModel(spark, Pq.modelPath(table)))
      case None => df2
    }
  }

  def appendRespectingLayout(spark: SparkSession, table: String, df: DataFrame,
                             embCol: String = "embedding",
                             driftThreshold: Double = 4.0): Long = {
    val df3 = deriveMaintainedColumns(spark, table, df)
    val indexed = graft.Fs.exists(spark, Ivf.modelPath(table))
    val n =
      if (indexed) Ivf.appendAssigned(spark, table, df3, embCol)
      else VersionedStore.appendNonEmpty(spark, table, df3)
    // a registered lexical index ([[Keyword.registerLexicalIndex]]) is
    // maintained by the same seam: the committed rows fold in at
    // O(new docs), so continuous ingestion — batch and streaming — never
    // trips the query-time staleness guard
    if (n > 0) Keyword.maintainRegisteredIndex(spark, table)
    // same seam for a registered MinHash sidecar
    // ([[Dedup.registerMinhashSidecar]]): near-dup checks against the
    // growing history stay fresh without polling
    if (n > 0) Dedup.maintainRegisteredSidecar(spark, table)
    if (n > 0) Dedup.maintainRegisteredSrpSidecar(spark, table)
    if (n > 0) Sketch.maintainRegisteredHllSidecar(spark, table)
    if (n > 0) Sketch.maintainRegisteredBloomSidecar(spark, table)
    // and a registered HNSW graph sidecar: each batch folds in as new
    // segment graphs (the Lucene flush model) — O(batch), no rebuild
    if (n > 0) Hnsw.maintainRegisteredHnswSidecar(spark, table)
    // and the fingerprint ledger: the corpus checksum folds in the new
    // segments at O(batch) via the fold identity
    if (n > 0) Profile.maintainRegisteredFingerprintSidecar(spark, table)
    // and the weighted-sample candidate ledger: each new segment folds
    // in its own A-ES top-k at O(batch); the maintained corpus sample
    // stays one (k x segments)-row fold away
    if (n > 0) Sampling.maintainRegisteredSampleSidecar(spark, table)
    // and the length-histogram ledger: per-segment bucket counts add,
    // so the corpus length distribution (and its quantile reads) stays
    // exact and fresh at O(batch)
    if (n > 0) Sketch.maintainRegisteredHistogramSidecar(spark, table)
    // drift advisory: the model is frozen at fit time, so drifted
    // appends pile into few clusters and the nProbe/k probe-cost model
    // quietly erodes — surface it at the write, when the erosion
    // happens, not at the probe, when it is already paid. One
    // partition-column-only aggregation per committed append.
    if (n > 0 && indexed) {
      Ivf.imbalanceRatio(spark, table).foreach { ratio =>
        val adv = DriftAdvisory(table, ratio, driftThreshold)
        driftAdvisories.put(adv.table, adv): Unit
        if (adv.reindexAdvised)
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            f"IVF store $table drifted: largest cluster at ${ratio}%.2fx the " +
              f"balanced load (threshold ${driftThreshold}%.1fx) — probe-time " +
              "pruning is eroding; re-run Ivf.indexStore")
      }
    }
    n
  }

  /** Layout-respecting copy-on-write upsert — [[VersionedStore.merge]]
    * with the store's own maintenance obligations honored: incoming
    * rows get the maintained columns derived (SQ8/PQ codes), an
    * IVF-indexed table keeps its cluster partitioning and fingerprint
    * stamp on the rewritten segment (the probe guard would otherwise
    * refuse the whole table), and a registered lexical index is
    * maintained afterward — a merge REPLACES rows, so the incremental
    * fold correctly refuses and the seam's rebuild path takes over.
    * Returns the number of segments rewritten.
    */
  def mergeRespectingLayout(spark: SparkSession, table: String, updates: DataFrame,
                            keyCol: String,
                            embCol: String = "embedding"): Int = {
    val derived = deriveMaintainedColumns(spark, table, updates)
    val rewritten =
      if (graft.Fs.exists(spark, Ivf.modelPath(table))) {
        val model = Ivf.loadModel(spark, Ivf.modelPath(table))
        VersionedStore.merge(spark, table,
          Ivf.assign(derived, embCol, model), keyCol,
          partitionBy = Seq("cluster_id"),
          marker = Some(model.fingerprint))._2
      } else VersionedStore.merge(spark, table, derived, keyCol)._2
    Keyword.maintainRegisteredIndex(spark, table)
    // a merge/delete REPLACES rows, so the sidecars' append folds refuse
    // (non-pure-append) and the maintenance falls through to the rebuild
    // path — stale-but-marked is the one state this seam must never leave
    Dedup.maintainRegisteredSidecar(spark, table)
    Dedup.maintainRegisteredSrpSidecar(spark, table)
    Sketch.maintainRegisteredHllSidecar(spark, table)
    Sketch.maintainRegisteredBloomSidecar(spark, table)
    Hnsw.maintainRegisteredHnswSidecar(spark, table)
    Profile.maintainRegisteredFingerprintSidecar(spark, table)
    Sampling.maintainRegisteredSampleSidecar(spark, table)
    Sketch.maintainRegisteredHistogramSidecar(spark, table)
    rewritten
  }

  /** Layout-respecting copy-on-write delete — [[VersionedStore.deleteWhere]]
    * plus the same obligations as [[mergeRespectingLayout]] (surviving
    * rows already carry their maintained columns; the rewritten segment
    * keeps the cluster layout + stamp; the lexical index rebuilds
    * through the seam). Returns the number of segments rewritten.
    */
  def deleteRespectingLayout(spark: SparkSession, table: String,
                             predicate: org.apache.spark.sql.Column): Int = {
    val rewritten =
      if (graft.Fs.exists(spark, Ivf.modelPath(table))) {
        val model = Ivf.loadModel(spark, Ivf.modelPath(table))
        VersionedStore.deleteWhere(spark, table, predicate,
          partitionBy = Seq("cluster_id"),
          marker = Some(model.fingerprint))._2
      } else VersionedStore.deleteWhere(spark, table, predicate)._2
    Keyword.maintainRegisteredIndex(spark, table)
    // a merge/delete REPLACES rows, so the sidecars' append folds refuse
    // (non-pure-append) and the maintenance falls through to the rebuild
    // path — stale-but-marked is the one state this seam must never leave
    Dedup.maintainRegisteredSidecar(spark, table)
    Dedup.maintainRegisteredSrpSidecar(spark, table)
    Sketch.maintainRegisteredHllSidecar(spark, table)
    Sketch.maintainRegisteredBloomSidecar(spark, table)
    Hnsw.maintainRegisteredHnswSidecar(spark, table)
    Profile.maintainRegisteredFingerprintSidecar(spark, table)
    Sampling.maintainRegisteredSampleSidecar(spark, table)
    Sketch.maintainRegisteredHistogramSidecar(spark, table)
    rewritten
  }

  /** Layout-respecting keyed delete — [[VersionedStore.deleteByKeys]]
    * for tombstones arriving as data (never collected to the driver),
    * with the same maintenance obligations as
    * [[deleteRespectingLayout]]. Returns segments rewritten.
    */
  def deleteKeysRespectingLayout(spark: SparkSession, table: String,
                                 keys: DataFrame, keyCol: String): Int = {
    val rewritten =
      if (graft.Fs.exists(spark, Ivf.modelPath(table))) {
        val model = Ivf.loadModel(spark, Ivf.modelPath(table))
        VersionedStore.deleteByKeys(spark, table, keys, keyCol,
          partitionBy = Seq("cluster_id"),
          marker = Some(model.fingerprint))._2
      } else VersionedStore.deleteByKeys(spark, table, keys, keyCol)._2
    Keyword.maintainRegisteredIndex(spark, table)
    // a merge/delete REPLACES rows, so the sidecars' append folds refuse
    // (non-pure-append) and the maintenance falls through to the rebuild
    // path — stale-but-marked is the one state this seam must never leave
    Dedup.maintainRegisteredSidecar(spark, table)
    Dedup.maintainRegisteredSrpSidecar(spark, table)
    Sketch.maintainRegisteredHllSidecar(spark, table)
    Sketch.maintainRegisteredBloomSidecar(spark, table)
    Hnsw.maintainRegisteredHnswSidecar(spark, table)
    Profile.maintainRegisteredFingerprintSidecar(spark, table)
    Sampling.maintainRegisteredSampleSidecar(spark, table)
    Sketch.maintainRegisteredHistogramSidecar(spark, table)
    rewritten
  }

  /** Store compaction — the small-files remedy an append-mode store
    * needs at scale: idempotent re-ingests and streaming micro-batches
    * accumulate small part files, and at 100 TB file-listing and
    * task-granularity costs start to dominate before data volume does.
    * Rewrites the live segments into ceil(rows / rowsPerFile) files and
    * publishes the swap through the [[VersionedStore]] manifest, so
    * writers need NO quiescence (an append committing mid-compaction
    * survives — the manifest CAS retries subtracting only the rewritten
    * segments) and a crash at any point leaves the previous state
    * committed and readable. Retired segments stay on disk for in-flight
    * snapshot readers; [[vacuumStore]] reclaims them. Returns the new
    * file count.
    */
  def compactStore(spark: SparkSession, storeDir: String, config: StoreConfig,
                   rowsPerFile: Long = 1L << 20): Int =
    compactTable(spark, s"$storeDir/${config.tableName}", rowsPerFile)

  /** [[compactStore]] addressed by the table path directly — the entry
    * maintenance loops (CDC auto-maintenance, cron compaction) use when
    * no StoreConfig is in hand.
    */
  def compactTable(spark: SparkSession, path: String,
                   rowsPerFile: Long = 1L << 20): Int = {
    // an indexed store must stay cluster-partitioned through compaction
    // (or one compact would undo the layout every probe depends on) and
    // the compacted segment re-stamped, or the probe-time stamp check
    // would reject it as foreign
    val preVersion = VersionedStore.currentState(spark, path).map(_.version).getOrElse(0L)
    val (post, files) =
      if (graft.Fs.exists(spark, Ivf.modelPath(path))) {
        val fp = Ivf.loadModel(spark, Ivf.modelPath(path)).fingerprint
        VersionedStore.compact(spark, path, rowsPerFile,
          partitionBy = Seq("cluster_id"), marker = Some(fp))
      } else VersionedStore.compact(spark, path, rowsPerFile)
    // a compaction preserves rows, so a registered lexical index is
    // restamped in O(1) when that is provable (sole commit, no survivor
    // segments) and rebuilt otherwise — either way it keeps serving
    Keyword.maintainRegisteredIndexAfterCompact(spark, path, preVersion, post, files)
    Dedup.maintainRegisteredSidecarAfterCompact(spark, path, preVersion, post, files)
    Dedup.maintainRegisteredSrpSidecarAfterCompact(spark, path, preVersion, post, files)
    Sketch.maintainRegisteredHllSidecarAfterCompact(spark, path, preVersion, post, files)
    Sketch.maintainRegisteredBloomSidecarAfterCompact(spark, path, preVersion, post, files)
    Hnsw.maintainRegisteredHnswSidecarAfterCompact(spark, path, preVersion, post, files)
    Profile.maintainRegisteredFingerprintSidecarAfterCompact(spark, path, preVersion, post, files)
    Sampling.maintainRegisteredSampleSidecarAfterCompact(spark, path, preVersion, post, files)
    Sketch.maintainRegisteredHistogramSidecarAfterCompact(spark, path, preVersion, post, files)
    files
  }

  /** Schema evolution: add `newCols` (name → expression over the
    * existing columns, e.g. a null literal, a derived score, a default)
    * to EVERY live row in one layout-preserving rewrite — the
    * strict-union read contract means columns cannot be added
    * per-segment, so evolution is an explicit, atomic, versioned
    * migration rather than a silent read-time null-fill (which would
    * let half-evolved tables serve half-null columns unnoticed).
    * Rides [[VersionedStore.compact]]'s race-safe swap: concurrent
    * OLD-schema appends abandon the evolution (retry after they drain)
    * rather than publishing a mixed table; after it commits, appends
    * must carry the new columns (the write-time guard enforces it).
    * Row-preserving, so a registered lexical index restamps in O(1).
    * Returns the rewritten file count (0 = lost a race, retry).
    */
  def evolveSchema(spark: SparkSession, table: String,
                   newCols: Seq[(String, org.apache.spark.sql.Column)],
                   rowsPerFile: Long = 1L << 20): Int = {
    require(newCols.nonEmpty, "evolveSchema needs at least one new column")
    val preVersion = VersionedStore.currentState(spark, table).map(_.version).getOrElse(0L)
    val reshape: DataFrame => DataFrame = df => {
      newCols.foreach { case (n, _) =>
        require(!df.columns.contains(n),
          s"evolveSchema: column $n already exists at $table")
      }
      newCols.foldLeft(df) { case (d, (n, c)) => d.withColumn(n, c) }
    }
    val (post, files) =
      if (graft.Fs.exists(spark, Ivf.modelPath(table))) {
        val fp = Ivf.loadModel(spark, Ivf.modelPath(table)).fingerprint
        VersionedStore.compact(spark, table, rowsPerFile, reshape,
          partitionBy = Seq("cluster_id"), marker = Some(fp))
      } else VersionedStore.compact(spark, table, rowsPerFile, reshape)
    Keyword.maintainRegisteredIndexAfterCompact(spark, table, preVersion, post, files)
    Dedup.maintainRegisteredSidecarAfterCompact(spark, table, preVersion, post, files)
    Dedup.maintainRegisteredSrpSidecarAfterCompact(spark, table, preVersion, post, files)
    Sketch.maintainRegisteredHllSidecarAfterCompact(spark, table, preVersion, post, files)
    Sketch.maintainRegisteredBloomSidecarAfterCompact(spark, table, preVersion, post, files)
    Hnsw.maintainRegisteredHnswSidecarAfterCompact(spark, table, preVersion, post, files)
    Profile.maintainRegisteredFingerprintSidecarAfterCompact(spark, table, preVersion, post, files)
    files
  }

  /** Small-files / manifest-growth advisory — the [[DriftAdvisory]]
    * analog for layout health: reports the live segment count, data
    * file count, and mean file size, and advises a
    * [[compactTable]] + [[VersionedStore.vacuum]] pass when segments
    * exceed `maxSegments` (manifest-listing and task-granularity costs)
    * or the mean data file runs smaller than `minAvgFileBytes` (scan
    * open/seek overhead dominates). Metadata-only: one recursive
    * listing, no data read. None for an uncommitted/empty table.
    */
  case class LayoutAdvisory(table: String, liveSegments: Int, dataFiles: Int,
                            avgFileBytes: Long, maxSegments: Int,
                            minAvgFileBytes: Long) {
    def compactionAdvised: Boolean =
      liveSegments > maxSegments ||
        (dataFiles > 1 && avgFileBytes < minAvgFileBytes)
  }

  def layoutAdvisory(spark: SparkSession, table: String,
                     maxSegments: Int = 64,
                     minAvgFileBytes: Long = 32L << 20): Option[LayoutAdvisory] =
    VersionedStore.currentState(spark, table).filter(_.segments.nonEmpty).map { st =>
      val files = st.segments.flatMap(seg =>
        graft.Fs.listFilesRecursive(spark, s"$table/$seg"))
        .filter { case (p, _) =>
          val name = p.substring(p.lastIndexOf('/') + 1)
          !name.startsWith("_") && !name.startsWith(".")
        }
      val bytes = files.map(_._2).sum
      LayoutAdvisory(table, st.segments.size, files.size,
        if (files.isEmpty) 0L else bytes / files.size,
        maxSegments, minAvgFileBytes)
    }

  /** Reclaim segments retired by [[compactStore]] and crash-orphaned
    * files, once no reader still holds the old snapshot. `graceMs`
    * protects in-flight writers' uncommitted segments (see
    * [[VersionedStore.vacuum]]); pass 0 only under known quiescence.
    */
  def vacuumStore(spark: SparkSession, storeDir: String, config: StoreConfig,
                  graceMs: Long = 60L * 60 * 1000): Seq[String] =
    VersionedStore.vacuum(spark, s"$storeDir/${config.tableName}", graceMs)

  /** S13 chunk JSON sink (`src/server/utils/embedding.py:61-75`): dump
    * split chunks as JSON in the LangChain Document dump shape that
    * [[graft.sources.DocumentSources.readChunksJson]] (S9) re-hydrates.
    */
  def writeChunksJson(chunks: DataFrame, path: String): Unit =
    chunks.select(
        col("id"),
        col("text").as("page_content"),
        col("metadata"))
      .write.mode(SaveMode.Overwrite).json(path)

  def readStore(spark: SparkSession, storeDir: String, config: StoreConfig): Option[DataFrame] =
    VersionedStore.read(spark, s"$storeDir/${config.tableName}")

  /** S17: catalog manifest sidecar (one JSON line per store). */
  private def writeManifest(spark: SparkSession, storeDir: String, config: StoreConfig): Unit =
    graft.Fs.writeString(spark, s"$storeDir/${config.tableName}.manifest.json", config.toJson)

  /** S17: the raw manifest sidecars as `(file, json)` rows — the
    * table-comment metadata SHAPE itself (field order and spelling of
    * [[StoreConfig.toJson]]), so the manifest format is pinned by an
    * oracle, not just the parsed fields [[listStores]] re-derives.
    */
  def listManifests(spark: SparkSession, storeDir: String): DataFrame = {
    val rows = graft.Fs.list(spark, storeDir)
      .filter(_.endsWith(".manifest.json"))
      .map(p => (p.substring(p.lastIndexOf('/') + 1),
        graft.Fs.readString(spark, p)))
    import spark.implicits._
    rows.toDF("file", "json")
  }

  /** S12: catalog scan — list store configs from the manifest sidecars. */
  def listStores(spark: SparkSession, storeDir: String): DataFrame = {
    val rows = graft.Fs.list(spark, storeDir)
      .filter(_.endsWith(".manifest.json"))
      .map(p => graft.Fs.readString(spark, p))
    import spark.implicits._
    val df = rows.toDF("json")
    df.select(from_json(col("json"),
      org.apache.spark.sql.types.StructType.fromDDL(
        "alias STRING, model STRING, chunk_size INT, chunk_overlap INT, " +
          "distance_metric STRING, index_type STRING")).as("c"))
      .select("c.*")
  }
}
