package graft.ops

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Batch-built HNSW (Malkov & Yashunin 2018) — the reference's declared
  * vector-index family (`src/common/schema.py:19` offers `HNSW | IVF`;
  * build at `src/server/utils/embedding.py:348-368`). Graft closes the
  * S16 gap with the distribution model every production HNSW system
  * actually ships at scale (Lucene/Elasticsearch segments, Vespa
  * content nodes): ONE GRAPH PER PARTITION, never one global graph —
  * the graph is an in-memory pointer structure whose construction is
  * inherently sequential, so the scale unit is a bounded partition
  * (≤ [[MaxNodesPerPartition]] vectors, caller-sized like a Lucene
  * segment), and a 100 TB corpus is thousands of partition graphs built
  * in parallel by one `mapPartitions` pass and searched in parallel
  * with a per-partition top-k merged by one tiny global window. IVF
  * composition (cell-partitioned corpus → one graph per cell → probe
  * pruning picks the graphs to search) uses the same build on an
  * [[Ivf.writePartitioned]] layout.
  *
  * Determinism: the corpus is hash-repartitioned on the id and sorted
  * within partitions, node levels derive from md5(id), and every
  * distance tie breaks on insertion order — the graph bytes are a pure
  * function of (corpus, params, numPartitions).
  *
  * Exactness contract (what the oracle pins): beam search at
  * `ef >= partition size` on a CONNECTED graph visits every node, so
  * full-ef search ≡ brute force — the same contract as IVF's
  * full-probe. Connectivity is guaranteed structurally: after build,
  * any level-0 node whose pruned adjacency lost every link to an
  * earlier-inserted node gets its insertion predecessor re-linked
  * (bidirectionally), so by induction every node reaches node 0.
  * Cosine arithmetic matches [[graft.functions.VectorExpressions]]'s
  * codegen'd kernel exactly (double accumulation in array order,
  * `dot / sqrt(nx*ny)`, zero-norm → 0).
  */
object Hnsw {

  /** Per-partition graph size ceiling — a graph is a driver-free but
    * single-JVM-heap structure; size partitions like Lucene segments.
    */
  val MaxNodesPerPartition: Int = 4 << 20

  /** Hard ceiling on a search batch: queries ship in every task
    * closure, so the batch must be serving-sized, never corpus-sized
    * (64k × 384-dim floats ≈ 100 MB closure — already the practical
    * edge; anything larger is a bug caught loudly, not a driver OOM).
    */
  val MaxQueryBatch: Int = 65536

  /** `m`: out-degree target per layer (level 0 keeps 2m); `efC`: beam
    * width during construction. Defaults follow the common production
    * settings (Lucene's 16/100 class). `metric` is the reference's
    * distance enum (`COSINE`/`DOT_PRODUCT`/`EUCLIDEAN_DISTANCE` —
    * schema.py's store config): graph construction and search both
    * maximize the metric's SCORE (cosine similarity, dot product, or
    * negated euclidean distance), so the emitted `sim` column is
    * always higher-is-better.
    */
  final case class Params(m: Int = 16, efConstruction: Int = 100,
                          metric: String = "COSINE") {
    require(m >= 2 && m <= 512, s"m out of range: $m")
    require(efConstruction >= m, s"efConstruction must be >= m")
    require(Set("COSINE", "DOT_PRODUCT", "EUCLIDEAN_DISTANCE")(metric),
      s"unknown metric: $metric")
  }

  /** Maximizing score kernel per metric, double accumulation in array
    * order — the same arithmetic as the codegen'd
    * [[graft.functions.VectorExpressions]] kernels, so full-ef results
    * agree with the knn family bit for bit.
    */
  private def scoreFn(metric: String): (Array[Float], Array[Float]) => Double =
    metric match {
      case "COSINE" => cosine
      case "DOT_PRODUCT" => (a, b) => {
        val n = math.min(a.length, b.length)
        var d = 0.0; var i = 0
        while (i < n) { d += a(i).toDouble * b(i).toDouble; i += 1 }
        d
      }
      case "EUCLIDEAN_DISTANCE" => (a, b) => {
        val n = math.min(a.length, b.length)
        var s = 0.0; var i = 0
        while (i < n) {
          val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1
        }
        -math.sqrt(s)
      }
      case other => throw new IllegalArgumentException(s"unknown metric: $other")
    }

  def graphPath(path: String): String = s"$path/graph"
  def paramsPath(path: String): String = s"$path/_hnsw_params"

  // ---- deterministic level assignment ----------------------------------
  private def levelFor(idStr: String, mL: Double): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(s"hnsw-level:$idStr".getBytes("UTF-8"))
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (md(i) & 0xffL); i += 1 }
    // u in (0, 1]: (h + 1) / 2^64 over the unsigned 64-bit range
    val u = (java.lang.Math.floorMod(h, (1L << 62)) + 1.0) / (1L << 62).toDouble
    math.floor(-math.log(u) * mL).toInt
  }

  /** The repo's cosine kernel, bit-for-bit (VectorExpressions.scala:106-112). */
  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; nx += x * x; ny += y * y
      i += 1
    }
    if (nx == 0.0 || ny == 0.0) 0.0 else dot / math.sqrt(nx * ny)
  }

  /** One partition's graph under construction. Similarity is MAXIMIZED
    * (cosine); all orderings break ties on the lower node ord.
    */
  private final class LocalGraph(m: Int, efC: Int,
                                 score: (Array[Float], Array[Float]) => Double) {
    val vecs = mutable.ArrayBuffer[Array[Float]]()
    val levels = mutable.ArrayBuffer[Int]()
    // adjacency per node per level (level 0 at index 0)
    val adj = mutable.ArrayBuffer[Array[mutable.ArrayBuffer[Int]]]()
    var entry: Int = -1
    var maxLevel: Int = -1

    private def better(sA: Double, a: Int, sB: Double, b: Int): Boolean =
      sA > sB || (sA == sB && a < b)

    /** Greedy single-step descent at `level` from `ep`. */
    private def greedy(q: Array[Float], ep: Int, level: Int): Int = {
      var cur = ep
      var curSim = score(q, vecs(cur))
      var improved = true
      while (improved) {
        improved = false
        val neigh = adj(cur)(level)
        var i = 0
        while (i < neigh.length) {
          val c = neigh(i)
          val s = score(q, vecs(c))
          if (better(s, c, curSim, cur)) { cur = c; curSim = s; improved = true }
          i += 1
        }
      }
      cur
    }

    /** Beam search at `level`: the ef best nodes reachable from `ep`,
      * returned best-first. Standard HNSW SEARCH-LAYER with a visited
      * set; with ef >= nodes in the component this visits everything.
      */
    def searchLayer(q: Array[Float], ep: Int, ef: Int,
                    level: Int): mutable.ArrayBuffer[(Double, Int)] = {
      val visited = new java.util.HashSet[Integer]()
      // candidates: best first; results: worst first (bounded at ef);
      // "best" = highest sim, ties to the LOWER ord
      val ordBest: Ordering[(Double, Int)] =
        Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Int.reverse)
      val cand = mutable.PriorityQueue[(Double, Int)]()(ordBest)
      val res = mutable.PriorityQueue[(Double, Int)]()(ordBest.reverse)
      val s0 = score(q, vecs(ep))
      visited.add(ep); cand.enqueue((s0, ep)); res.enqueue((s0, ep))
      while (cand.nonEmpty) {
        val (cs, c) = cand.dequeue()
        val worst = res.head
        // stop when the best remaining candidate can no longer improve
        // a FULL result set
        if (res.size >= ef && !better(cs, c, worst._1, worst._2)) {
          cand.clear()
        } else {
          val neigh = adj(c)(level)
          var i = 0
          while (i < neigh.length) {
            val e = neigh(i)
            if (!visited.contains(e)) {
              visited.add(e)
              val es = score(q, vecs(e))
              val w = if (res.isEmpty) null else res.head
              if (res.size < ef || better(es, e, w._1, w._2)) {
                cand.enqueue((es, e)); res.enqueue((es, e))
                if (res.size > ef) res.dequeue()
              }
            }
            i += 1
          }
        }
      }
      val out = mutable.ArrayBuffer[(Double, Int)]()
      out ++= res
      out.sortInPlace()(ordBest.reverse)
      out
    }

    private def maxConn(level: Int): Int = if (level == 0) 2 * m else m

    private def pruneTo(node: Int, level: Int): Unit = {
      val cap = maxConn(level)
      val a = adj(node)(level)
      if (a.length > cap) {
        val q = vecs(node)
        val kept = a.map(c => (score(q, vecs(c)), c))
          .sortBy(t => (-t._1, t._2))
          .take(cap).map(_._2)
        adj(node)(level) = kept
      }
    }

    def insert(vec: Array[Float], level: Int): Unit = {
      val node = vecs.length
      vecs += vec
      levels += level
      adj += Array.fill(level + 1)(mutable.ArrayBuffer[Int]())
      if (entry < 0) { entry = node; maxLevel = level; return }
      var ep = entry
      var l = maxLevel
      while (l > level) { ep = greedy(vec, ep, l); l -= 1 }
      l = math.min(maxLevel, level)
      while (l >= 0) {
        val w = searchLayer(vec, ep, efC, l)
        val neighbors = w.take(m)
        neighbors.foreach { case (_, c) =>
          adj(node)(l) += c
          adj(c)(l) += node
          pruneTo(c, l)
        }
        ep = w.head._2
        l -= 1
      }
      if (level > maxLevel) { maxLevel = level; entry = node }
    }

    /** Structural connectivity guard — the full-ef ≡ brute-force
      * theorem's precondition, in two steps:
      *
      *   1. every node > 0 keeps at least one level-0 link to an
      *      earlier node (pruning can orphan one; re-link the
      *      insertion predecessor), so the UNDIRECTED level-0 graph is
      *      connected by induction;
      *   2. the level-0 adjacency is SYMMETRIZED: search follows
      *      out-links only, and [[pruneTo]] breaks the insert-time
      *      bidirectionality — a directed orphan (in-degree 0 after
      *      its backlinks were all evicted) would be invisible to the
      *      beam at ANY ef. On a symmetric graph directed reach equals
      *      undirected reach, so step 1's connectivity makes full-ef
      *      search exhaustive from any entry. Hub nodes may exceed the
      *      2m cap after symmetrization, and the symmetrized degree is
      *      UNBOUNDED in principle: an adversarial corpus (e.g. one
      *      giant tie class, where pruning sends every node's links to
      *      the same few hubs) can inflate hub degree toward O(n),
      *      degrading every beam hop that touches the hub. That tax is
      *      accepted deliberately — capping back-link degree would
      *      reopen directed-orphan holes and void the exactness
      *      GUARANTEE (stock HNSW keeps the directed graph and only
      *      promises high recall; HnswSpec's adversarial-ties spec
      *      pins that full-ef stays exact on exactly such corpora).
      */
    def ensureConnected(): Unit = {
      var i = 1
      while (i < vecs.length) {
        if (!adj(i)(0).exists(_ < i)) adj(i)(0) += (i - 1)
        i += 1
      }
      i = 0
      while (i < vecs.length) {
        val out = adj(i)(0)
        var j = 0
        while (j < out.length) {
          val v = out(j)
          if (!adj(v)(0).contains(i)) adj(v)(0) += i
          j += 1
        }
        i += 1
      }
    }

    /** Search entry: the max-level node, lowest ord on ties — derivable
      * from the serialized rows alone (no entry pointer persisted).
      */
    def searchFrom(q: Array[Float], k: Int, ef: Int): Seq[(Double, Int)] = {
      var ep = entry
      var l = maxLevel
      while (l > 0) { ep = greedy(q, ep, l); l -= 1 }
      searchLayer(q, ep, math.max(ef, k), 0).take(k).toSeq
    }
  }

  /** Build one HNSW graph per hash partition of `df` and persist as
    * parquet rows `(pid, ord, level, neighbors, <idCol>, <embCol>)` —
    * `neighbors` is the per-level adjacency by in-partition ord. One
    * shuffle (the repartition+sort), one mapPartitions, no driver
    * state; partitions build concurrently.
    */
  def build(df: DataFrame, idCol: String, embCol: String, path: String,
            params: Params = Params(), numPartitions: Int = 0): Unit = {
    val spark = df.sparkSession
    val parts = if (numPartitions > 0) numPartitions
      else df.rdd.getNumPartitions
    buildGraphs(df, idCol, embCol, params.m, params.efConstruction,
      params.metric, parts, pidOffset = 0)
      .write.mode("overwrite").parquet(graphPath(path))
    graft.Fs.delete(spark, paramsPath(path))
    graft.Fs.writeString(spark, paramsPath(path),
      s"""{"m":${params.m},"ef_construction":${params.efConstruction},"metric":"${params.metric}","num_partitions":$parts}""")
  }

  /** Append a batch as NEW partition graphs — the Lucene flush model:
    * a graph is immutable once built (inserting into a serialized
    * graph would rewrite neighbor lists across the whole partition),
    * so continuous ingest lands each batch as its own segment graphs
    * at fresh pids and search fans out over all of them. The trade is
    * the classic one: many tiny segments degrade search cost linearly
    * in segment COUNT, so batch appends to sensible sizes (or rebuild
    * — the compaction analog — when segments proliferate). Existing
    * graphs are untouched; duplicate-id hygiene is the caller's (the
    * store's anti-join seam), exactly as with [[Ivf.appendAssigned]].
    */
  def append(df: DataFrame, idCol: String, embCol: String, path: String,
             numPartitions: Int = 1): Unit = {
    val spark = df.sparkSession
    val (m, efC, metric, declaredParts) = readParams(spark, path)
    // base at max(observed max pid + 1, declared num_partitions): a
    // buildIvf index leaves EMPTY cells unrepresented in the graph
    // rows, so max(pid) alone can sit below model.k and an appended
    // segment would land at a pid < cellCeiling — searchBatchProbed
    // would then treat it as a probe-prunable cell, silently skipping
    // its rows and breaking the "appended segments are ALWAYS
    // searched" guarantee. The params sidecar's num_partitions is the
    // authoritative ceiling (an empty index has no max pid — base 0).
    val maxRow = spark.read.parquet(graphPath(path)).agg(max(col("pid"))).head()
    val base = math.max(
      if (maxRow.isNullAt(0)) 0 else maxRow.getInt(0) + 1, declaredParts)
    buildGraphs(df, idCol, embCol, m, efC, metric, numPartitions,
      pidOffset = base)
      .write.mode("append").parquet(graphPath(path))
    graft.Fs.delete(spark, paramsPath(path))
    graft.Fs.writeString(spark, paramsPath(path),
      s"""{"m":$m,"ef_construction":$efC,"metric":"$metric","num_partitions":${base + numPartitions}}""")
  }

  /** Shared loud params reader: (m, efConstruction, metric,
    * numPartitions) — numPartitions 0 for a pre-field sidecar.
    */
  private def readParams(spark: SparkSession, path: String): (Int, Int, String, Int) = {
    val pjson = graft.Fs.readString(spark, paramsPath(path))
    def field(name: String, re: String): String =
      (s""""$name":""" + re).r.findFirstMatchIn(pjson)
        .getOrElse(throw new IllegalStateException(
          s"damaged $path params: $pjson")).group(1)
    val metric =
      if (pjson.contains("\"metric\"")) field("metric", "\"([A-Z_]+)\"")
      else "COSINE" // pre-metric graphs were cosine-built
    val parts =
      if (pjson.contains("\"num_partitions\"")) field("num_partitions", "(\\d+)").toInt
      else 0
    (field("m", "(\\d+)").toInt, field("ef_construction", "(\\d+)").toInt,
      metric, parts)
  }

  private def buildGraphs(df: DataFrame, idCol: String, embCol: String,
                          m: Int, efC: Int, metric: String, parts: Int,
                          pidOffset: Int): DataFrame = {
    val src = df.select(col(idCol), col(embCol))
      .repartition(parts, col(idCol))
      .sortWithinPartitions(col(idCol))
    val idField = src.schema.head
    val schema = StructType(Seq(
      StructField("pid", IntegerType, nullable = false),
      StructField("ord", IntegerType, nullable = false),
      StructField("level", IntegerType, nullable = false),
      StructField("neighbors",
        ArrayType(ArrayType(IntegerType, containsNull = false),
          containsNull = false), nullable = false),
      idField,
      src.schema(1)))
    val mL = 1.0 / math.log(m)
    src.mapPartitions { it =>
      val pid = pidOffset + org.apache.spark.TaskContext.getPartitionId()
      val g = new LocalGraph(m, efC, scoreFn(metric))
      val ids = mutable.ArrayBuffer[Any]()
      it.foreach { r =>
        require(ids.length < MaxNodesPerPartition,
          s"HNSW partition $pid exceeds $MaxNodesPerPartition nodes — " +
            "raise numPartitions (the graph is a per-partition heap structure)")
        val vec = r.getSeq[Float](1).toArray
        g.insert(vec, levelFor(String.valueOf(r.get(0)), mL))
        ids += r.get(0)
      }
      g.ensureConnected()
      ids.indices.iterator.map { ord =>
        Row(pid, ord, g.levels(ord),
          g.adj(ord).toSeq.map(_.toSeq), ids(ord), g.vecs(ord).toSeq)
      }
    }(org.apache.spark.sql.Encoders.row(schema))
  }

  /** IVF×HNSW composition: one graph PER IVF CELL (pid = cluster_id
    * from the model's assignment), so probed search
    * ([[searchBatchProbed]]) prunes whole graphs the way IVF probe
    * filters prune partitions — the coarse quantizer picks the
    * segments, the graph replaces the in-cell exhaustive scan. Build
    * is one shuffle on cluster_id + one streaming pass (cells are
    * contiguous after the sort, so memory holds ONE cell's graph at a
    * time, whatever the cell count per task).
    */
  def buildIvf(df: DataFrame, idCol: String, embCol: String,
               model: Ivf.IvfModel, path: String,
               params: Params = Params()): Unit = {
    val spark = df.sparkSession
    val assigned = Ivf.assign(df, embCol, model)
    val src = assigned.select(col("cluster_id").cast("int").as("pid"),
        col(idCol), col(embCol))
      .repartition(col("pid"))
      .sortWithinPartitions(col("pid"), col(idCol))
    val idField = src.schema(1)
    val schema = StructType(Seq(
      StructField("pid", IntegerType, nullable = false),
      StructField("ord", IntegerType, nullable = false),
      StructField("level", IntegerType, nullable = false),
      StructField("neighbors",
        ArrayType(ArrayType(IntegerType, containsNull = false),
          containsNull = false), nullable = false),
      idField,
      src.schema(2)))
    val m = params.m; val efC = params.efConstruction
    val metric = params.metric
    val mL = 1.0 / math.log(m)
    val built = src.mapPartitions { it0 =>
      val it = it0.buffered
      new Iterator[Row] {
        private var out: Iterator[Row] = Iterator.empty
        def hasNext: Boolean = out.hasNext || it.hasNext
        def next(): Row = {
          if (!out.hasNext) {
            val pid = it.head.getInt(0)
            val g = new LocalGraph(m, efC, scoreFn(metric))
            val ids = mutable.ArrayBuffer[Any]()
            while (it.hasNext && it.head.getInt(0) == pid) {
              val r = it.next()
              require(ids.length < MaxNodesPerPartition,
                s"HNSW cell $pid exceeds $MaxNodesPerPartition nodes — refit " +
                  "the IVF model with more cells")
              g.insert(r.getSeq[Float](2).toArray,
                levelFor(String.valueOf(r.get(1)), mL))
              ids += r.get(1)
            }
            g.ensureConnected()
            out = ids.indices.iterator.map { ord =>
              Row(pid, ord, g.levels(ord),
                g.adj(ord).toSeq.map(_.toSeq), ids(ord), g.vecs(ord).toSeq)
            }
          }
          out.next()
        }
      }
    }(org.apache.spark.sql.Encoders.row(schema))
    built.write.mode("overwrite").parquet(graphPath(path))
    graft.Fs.delete(spark, paramsPath(path))
    graft.Fs.writeString(spark, paramsPath(path),
      s"""{"m":$m,"ef_construction":$efC,"metric":"$metric","num_partitions":${model.k}}""")
  }

  /** Load a partition's rows back into a searchable graph. */
  private def reconstruct(rows: Seq[Row], m: Int, efC: Int,
                          metric: String): (LocalGraph, IndexedSeq[Any]) = {
    val sorted = rows.sortBy(_.getInt(1))
    val g = new LocalGraph(m, efC, scoreFn(metric))
    sorted.foreach { r =>
      g.vecs += r.getSeq[Float](5).toArray
      val lvl = r.getInt(2)
      g.levels += lvl
      // inner arrays deserialize as mutable.ArraySeq — read at the
      // collection.Seq supertype, never cast to immutable.Seq
      g.adj += r.getSeq[scala.collection.Seq[Int]](3)
        .map(l => mutable.ArrayBuffer.from(l)).toArray
      if (lvl > g.maxLevel) { g.maxLevel = lvl; g.entry = g.vecs.length - 1 }
    }
    (g, sorted.map(_.get(4)).toIndexedSeq)
  }

  /** Batch search: every partition graph answers every query with a
    * local beam (`ef`), and one global window keeps the per-query
    * top-k — the Lucene multi-segment search shape. The query batch is
    * collected (bounded: a serving batch) and shipped in the task
    * closure. Returns `(<qidCol>, rank, <idCol>, sim)`.
    */
  def searchBatch(spark: SparkSession, path: String, queries: DataFrame,
                  qidCol: String, qEmbCol: String, k: Int,
                  ef: Int): DataFrame =
    searchImpl(spark, path, queries, qidCol, qEmbCol, k, Seq(ef),
      probesFor = _ => Set.empty, cellCeiling = Int.MaxValue)
      .drop("__ef")

  /** IVF×HNSW probed batch search over a [[buildIvf]] index: each
    * query computes its `nProbe` nearest cells from the SAME IvfModel
    * the index was built with, and only those cells' graphs run its
    * beam — the two-level 100 TB shape (coarse quantizer prunes
    * segments, graph search replaces the in-cell scan). Segment graphs
    * at pids >= model.k — batches landed by [[append]] AFTER the cell
    * build, which belong to no cell — are ALWAYS searched (probe
    * pruning only applies to cells; silently skipping appended data
    * would be the stale-sidecar failure mode this module refuses
    * elsewhere). At `nProbe = model.k` every cell is probed and the
    * result equals [[searchBatch]] (and, at full ef, exact kNN).
    */
  def searchBatchProbed(spark: SparkSession, path: String,
                        queries: DataFrame, qidCol: String, qEmbCol: String,
                        k: Int, ef: Int, model: Ivf.IvfModel,
                        nProbe: Int): DataFrame = {
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    searchImpl(spark, path, queries, qidCol, qEmbCol, k, Seq(ef),
      probesFor = qv => model.probeOrder(qv).take(nProbe).toSet,
      cellCeiling = model.k)
      .drop("__ef")
  }

  /** Shared search core over a ladder of beam widths: every graph is
    * reconstructed ONCE and answers every (query, ef) rung from memory
    * (the reconstruct dominates a tuning sweep — beams share it).
    * Emits a `__ef` column; single-ef callers drop it, [[tuneEf]]
    * groups on it.
    */
  private def searchImpl(spark: SparkSession, path: String,
                         queries: DataFrame, qidCol: String, qEmbCol: String,
                         k: Int, efs: Seq[Int],
                         probesFor: Array[Float] => Set[Int],
                         cellCeiling: Int): DataFrame = {
    require(k >= 1 && efs.nonEmpty && efs.forall(_ >= 1),
      s"k and every ef must be >= 1, got k=$k efs=$efs")
    val (m, efC, metric, _) = readParams(spark, path)
    val graph = spark.read.parquet(graphPath(path))
    // the query batch ships in every task closure — bounded LOUDLY
    // (the collectEvalVectors discipline): a corpus-sized `queries`
    // argument is a bug, and a silent driver-OOM is the failure mode
    // this ceiling exists to prevent
    val qCollected = queries.select(col(qidCol), col(qEmbCol))
      .limit(MaxQueryBatch + 1).collect()
    require(qCollected.length <= MaxQueryBatch,
      s"query batch exceeds $MaxQueryBatch rows — batch search ships " +
        "queries in the task closure by construction; split the batch " +
        "or join against the index instead")
    val qRows = qCollected
      .map { r =>
        val qv = r.getSeq[Float](1).toArray
        (r.get(0), qv, probesFor(qv))
      }
    val qidField = queries.select(col(qidCol)).schema.head
    val idField = graph.schema(4)
    val outSchema = StructType(Seq(
      qidField, StructField("__ef", IntegerType, nullable = false),
      idField.copy(name = "__cand"),
      StructField("sim", DoubleType, nullable = false)))
    // sort pids contiguous so a task holds ONE graph's rows at a time
    // (the buildIvf streaming discipline — a task co-hashing several
    // 4M-node graphs must not materialize them together), and ords
    // arrive pre-sorted for reconstruct
    val local = graph.repartition(col("pid"))
      .sortWithinPartitions(col("pid"), col("ord"))
      .mapPartitions { it0 =>
        val it = it0.buffered
        val groups = new Iterator[Seq[Row]] {
          def hasNext: Boolean = it.hasNext
          def next(): Seq[Row] = {
            val pid = it.head.getInt(0)
            val buf = mutable.ArrayBuffer[Row]()
            while (it.hasNext && it.head.getInt(0) == pid) buf += it.next()
            buf.toSeq
          }
        }
        groups.flatMap { rows =>
          val pid = rows.head.getInt(0)
          // empty probe set = unprobed search; pids at/above the cell
          // ceiling are appended segments — always searched; a graph
          // with no interested queries is never even reconstructed
          val interested = qRows.filter(q =>
            q._3.isEmpty || pid >= cellCeiling || q._3.contains(pid))
          if (interested.isEmpty) Iterator.empty
          else {
            val (g, ids) = reconstruct(rows, m, efC, metric)
            interested.iterator.flatMap { case (qid, qv, _) =>
              efs.iterator.flatMap { ef =>
                g.searchFrom(qv, k, math.min(ef, rows.size))
                  .map { case (sim, ord) => Row(qid, ef, ids(ord), sim) }
              }
            }
          }
        }
      }(org.apache.spark.sql.Encoders.row(outSchema))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(qidCol), col("__ef"))
      .orderBy(col("sim").desc, col("__cand").asc)
    local.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(qidCol), col("__ef"), col("rank"),
        col("__cand").as(idField.name), col("sim"))
  }

  /** Single-vector search (the chat-retrieval shape): one query through
    * [[searchBatch]]. Returns `(<idCol>, sim)` best-first.
    */
  def search(spark: SparkSession, path: String, queryVec: Array[Float],
             k: Int, ef: Int): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    val q = Seq((0L, queryVec.toSeq)).toDF("__qid", "__qv")
    val idName = spark.read.parquet(graphPath(path)).schema(4).name
    searchBatch(spark, path, q, "__qid", "__qv", k, ef)
      .orderBy(col("rank"))
      .select(col(idName), col("sim"))
  }

  /** ef auto-tuning — [[Ivf.tuneNProbe]]'s mirror for the graph index
    * (the recall curve a production deployment needs before it can
    * pick its beam width): the smallest ef in `efLadder` whose
    * measured recall@k on a bounded, deterministic query sample
    * reaches `targetRecall`, plus the whole curve for observability.
    *
    * Cost shape: ONE exact batch similarity join of the sample against
    * the indexed vectors (ground truth — the graph parquet already
    * carries id+embedding, so no source table is touched), then ONE
    * multi-ef search pass through [[searchImpl]]: every graph is
    * reconstructed once and answers every (query, ef) rung from
    * memory. Recall@k here counts true-neighbor retrievals, so a
    * returned candidate tying a truth row's score but differing in id
    * counts as a miss — the strict reading, matching tuneNProbe.
    *
    * Returns `(ef, curve)` where curve = one row per rung
    * `(ef, n_hits, recall_micros)` — exact integers only.
    * `recall_micros` is the [[Tables.micros]] convention computed in
    * pure integer arithmetic ([[recallMicros]]), and `chosen` is the
    * first rung whose `recall_micros >= targetMicros(targetRecall)` —
    * the SAME comparison a consumer re-deriving "first rung meeting
    * target" from the published curve makes, so the two can never
    * disagree (`round(double, n)` on an exact ratio is banned by the
    * repo's own micros convention). Falls back to the ladder max when
    * even it misses the target; include a rung ≥ the largest partition
    * size to make that rung exact by the full-ef theorem.
    */
  def tuneEf(spark: SparkSession, path: String, sampleQueries: DataFrame,
             qidCol: String, qEmbCol: String, k: Int, targetRecall: Double,
             efLadder: Seq[Int] = Seq(16, 32, 64, 128, 256)): (Int, DataFrame) = {
    require(targetRecall > 0.0 && targetRecall <= 1.0,
      s"targetRecall must be in (0, 1] (got $targetRecall)")
    require(efLadder.nonEmpty && efLadder.forall(_ >= 1),
      s"efLadder must be non-empty positive (got $efLadder)")
    val (_, _, metric, _) = readParams(spark, path)
    val graph = spark.read.parquet(graphPath(path))
    val idName = graph.schema(4).name
    val embName = graph.schema(5).name
    val q = sampleQueries.select(col(qidCol), col(qEmbCol))
      .filter(col(qEmbCol).isNotNull)
    // ground truth: exact top-k over the indexed vectors, checkpointed
    // because both the denominator count and the hit join read it
    val truth = Similarity.similarityJoin(q,
        graph.select(col(idName), col(embName)),
        qidCol, qEmbCol, idName, embName, k, metric)
      .select(col(qidCol), col(idName))
      .localCheckpoint()
    val total = truth.count()
    require(total > 0, "tuneEf needs a non-empty ground-truth sample")
    val efs = efLadder.distinct.sorted
    val hits = searchImpl(spark, path, q, qidCol, qEmbCol, k, efs,
      probesFor = _ => Set.empty, cellCeiling = Int.MaxValue)
    val perEf = hits.join(truth, Seq(qidCol, idName))
      .groupBy(col("__ef")).agg(count(lit(1)).as("n_hits"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val rows = efs.map(e =>
      (e, perEf.getOrElse(e, 0L), recallMicros(perEf.getOrElse(e, 0L), total)))
    val spark2 = spark
    import spark2.implicits._
    val curve = rows.toDF("ef", "n_hits", "recall_micros")
    val tgt = targetMicros(targetRecall)
    val chosen = rows.collectFirst {
      case (e, _, recM) if recM >= tgt => e
    }.getOrElse(efs.last)
    (chosen, curve)
  }

  /** Exact integer micros of the recall ratio `nHits / total` —
    * `floor(nHits·10⁶/total + ½)` computed entirely in Long arithmetic
    * (no double ever enters), so every engine and every consumer of
    * the published curve sees the identical value.
    */
  def recallMicros(nHits: Long, total: Long): Long = {
    require(total > 0, s"recall needs a positive denominator (got $total)")
    (2L * 1000000L * nHits + total) / (2L * total)
  }

  /** The target threshold in the same micros space as [[recallMicros]]. */
  def targetMicros(target: Double): Long =
    math.floor(target * 1000000d + 0.5d).toLong

  // ---- HNSW sidecar (graph index maintained through the store seams) ----

  /** Sidecar graph parameters — fixed like the Bloom sidecar's
    * geometry (the stamp carries them, so a mismatch refuses loudly):
    * the store default metric is cosine; a store wanting another
    * metric or shape builds a standalone [[build]] index instead.
    */
  val SidecarParams: Params = Params(m = 16, efConstruction = 100)

  def sidecarMarkerPath(table: String): String = s"$table/_hnsw_sidecar"

  private def paramsTag: String =
    s"${SidecarParams.m}:${SidecarParams.efConstruction}:${SidecarParams.metric}"

  /** Build the graph sidecar for a [[VersionedStore]] table
    * ([[SidecarRegistry.HnswSidecar]]). Appends fold in as new segment graphs
    * ([[append]] — the Lucene flush model, O(batch) build cost);
    * merges/deletes REPLACE rows a graph cannot un-link, so
    * non-pure-append histories refuse to the registry's loud rebuild.
    * `_stats`: `"<m>:<efC>:<metric> v<version>"`.
    */
  def buildHnswSidecarForStore(spark: SparkSession, table: String,
                               idCol: String, embCol: String,
                               path: String): Unit = {
    val v0 = VersionedStore.currentState(spark, table).map(_.version).getOrElse(0L)
    val rows = VersionedStore.read(spark, table).getOrElse(
      throw new IllegalStateException(s"no rows to index at $table"))
    graft.Fs.delete(spark, s"$path/_stats")
    build(rows, idCol, embCol, path, SidecarParams)
    val v1 = VersionedStore.currentState(spark, table).map(_.version).getOrElse(0L)
    require(v1 == v0,
      s"store $table moved from version $v0 to $v1 during the graph build; rebuild")
    graft.Fs.writeString(spark, s"$path/_stats", s"$paramsTag v$v0")
  }

  /** Fold the store's NEW segments into the sidecar as fresh segment
    * graphs — O(appended rows). The bloom-sidecar discipline verbatim:
    * damaged stats, parameter mismatches and non-pure-append histories
    * refuse as IllegalArgumentException (the registry's rebuild
    * trigger), stamp retired before the write.
    */
  def appendToHnswSidecar(spark: SparkSession, table: String,
                          idCol: String, embCol: String,
                          path: String): Unit = {
    val stats = graft.Fs.readString(spark, s"$path/_stats").trim.split(" ")
    require(stats.length >= 2 && stats(1).startsWith("v"),
      s"hnsw sidecar at $path has a damaged/unstamped _stats; rebuild with buildHnswSidecarForStore")
    require(stats(0) == paramsTag,
      s"hnsw sidecar at $path was built at ${stats(0)}, engine expects $paramsTag; rebuild")
    VersionedStore.appendedSince(spark, table, stats(1).drop(1).toLong, "hnsw sidecar",
      "a graph cannot un-link replaced rows; rebuild with buildHnswSidecarForStore")
      .foreach { case (version, newSegs) =>
        graft.Fs.delete(spark, s"$path/_stats")
        if (newSegs.nonEmpty)
          append(VersionedStore.readSegments(spark, table, newSegs), idCol, embCol, path,
            numPartitions = 1)
        graft.Fs.writeString(spark, s"$path/_stats", s"$paramsTag v$version")
      }
  }

  def registerHnswSidecar(spark: SparkSession, table: String, idCol: String,
                          embCol: String, path: String): Unit =
    SidecarRegistry.register(spark, table, SidecarRegistry.HnswSidecar,
      SidecarRegistry.Registration(path, idCol, embCol))

  def servingConfigPath(path: String): String = s"$path/_hnsw_serving"

  /** Tune the sidecar's serving beam width and PERSIST the operating
    * point — [[Ivf.tuneStore]]'s philosophy for the graph index: a
    * production serve should run at a beam width whose recall was
    * MEASURED, not folklore. Samples `maxSample` of the indexed
    * vectors themselves (deterministic hash order, the tuneStore
    * discipline), runs [[tuneEf]], and writes
    * `v1 <paramsTag> v<storeVersion> <ef> <k> <target>` to
    * [[servingConfigPath]]. The stamp binds the measurement to BOTH
    * the graph parameters and the store version: appended segments
    * change the graphs the beam runs over, so a moved store invalidates
    * the measurement — [[searchHnswSidecar]] at the tuned default then
    * refuses loudly instead of serving at an unmeasured width.
    */
  def tuneSidecarEf(spark: SparkSession, table: String, path: String,
                    k: Int, targetRecall: Double,
                    efLadder: Seq[Int] = Seq(16, 32, 64, 128, 256),
                    maxSample: Int = 256): (Int, DataFrame) = {
    requireFreshSidecar(spark, table, path)
    val graph = spark.read.parquet(graphPath(path))
    val idName = graph.schema(4).name
    val embName = graph.schema(5).name
    val sample = graph.select(col(idName), col(embName))
      .orderBy(xxhash64(col(idName)).asc, col(idName)).limit(maxSample)
      .select(col(idName).as("__tqid"), col(embName).as("__tqemb"))
    val (ef, curve) = tuneEf(spark, path, sample, "__tqid", "__tqemb",
      k, targetRecall, efLadder)
    val v = VersionedStore.currentState(spark, table).map(_.version).getOrElse(0L)
    graft.Fs.delete(spark, servingConfigPath(path))
    graft.Fs.writeString(spark, servingConfigPath(path),
      s"v1 $paramsTag v$v $ef $k $targetRecall")
    (ef, curve)
  }

  /** The persisted tuned beam width, if a serving config exists and
    * still describes this sidecar: parameter or version drift refuses
    * loudly — a config measured over different graphs (or a moved
    * store) says nothing about current recall. `k >= 0` additionally
    * pins the SERVE's k to the k the recall was measured at (the
    * stamp's 5th field): a config tuned at k=5 may have picked ef=8,
    * and serving k=50 at that width would silently void the "measured
    * operating point" guarantee — so a k mismatch refuses loudly too.
    * `k = -1` skips the check (route discovery, observability reads).
    */
  def tunedEf(spark: SparkSession, table: String, path: String,
              k: Int = -1): Option[Int] = {
    val p = servingConfigPath(path)
    if (!graft.Fs.exists(spark, p)) return None
    val parts = graft.Fs.readString(spark, p).trim.split(" ")
    require(parts.length >= 5 && parts(0) == "v1",
      s"unrecognized hnsw serving config at $p")
    require(parts(1) == paramsTag,
      s"hnsw serving config at $p was tuned at ${parts(1)}, the sidecar " +
        s"builds at $paramsTag — re-run tuneSidecarEf")
    val cur = VersionedStore.currentState(spark, table).map(_.version).getOrElse(0L)
    require(parts(2) == s"v$cur",
      s"hnsw serving config at $p (${parts(2)}) was measured before $table " +
        s"moved to v$cur — appended segments change the graphs the beam " +
        "runs over; re-run tuneSidecarEf")
    require(k < 0 || parts(4).toInt == k,
      s"hnsw serving config at $p was tuned at k=${parts(4)} but this serve " +
        s"asks k=$k — its recall says nothing about a different k; re-run " +
        "tuneSidecarEf at this k (or pass an explicit ef)")
    Some(parts(3).toInt)
  }

  private[ops] def requireFreshSidecar(spark: SparkSession, table: String,
                                       path: String): Unit = {
    val stats = graft.Fs.readString(spark, s"$path/_stats").trim.split(" ")
    require(stats.length >= 2,
      s"hnsw sidecar at $path has a damaged _stats; rebuild with buildHnswSidecarForStore")
    require(stats(0) == paramsTag,
      s"hnsw sidecar at $path was built at ${stats(0)}, engine expects $paramsTag; rebuild")
    val cur = VersionedStore.currentState(spark, table).map(_.version).getOrElse(0L)
    require(stats(1) == s"v$cur",
      s"hnsw sidecar at $path (${stats.lift(1).getOrElse("-")}) is stale against " +
        s"$table (v$cur) — run appendToHnswSidecar first")
  }

  /** Serve a query batch from the maintained sidecar — refuses a stale
    * sidecar loudly (stamp ≠ store version): a stale graph silently
    * misses freshly ingested rows. `ef = 0` (the default) serves at
    * the [[tuneSidecarEf]]-persisted width when the config exists —
    * which also pins this serve's `k` to the tuned k (a width whose
    * recall was measured at k=5 says nothing about k=50; mismatches
    * refuse loudly) — and at the conservative `max(64, 4k)` otherwise;
    * an explicit `ef > 0` bypasses the config entirely.
    */
  def searchHnswSidecar(spark: SparkSession, table: String, path: String,
                        queries: DataFrame, qidCol: String, qEmbCol: String,
                        k: Int, ef: Int = 0): DataFrame = {
    require(ef >= 0, s"ef: 0 = tuned-or-default, else explicit (got $ef)")
    requireFreshSidecar(spark, table, path)
    val width =
      if (ef > 0) ef
      else tunedEf(spark, table, path, k).getOrElse(math.max(64, 4 * k))
    searchBatch(spark, path, queries, qidCol, qEmbCol, k, width)
  }
}
