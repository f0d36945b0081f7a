package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types._

/** Interpreted float-vector kernels shared by eval and tests.
  *
  * Distance semantics mirror the reference's vector-store metrics
  * (`COSINE | EUCLIDEAN_DISTANCE | DOT_PRODUCT`, reference
  * `src/common/schema.py:18`; searched via OracleVS at
  * `src/server/agents/chatbot.py:183`), re-expressed as codegen'd
  * Catalyst expressions over `ARRAY<FLOAT>` columns. Accumulation is
  * in double precision regardless of the float storage type so results
  * are stable and oracle-checkable.
  */
object VectorKernels {
  def cosine(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
    while (i < n) {
      val xv = x.getFloat(i).toDouble; val yv = y.getFloat(i).toDouble
      dot += xv * yv; nx += xv * xv; ny += yv * yv; i += 1
    }
    if (nx == 0.0 || ny == 0.0) 0.0 else dot / math.sqrt(nx * ny)
  }
  def dot(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var d = 0.0; var i = 0
    while (i < n) { d += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    d
  }
  def euclidean(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0; var i = 0
    while (i < n) {
      val d = x.getFloat(i).toDouble - y.getFloat(i).toDouble; s += d * d; i += 1
    }
    math.sqrt(s)
  }

  /** The `aggregate(zip_with(x, y, p·q), 0.0, +)` fold as one kernel:
    * SAME double arithmetic in the SAME order (0.0 + v₀ + v₁ + …, each
    * vᵢ the float→double product), so any IEEE engine — including this
    * one — replays it bit-identically; that property is why the bitext
    * miners pinned their oracles to this fold. Returns a boxed Double
    * or NULL with exactly the higher-order form's null semantics
    * (unequal lengths zip-pad with null, a null element nulls its
    * product, and `acc + null` is null — so any of those nulls the
    * whole dot). The point of the kernel: Spark's higher-order
    * functions are CodegenFallback — per-element interpreted lambda
    * dispatch — and this fold sat on the hot pair-scoring path of the
    * IVF bitext miner.
    */
  def seqDot(x: ArrayData, y: ArrayData): java.lang.Double = {
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    java.lang.Double.valueOf(s)
  }
}

/** Base for binary `ARRAY<FLOAT> -> DOUBLE` vector expressions.
  *
  * Null handling: a null ARRAY input yields null (BinaryExpression's
  * null-safe contract); null *elements* inside the arrays are read as
  * 0.0f (primitive access) — embeddings produced by this engine
  * (UnsafeArrayData from primitive float[]) never contain null elements,
  * and external stores should be ingested with `containsNull = false`.
  */
abstract class BinaryVectorExpression extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _                       => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two ARRAY<FLOAT> arguments, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }
}

/** Cosine similarity (not distance): dot(x,y)/sqrt(|x|^2*|y|^2); 0.0 for a zero vector. */
case class CosineSimilarity(left: Expression, right: Expression) extends BinaryVectorExpression {
  override def prettyName: String = "cosine_similarity"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (i, n) = (ctx.freshName("i"), ctx.freshName("n"))
      val (dot, nx, ny) = (ctx.freshName("dot"), ctx.freshName("nx"), ctx.freshName("ny"))
      val (xv, yv) = (ctx.freshName("xv"), ctx.freshName("yv"))
      s"""
      int $n = java.lang.Math.min($a.numElements(), $b.numElements());
      double $dot = 0.0, $nx = 0.0, $ny = 0.0;
      for (int $i = 0; $i < $n; $i++) {
        double $xv = $a.getFloat($i); double $yv = $b.getFloat($i);
        $dot += $xv * $yv; $nx += $xv * $xv; $ny += $yv * $yv;
      }
      ${ev.value} = ($nx == 0.0 || $ny == 0.0) ? 0.0 : $dot / java.lang.Math.sqrt($nx * $ny);
      """
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

case class DotProductF(left: Expression, right: Expression) extends BinaryVectorExpression {
  override def prettyName: String = "dot_product"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (i, n, d) = (ctx.freshName("i"), ctx.freshName("n"), ctx.freshName("d"))
      s"""
      int $n = java.lang.Math.min($a.numElements(), $b.numElements());
      double $d = 0.0;
      for (int $i = 0; $i < $n; $i++) {
        $d += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
      }
      ${ev.value} = $d;
      """
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

case class EuclideanDistance(left: Expression, right: Expression) extends BinaryVectorExpression {
  override def prettyName: String = "euclidean_distance"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.euclidean(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (i, n, s, d) = (ctx.freshName("i"), ctx.freshName("n"), ctx.freshName("s"), ctx.freshName("d"))
      s"""
      int $n = java.lang.Math.min($a.numElements(), $b.numElements());
      double $s = 0.0;
      for (int $i = 0; $i < $n; $i++) {
        double $d = ((double) $a.getFloat($i)) - ((double) $b.getFloat($i));
        $s += $d * $d;
      }
      ${ev.value} = java.lang.Math.sqrt($s);
      """
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object CentroidKernels {
  /** The `n` nearest centroid ids to `x`, ordered by (euclidean
    * distance asc, cid asc) — EXACTLY the `array_min`/`array_sort`
    * struct order of the k-expression formulation this replaces
    * (sqrt'd distance, `Double.compare` total order so NaN sorts
    * last, strict-less keeps the smaller cid on ties). One pass over
    * the centroid matrix per row instead of k separate expressions:
    * at k = √N the expression fan-out dominated fit/assign/probe
    * wall (139 codegen'd distance exprs + an array_sort of 139
    * structs PER ROW at the 16× probe); this is the same flops with
    * an O(1)-expression plan.
    */
  // per-thread scratch, grown to the largest k seen — the selection
  // state must not allocate k-sized arrays per row (k can be 4096)
  private val dsBuf = new ThreadLocal[Array[Double]] {
    override def initialValue(): Array[Double] = new Array[Double](0)
  }
  private val usedBuf = new ThreadLocal[Array[Boolean]] {
    override def initialValue(): Array[Boolean] = new Array[Boolean](0)
  }

  def rank(x: ArrayData, cents: Array[Array[Float]], n: Int): Array[Int] = {
    val k = cents.length
    var ds = dsBuf.get()
    if (ds.length < k) { ds = new Array[Double](k); dsBuf.set(ds) }
    var c = 0
    while (c < k) {
      val cent = cents(c)
      val m = math.min(x.numElements(), cent.length)
      var s = 0.0
      var i = 0
      while (i < m) {
        val d = x.getFloat(i).toDouble - cent(i).toDouble
        s += d * d
        i += 1
      }
      ds(c) = math.sqrt(s)
      c += 1
    }
    val outLen = math.min(math.max(0, n), k)
    val out = new Array[Int](outLen)
    if (outLen <= 16) {
      // narrow widths (assign's n=1, typical nProbe): repeated linear
      // min-scan, no allocation beyond the output
      var used = usedBuf.get()
      if (used.length < k) { used = new Array[Boolean](k); usedBuf.set(used) }
      else { var z = 0; while (z < k) { used(z) = false; z += 1 } }
      var j = 0
      while (j < outLen) {
        var best = -1
        var bd = 0.0
        var c2 = 0
        while (c2 < k) {
          if (!used(c2) && (best < 0 || java.lang.Double.compare(ds(c2), bd) < 0)) {
            best = c2; bd = ds(c2)
          }
          c2 += 1
        }
        used(best) = true
        out(j) = best
        j += 1
      }
    } else {
      // wide widths (full-probe paths, tuned nProbe near k): the
      // repeated scan is O(k·n) = O(k²) at n≈k, dwarfing the distance
      // math — argsort the SAME total order (Double.compare, cid
      // tiebreak) in O(k log k)
      val idx = new Array[Integer](k)
      var i = 0
      while (i < k) { idx(i) = Integer.valueOf(i); i += 1 }
      val dsf = ds
      java.util.Arrays.sort(idx, new java.util.Comparator[Integer] {
        override def compare(a: Integer, b: Integer): Int = {
          val c = java.lang.Double.compare(dsf(a.intValue), dsf(b.intValue))
          if (c != 0) c else Integer.compare(a.intValue, b.intValue)
        }
      })
      var j = 0
      while (j < outLen) { out(j) = idx(j).intValue; j += 1 }
    }
    out
  }

  /** Codegen entry point: one static call per row. The generated
    * consume() must NOT inline the selection loops — a plan with many
    * [[NearestCentroids]] instances (PQ encodes one per subspace) blew
    * past the JVM's huge-method JIT limit and ran INTERPRETED, a
    * measured ~50× cliff; a call into this ordinary (JIT-compiled)
    * method keeps the stage's generated code tiny whatever k and the
    * expression count are.
    */
  def rankArrayData(x: ArrayData, cents: Array[Array[Float]], n: Int): ArrayData =
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(rank(x, cents, n))

  /** Max cosine of `x` against a fixed vector matrix — the semantic-
    * decontamination kernel: one pass over the (bounded, reference-
    * object) eval matrix per row, the [[VectorKernels]] cosine
    * arithmetic per vector (double accumulation in array order,
    * zero-norm → 0). Returns -1 for an empty matrix slot... the matrix
    * is require'd non-empty at expression construction, so the loop
    * always improves on the -infinity seed.
    */
  def maxCosine(x: ArrayData, vecs: Array[Array[Float]]): Double = {
    val xn = x.numElements()
    var nx = 0.0
    var i = 0
    while (i < xn) { val v = x.getFloat(i).toDouble; nx += v * v; i += 1 }
    var best = java.lang.Double.NEGATIVE_INFINITY
    var vi = 0
    while (vi < vecs.length) {
      val w = vecs(vi)
      val n = java.lang.Math.min(xn, w.length)
      var dot = 0.0; var ny = 0.0
      var j = 0
      while (j < n) {
        val a = x.getFloat(j).toDouble; val b = w(j).toDouble
        dot += a * b; ny += b * b
        j += 1
      }
      // nx here spans the FULL x like CosineSimilarity's same-length
      // case; ragged inputs are a caller contract violation either way
      val s = if (nx == 0.0 || ny == 0.0) 0.0 else dot / java.lang.Math.sqrt(nx * ny)
      if (s > best) best = s
      vi += 1
    }
    best
  }
}

/** `ARRAY<FLOAT> × ARRAY<FLOAT> -> DOUBLE`, the sequential-fold dot
  * product ([[VectorKernels.seqDot]]) as a codegen'd expression. NOT
  * interchangeable with [[DotProductF]]: that kernel truncates to the
  * shorter array and skips no nulls; this one replays the
  * `aggregate(zip_with(...))` fold's exact null semantics and is the
  * form the engine-portable oracles pin (the sequential-fold
  * discipline).
  */
case class SequentialDotProduct(left: Expression, right: Expression)
    extends BinaryVectorExpression {
  override def prettyName: String = "sequential_dot"
  override def nullable: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.seqDot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("r")
      s"""
      java.lang.Double $r = graft.functions.VectorKernels.seqDot($a, $b);
      if ($r == null) { ${ev.isNull} = true; }
      else { ${ev.value} = $r.doubleValue(); }
      """
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `ARRAY<FLOAT> -> ARRAY<INT>`: the `n` nearest of a FIXED centroid
  * matrix (the IVF model — broadcast by expression reference, like a
  * tokenizer vocab), ordered (distance asc, cid asc). `n = 1` is
  * cluster assignment; `n = nProbe` is the probe-cell ranking. The
  * centroid payload rides the expression as a reference object, so the
  * plan stays whole-stage-codegen with ONE expression whatever k is.
  */
case class NearestCentroids(child: Expression,
                            centroids: Array[Array[Float]],
                            n: Int) extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(centroids.nonEmpty, "centroid matrix must not be empty")
  override def prettyName: String = "nearest_centroids"
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an ARRAY<FLOAT> argument, got ${other.catalogString}")
  }
  override protected def nullSafeEval(input: Any): Any =
    CentroidKernels.rankArrayData(input.asInstanceOf[ArrayData], centroids, n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // ONE static call into the JIT-compiled kernel — inlining the
    // selection loops here pushed multi-instance stages (PQ encode: one
    // expression per subspace) past the JVM's huge-method JIT limit and
    // the whole stage ran interpreted (measured ~50× on m=32 encode)
    val cents = ctx.addReferenceObj("centroids", centroids, "float[][]")
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.functions.CentroidKernels.rankArrayData($x, $cents, $n);")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `ARRAY<FLOAT> -> DOUBLE`: max cosine against a FIXED vector matrix
  * (the collected eval-set embeddings — bounded by construction: eval
  * sets are thousands of rows, not corpus-sized). The matrix rides the
  * expression as a reference object like [[NearestCentroids]]' model,
  * so semantic decontamination is ONE whole-stage-codegen expression
  * per corpus row — no join, no shuffle, whatever the eval size.
  */
case class MaxCosineToSet(child: Expression,
                          vecs: Array[Array[Float]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(vecs.nonEmpty, "eval vector matrix must not be empty")
  override def prettyName: String = "max_cosine_to_set"
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an ARRAY<FLOAT> argument, got ${other.catalogString}")
  }
  override protected def nullSafeEval(input: Any): Any =
    CentroidKernels.maxCosine(input.asInstanceOf[ArrayData], vecs)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // one static call into the JIT-compiled kernel (the NearestCentroids
    // huge-method discipline)
    val m = ctx.addReferenceObj("evalVecs", vecs, "float[][]")
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.functions.CentroidKernels.maxCosine($x, $m);")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Column-level API for the vector expressions (no registry needed). */
object VectorFunctions {
  def cosineSim(a: Column, b: Column): Column =
    ColumnShim.column(CosineSimilarity(ColumnShim.expression(a), ColumnShim.expression(b)))
  def dotProduct(a: Column, b: Column): Column =
    ColumnShim.column(DotProductF(ColumnShim.expression(a), ColumnShim.expression(b)))
  def euclidean(a: Column, b: Column): Column =
    ColumnShim.column(EuclideanDistance(ColumnShim.expression(a), ColumnShim.expression(b)))
  def nearestCentroids(emb: Column, centroids: Array[Array[Float]], n: Int): Column =
    ColumnShim.column(NearestCentroids(ColumnShim.expression(emb), centroids, n))
  def maxCosineToSet(emb: Column, vecs: Array[Array[Float]]): Column =
    ColumnShim.column(MaxCosineToSet(ColumnShim.expression(emb), vecs))
  def seqDotProduct(a: Column, b: Column): Column =
    ColumnShim.column(SequentialDotProduct(ColumnShim.expression(a), ColumnShim.expression(b)))

  /** A query vector as the `ARRAY<FLOAT>` literal `typedlit` makes of an
    * `Array[Float]` (the same value class and type, `containsNull =
    * false`), built straight from the primitive array: no Scala runtime
    * reflection per vector.
    */
  def vectorLiteral(v: Array[Float]): Literal =
    Literal(new GenericArrayData(v), ArrayType(FloatType, containsNull = false))
  def vector(v: Array[Float]): Column = ColumnShim.column(vectorLiteral(v))

  /** Score column for a metric name, mirroring the reference's metric enum. */
  def score(metric: String)(a: Column, b: Column): Column = metric match {
    case "COSINE"             => cosineSim(a, b)
    case "DOT_PRODUCT"        => dotProduct(a, b)
    case "EUCLIDEAN_DISTANCE" => euclidean(a, b)
    case other                => throw new IllegalArgumentException(s"unknown metric: $other")
  }

  /** Register SQL names so the operators are usable from spark.sql too. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("cosine_similarity", es => CosineSimilarity(es.head, es(1)), "built-in")
    reg.createOrReplaceTempFunction("dot_product_f", es => DotProductF(es.head, es(1)), "built-in")
    reg.createOrReplaceTempFunction("euclidean_distance", es => EuclideanDistance(es.head, es(1)), "built-in")
  }
}
