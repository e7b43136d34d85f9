package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Divide, Expression, Literal, Multiply}
import org.apache.spark.sql.catalyst.trees.{BinaryLike, UnaryLike}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType, StructField, StructType}

import graft.plans.Kernel.expr

/** Native kernels for dense-vector math (the [[Kernel]] shape).
  *
  * Why not `zip_with`/`aggregate` or an unrolled `element_at` sum:
  * pair-join hot paths (all-pairs dedup, ANN scoring) evaluate the
  * similarity inside a BroadcastNestedLoopJoin *condition* and a
  * higher-order-function lambda or a 64-term expression tree costs
  * microseconds per pair there. These kernels evaluate as ONE node
  * running a tight primitive loop (~100 ns), a ~50× win measured at
  * sf0.1.
  *
  * Accumulation order is left-to-right from 0.0, bit-identical to the
  * `aggregate`-fold and unrolled-sum forms (and to the DuckDB oracle's
  * `list_sum(list_transform(...))`).
  *
  * Array elements must be float or double and non-null.
  */
object VectorExpressions {

  private def isFloatArray(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case other => throw new IllegalArgumentException(s"expected array<float|double>, got $other")
  }

  private def isVector(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  private def vectorTypeError(name: String, types: DataType*): Option[String] =
    types.find(!isVector(_)) match {
      case Some(t) => Some(s"$name expects array<float> or array<double>, got $t")
      case None if types.distinct.lengthCompare(1) > 0 =>
        Some(s"$name expects both arguments to have the same element type, got ${types.mkString(" vs ")}")
      case None => None
    }

  private def checkLengths(name: String, n1: Int, n2: Int): Unit =
    if (n1 != n2) throw new IllegalArgumentException(s"$name: vector length mismatch ($n1 vs $n2)")

  // ---- kernels ----

  /** Σ xᵢ·yᵢ in double precision, elements widened per side. */
  private def dot(name: String, x: ArrayData, y: ArrayData, xFloat: Boolean,
      yFloat: Boolean): Double = {
    val n = x.numElements()
    checkLengths(name, n, y.numElements())
    var s = 0.0
    var i = 0
    if (xFloat && yFloat) while (i < n) { s += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    else if (xFloat) while (i < n) { s += x.getFloat(i).toDouble * y.getDouble(i); i += 1 }
    else if (yFloat) while (i < n) { s += x.getDouble(i) * y.getFloat(i).toDouble; i += 1 }
    else while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  /** `graft_dot`: both sides share one element type (checked at analysis). */
  def dotCompute(x: ArrayData, y: ArrayData, isFloat: Boolean): Double =
    dot("graft_dot", x, y, isFloat, isFloat)

  def widenedDotCompute(x: ArrayData, y: ArrayData, xFloat: Boolean, yFloat: Boolean): Double =
    dot("graft_widened_dot", x, y, xFloat, yFloat)

  def l2NormCompute(x: ArrayData, isFloat: Boolean): Double = {
    val n = x.numElements()
    var s = 0.0
    var i = 0
    if (isFloat) while (i < n) { val e = x.getFloat(i).toDouble; s += e * e; i += 1 }
    else while (i < n) { val e = x.getDouble(i); s += e * e; i += 1 }
    math.sqrt(s)
  }

  def longDotCompute(x: ArrayData, y: ArrayData): Long = {
    val n = x.numElements()
    checkLengths("graft_long_dot", n, y.numElements())
    var s = 0L
    var i = 0
    while (i < n) { s += x.getLong(i) * y.getLong(i); i += 1 }
    s
  }

  /** All band signatures of a float vector — see [[HyperplaneSigs]]. */
  def hyperplaneSigsCompute(x: ArrayData, weights: Array[Array[Long]], bitsPerBand: Int): ArrayData = {
    val dim = weights(0).length
    checkLengths("graft_hyperplane_sigs", dim, x.numElements())
    val q = new Array[Long](dim)
    var i = 0
    while (i < dim) { q(i) = math.floor(x.getFloat(i).toDouble * 1e6).toLong; i += 1 }
    val bands = weights.length / bitsPerBand
    val sigs = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var sig = 0L
      var j = 0
      while (j < bitsPerBand) {
        val w = weights(b * bitsPerBand + j)
        var s = 0L
        var k = 0
        while (k < dim) { s += q(k) * w(k); k += 1 }
        if (s >= 0) sig |= 1L << j
        j += 1
      }
      sigs(b) = sig
      b += 1
    }
    new GenericArrayData(sigs)
  }

  // ---- expressions ----

  /** Σ aᵢ·bᵢ in double precision. Both inputs must be arrays of the
    * same float/double element type and equal length (analysis-time
    * type check; runtime length check) — the SQL-facing `graft_dot`
    * would otherwise silently read garbage on mixed inputs.
    */
  case class Dot(left: Expression, right: Expression)
      extends Kernel.Function with BinaryLike[Expression] {
    override def prettyName: String = "graft_dot"
    override def dataType: DataType = DoubleType
    override protected def typeError: Option[String] =
      vectorTypeError(prettyName, left.dataType, right.dataType)
    override lazy val replacement: Expression = Kernel.call(VectorExpressions, "dotCompute", dataType,
      Seq(left, right, Literal(isFloatArray(left.dataType))))
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** ‖a‖₂ in double precision. */
  case class L2Norm(child: Expression) extends Kernel.Function with UnaryLike[Expression] {
    override def prettyName: String = "graft_l2norm"
    override def dataType: DataType = DoubleType
    override protected def typeError: Option[String] = vectorTypeError(prettyName, child.dataType)
    override lazy val replacement: Expression = Kernel.call(VectorExpressions, "l2NormCompute", dataType,
      Seq(child, Literal(isFloatArray(child.dataType))))
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** cos(a, b) = dot(a, b) / (‖a‖·‖b‖). */
  case class Cosine(left: Expression, right: Expression)
      extends Kernel.Function with BinaryLike[Expression] {
    override def prettyName: String = "graft_cosine"
    override def dataType: DataType = DoubleType
    override protected def typeError: Option[String] =
      vectorTypeError(prettyName, left.dataType, right.dataType)
    override lazy val replacement: Expression =
      Divide(Dot(left, right), Multiply(L2Norm(left), L2Norm(right)))
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** Σ aᵢ·bᵢ over two `array<bigint>` in LONG arithmetic — the SQ8
    * candidate-scan kernel. Exact integer math (engine-portable by
    * construction — no rounding question at all), codegen'd so the
    * quantized corpus scan runs inside whole-stage codegen instead of
    * an interpreted higher-order-function fold.
    */
  case class LongDot(left: Expression, right: Expression)
      extends Kernel.Function with BinaryLike[Expression] {
    override def prettyName: String = "graft_long_dot"
    override def dataType: DataType = LongType
    override protected def typeError: Option[String] =
      if (Seq(left.dataType, right.dataType).forall {
        case ArrayType(LongType, _) => true
        case _ => false
      }) None
      else Some(s"$prettyName expects array<bigint> on both sides, " +
        s"got ${left.dataType} vs ${right.dataType}")
    override lazy val replacement: Expression = Kernel.call(VectorExpressions, "longDotCompute", dataType,
      Seq(left, right))
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** Σ aᵢ·bᵢ with PER-SIDE widening: each side may independently be
    * array<float> or array<double>, every element widens to double
    * before the multiply, accumulation in array order — bit-identical
    * to the `aggregate(zip_with(a, b, x.cast(double)·y), 0.0, +)`
    * HOF it replaces at the anchor-scoring sites (float corpus ×
    * trained double anchors). WHY it exists: higher-order-function
    * lambdas evaluate INTERPRETED, and anchor scoring runs them at
    * corpus × |anchors| volume — the r13 slice bench measured
    * q_semdedup_kmeans at 4.4× its deterministic-anchor twin purely
    * on that interpreter overhead. The same-type [[Dot]] stays strict
    * by design (the SQL-facing graft_dot must not silently mix
    * widths); this variant NAMES the widening.
    */
  case class WidenedDot(left: Expression, right: Expression)
      extends Kernel.Function with BinaryLike[Expression] {
    override def prettyName: String = "graft_widened_dot"
    override def dataType: DataType = DoubleType
    override protected def typeError: Option[String] =
      if (isVector(left.dataType) && isVector(right.dataType)) None
      else Some(s"$prettyName expects array<float|double> on each side, " +
        s"got ${left.dataType.catalogString} vs ${right.dataType.catalogString}")
    override lazy val replacement: Expression = Kernel.call(VectorExpressions, "widenedDotCompute", dataType,
      Seq(left, right, Literal(isFloatArray(left.dataType)), Literal(isFloatArray(right.dataType))))
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** All random-hyperplane LSH band signatures of a float vector, in
    * one pass: `array<long>` of `weights.length / bitsPerBand` band
    * values, where bit `j` of band `b` is the sign of the projection
    * onto hyperplane `b*bitsPerBand + j`.
    *
    * The arithmetic is EXACTLY portable to the DuckDB oracle: the
    * vector is floor-quantized to integers (`floor(v*1e6)`), the
    * hyperplane components are integers derived from md5 (see
    * [[graft.functions.Vectors.hyperplaneWeights]]), and the sign is
    * taken on an integer sum — no floating-point accumulation order
    * can ever flip a bit between engines.
    */
  case class HyperplaneSigs(child: Expression, weights: Array[Array[Long]], bitsPerBand: Int)
      extends Kernel.Function with UnaryLike[Expression] {
    require(weights.nonEmpty && weights.length % bitsPerBand == 0,
      s"plane count ${weights.length} must be a positive multiple of bitsPerBand=$bitsPerBand")
    override def prettyName: String = "graft_hyperplane_sigs"
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override protected def typeError: Option[String] = child.dataType match {
      case ArrayType(FloatType, _) => None
      case other => Some(s"$prettyName expects array<float>, got $other")
    }
    override lazy val replacement: Expression = Kernel.call(VectorExpressions, "hyperplaneSigsCompute",
      dataType, Seq(child, Kernel.const(weights), Literal(bitsPerBand)))
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  def widenedDotNative(a: Column, b: Column): Column =
    Kernel.column(WidenedDot(expr(a), expr(b)))

  def longDotNative(a: Column, b: Column): Column = Kernel.column(LongDot(expr(a), expr(b)))

  def dotNative(a: Column, b: Column): Column = Kernel.column(Dot(expr(a), expr(b)))

  /** Band signatures for `bands × bitsPerBand` md5-derived hyperplanes
    * over a `dim`-dimensional float vector (plane seeds start at 0).
    */
  def hyperplaneSigsNative(v: Column, bands: Int, bitsPerBand: Int, dim: Int): Column =
    Kernel.column(HyperplaneSigs(expr(v),
      graft.functions.Vectors.hyperplaneWeights(bands * bitsPerBand, dim), bitsPerBand))

  def normNative(a: Column): Column = Kernel.column(L2Norm(expr(a)))

  def cosineNative(a: Column, aNorm: Column, b: Column, bNorm: Column): Column =
    dotNative(a, b) / (aNorm * bNorm)

  // ---- greedy MMR ----

  private val mmrItemType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("rel_micro", LongType, nullable = false),
    StructField("maxsim_micro", LongType, nullable = false),
    StructField("score_pm", LongType, nullable = false)))

  /** GREEDY MMR selection over one probe's BOUNDED candidate list —
    * maximal marginal relevance (Carbonell & Goldstein 1998):
    * repeatedly pick argmax_c λ·rel(c) − (1−λ)·max_{s∈sel} sim(c, s),
    * ties to the smaller doc_id; the first pick (empty selection) is
    * the pure-relevance argmax. All scores are integer micro-units
    * (λ in micro, rel and sim in micro, the objective in micro²), so
    * the recurrence replays exactly in the DuckDB oracle's unrolled
    * step CTEs and in GopSpec-style driver replicas.
    *
    * Inputs: `cands` = array<struct<doc_id long, relm long>> (≤ k per
    * probe — the fused top-k, corpus-free), `pairs` = array<struct<a
    * long, b long, simm long>> with a < b covering every candidate
    * pair. A null `cands` gives null; a null `pairs` means "no
    * similarities" (a probe with < 2 candidates has no pair rows), not
    * "no answer". One call per PROBE row (≤ probes rows total — never
    * a hot path; the k² loop is ~100 ops): a tight JVM loop beats a
    * giant HOF tree whose plan alone would dwarf the work.
    */
  def mmrSelectCompute(cands: ArrayData, pairs: ArrayData, lambdaMicro: Long): ArrayData = {
    if (cands == null) return null
    val n = cands.numElements()
    val ids = new Array[Long](n)
    val rel = new Array[Long](n)
    var i = 0
    while (i < n) {
      val r = cands.getStruct(i, 2)
      ids(i) = r.getLong(0); rel(i) = r.getLong(1)
      i += 1
    }
    val sim = new java.util.HashMap[Long, java.util.HashMap[Long, Long]]()
    def put(x: Long, y: Long, s: Long): Unit = {
      val m = sim.computeIfAbsent(x, _ => new java.util.HashMap[Long, Long]())
      m.put(y, s)
    }
    i = 0
    while (pairs != null && i < pairs.numElements()) {
      val r = pairs.getStruct(i, 3)
      put(r.getLong(0), r.getLong(1), r.getLong(2))
      put(r.getLong(1), r.getLong(0), r.getLong(2))
      i += 1
    }
    val lam1 = 1000000L - lambdaMicro
    val taken = new Array[Boolean](n)
    val out = new Array[Any](n)
    var step = 0
    while (step < n) {
      var bestIdx = -1; var bestScore = 0L; var bestMs = 0L
      var c = 0
      while (c < n) {
        if (!taken(c)) {
          // maxsim is clamped at 0: a negatively-similar selected
          // item exerts no diversity penalty (mirrored in the oracle)
          var ms = 0L
          val m = sim.get(ids(c))
          var s = 0
          while (s < n) {
            if (taken(s) && m != null) {
              val v = m.getOrDefault(ids(s), 0L)
              if (v > ms) ms = v
            }
            s += 1
          }
          val score = lambdaMicro * rel(c) - lam1 * ms
          if (bestIdx < 0 || score > bestScore ||
            (score == bestScore && ids(c) < ids(bestIdx))) {
            bestIdx = c; bestScore = score; bestMs = ms
          }
        }
        c += 1
      }
      taken(bestIdx) = true
      out(step) = InternalRow(ids(bestIdx), rel(bestIdx), bestMs, bestScore)
      step += 1
    }
    new GenericArrayData(out)
  }

  /** `mmrSelect(cands, pairs, λ_micro)`: the greedy MMR pick order as
    * array<struct<doc_id, rel_micro, maxsim_micro, score_pm>>. */
  def mmrSelect(cands: Column, pairs: Column, lambdaMicro: Long): Column = {
    require(lambdaMicro >= 0L && lambdaMicro <= 1000000L,
      s"mmr lambda must be in micro-units [0, 1e6], got $lambdaMicro")
    Kernel.column(Kernel.call(this, "mmrSelectCompute", ArrayType(mmrItemType, containsNull = false),
      Seq(expr(cands), expr(pairs), Literal(lambdaMicro)),
      nullableResult = true, propagateNull = false))
  }
}
