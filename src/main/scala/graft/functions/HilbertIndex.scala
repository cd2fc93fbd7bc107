package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.sql.SparkSessionExtensions

/** The n-dimensional Hilbert d-index (Skilling's transform,
  * "Programming the Hilbert curve", AIP Conf. Proc. 707, 2004) as ONE
  * native integer loop — bit-identical to the nested
  * `aggregate`/`transform` HOF formulation it replaces (kept as the
  * spec's reference, `HilbertReference.hilbertNdExpr` in src/test):
  * the same inverse-undo pass per bit level, the same Gray decode
  * across axes, the same parity fold, the same interleave (axis 0 most
  * significant at every level).
  *
  * Why an expression: Spark's higher-order functions evaluate
  * interpreted with one closure dispatch and one ArrayData allocation
  * per lambda step — the 3-D fold at 16 bits ran ~15 levels × n axes ×
  * n-element transforms of allocations PER ROW, and dominated the
  * OPTIMIZE HILBERT rewrite's scan stage. Here the whole transform is
  * one `long[]` loop ([[HilbertCompute.compute]]). CodegenFallback is
  * deliberate and not a regression: the HOF chain this replaces was
  * itself CodegenFallback — the win is the per-row loop, not the
  * dispatch. HilbertCurveSpec pins bijection + unit-step adjacency AND
  * exact equality against the HOF formulation on full 3-D/4-D grids.
  *
  * `hilbert_nd(bits, x0, x1, ..)` — `bits` a foldable int literal,
  * coords non-negative bigints below 2^bits. NULL in ⇒ NULL out
  * (mirrors the HOF fold's null propagation).
  */
object HilbertCompute {

  /** The 2-D iterative xy2d walk — bit-identical to
    * the reference `HilbertReference.hilbertExpr`'s struct fold (same quadrant rotation,
    * same masking of the bits below the current level). */
  def compute2(x0: Long, y0: Long, bits: Int): Long = {
    var x = x0
    var y = y0
    var d = 0L
    var k = bits - 1
    while (k >= 0) {
      val bit = 1L << k
      val mask = bit - 1L
      val xb = (x >> k) & 1L
      val yb = (y >> k) & 1L
      d += bit * bit * ((3L * xb) ^ yb)
      val nx =
        if (yb == 0L && xb == 1L) mask - (y & mask)
        else if (yb == 0L) y & mask
        else x
      val ny =
        if (yb == 0L && xb == 1L) mask - (x & mask)
        else if (yb == 0L) x & mask
        else y
      x = nx
      y = ny
      k -= 1
    }
    d
  }

  /** Morton interleave: bit k of axis i lands at position k*n + i —
    * bit-identical to the OR of per-column
    * `aggregate(sequence(0, bits-1), ...)` folds it replaces. */
  def morton(xs: Array[Long], bits: Int): Long = {
    val n = xs.length
    var d = 0L
    var i = 0
    while (i < n) {
      val v = xs(i)
      var k = 0
      while (k < bits) {
        d |= ((v >> k) & 1L) << (k * n + i)
        k += 1
      }
      i += 1
    }
    d
  }

  def compute(xs: Array[Long], bits: Int): Long = {
    val n = xs.length
    // inverse-undo pass, top-down bit levels (k = bits-1 .. 1)
    var k = bits - 1
    while (k >= 1) {
      val bit = 1L << k
      val mask = bit - 1L
      var i = 0
      while (i < n) {
        if ((xs(i) & bit) != 0L) xs(0) ^= mask
        else {
          val t = (xs(0) ^ xs(i)) & mask
          xs(0) ^= t
          if (i > 0) xs(i) ^= t
        }
        i += 1
      }
      k -= 1
    }
    // Gray decode across axes (sequential: each step reads the update)
    var p = 1
    while (p < n) {
      xs(p) ^= xs(p - 1)
      p += 1
    }
    // parity fold over the LAST transposed axis's bits
    var t = 0L
    var q = bits - 1
    while (q >= 1) {
      if ((xs(n - 1) & (1L << q)) != 0L) t ^= (1L << q) - 1L
      q -= 1
    }
    // interleave: bit k of axis i (1-based) lands at position k*n + (n-i)
    var d = 0L
    var i = 0
    while (i < n) {
      val v = xs(i) ^ t
      var kk = 0
      while (kk < bits) {
        d |= ((v >> kk) & 1L) << (kk * n + (n - (i + 1)))
        kk += 1
      }
      i += 1
    }
    d
  }
}

case class CurveIndex(variant: String, children: Seq[Expression])
    extends Expression
    with CodegenFallback {

  private def bitsExpr = children.head
  private def coords = children.tail

  override def checkInputDataTypes(): TypeCheckResult = {
    val (lo, hi) = if (variant == "hilbert_2d") (2, 2) else (2, 4)
    if (coords.size < lo || coords.size > hi)
      TypeCheckResult.TypeCheckFailure(s"$variant takes (bits, x0, x1[, x2[, x3]])")
    else if (!bitsExpr.foldable || bitsExpr.dataType != org.apache.spark.sql.types.IntegerType)
      TypeCheckResult.TypeCheckFailure(s"$variant bits must be an INT literal")
    else if (coords.exists(_.dataType != LongType))
      TypeCheckResult.TypeCheckFailure(s"$variant coords must be BIGINT")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def dataType: DataType = LongType
  override def nullable: Boolean = coords.exists(_.nullable)
  override def prettyName: String = variant

  private lazy val bits: Int = bitsExpr.eval(null).asInstanceOf[Int]

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val xs = new Array[Long](coords.size)
    var i = 0
    while (i < xs.length) {
      val v = coords(i).eval(input)
      if (v == null) return null
      xs(i) = v.asInstanceOf[Long]
      i += 1
    }
    variant match {
      case "hilbert_2d" => HilbertCompute.compute2(xs(0), xs(1), bits)
      case "hilbert_nd" => HilbertCompute.compute(xs, bits)
      case _            => HilbertCompute.morton(xs, bits)
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]
  ): Expression = copy(children = newChildren)
}

object CurveIndex {
  def install(ext: SparkSessionExtensions): Unit =
    Seq("hilbert_nd", "hilbert_2d", "morton_nd").foreach { name =>
      ext.injectFunction(
        (
          new FunctionIdentifier(name),
          new ExpressionInfo(classOf[CurveIndex].getName, name),
          (children: Seq[Expression]) => CurveIndex(name, children)
        )
      )
    }
}
