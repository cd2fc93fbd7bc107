package graft.operators

/** The interpreted Hilbert d-index folds, as SQL higher-order-function
  * expressions: the reference implementations the native
  * `hilbert_2d`/`hilbert_nd` expressions ([[graft.functions.HilbertCompute]])
  * are checked against in [[HilbertCurveSpec]]. The rewrite itself
  * ([[TableVersions.optimizeHilbert]]) uses only the native ones.
  */
object HilbertReference {

  /** HILBERT d-index (the standard iterative xy2d): walk bit levels
    * top-down, accumulating the sub-square index and applying the
    * quadrant rotation to (x, y) as a struct fold — O(bits) integer
    * ops per row, compute-local, no UDF. Hilbert beats Morton on range
    * locality (consecutive d values are always grid-adjacent — no
    * curve-order jumps across quadrant boundaries), at the price of
    * the rotation state that makes it 2-D-only here. Rotated
    * coordinates are MASKED to the bits below the current level
    * (future levels read only those; an unmasked `s-1-y` goes negative
    * when higher bits are set and corrupts every later level).
    * `sx`/`sy` are SQL expressions yielding non-negative bigints below
    * 2^bits. */
  def hilbertExpr(sx: String, sy: String, bits: Int): String =
    s"""aggregate(
          sequence(${bits - 1}, 0, -1),
          named_struct('x', $sx, 'y', $sy, 'd', cast(0 AS bigint)),
          (a, k) -> named_struct(
            'x', CASE WHEN ((a.y >> k) & 1) = 0 AND ((a.x >> k) & 1) = 1
                        THEN shiftleft(1L, k) - 1 - (a.y & (shiftleft(1L, k) - 1))
                      WHEN ((a.y >> k) & 1) = 0
                        THEN a.y & (shiftleft(1L, k) - 1)
                      ELSE a.x END,
            'y', CASE WHEN ((a.y >> k) & 1) = 0 AND ((a.x >> k) & 1) = 1
                        THEN shiftleft(1L, k) - 1 - (a.x & (shiftleft(1L, k) - 1))
                      WHEN ((a.y >> k) & 1) = 0
                        THEN a.x & (shiftleft(1L, k) - 1)
                      ELSE a.y END,
            'd', a.d + shiftleft(1L, k) * shiftleft(1L, k)
                   * ((3 * ((a.x >> k) & 1)) ^ ((a.y >> k) & 1))),
          a -> a.d)"""

  /** N-DIMENSIONAL Hilbert d-index — Skilling's transform
    * ("Programming the Hilbert curve", AIP Conf. Proc. 707, 2004),
    * which generalizes the 2-D rotation state to any dimension by
    * working on the TRANSPOSED code: an inverse-undo pass per bit
    * level (top-down), a Gray decode across axes, a parity fold, then
    * the d-index is the plain bit-interleave of the transposed axes
    * (axis 0 most significant at every level). All three passes are
    * sequential folds with an array<bigint> accumulator — expressed as
    * nested `aggregate`/`transform` HOFs, O(bits × n) integer ops per
    * row, compute-local, no UDF (the same discipline as the 2-D
    * [[hilbertExpr]], which stays the n = 2 fast path). Lambda
    * variables are uniquely named per nesting level — shadowed names
    * across nested HOF scopes are the one foot-gun here. `coords` are
    * SQL expressions yielding non-negative bigints below 2^bits.
    * HilbertCurveSpec pins bijection + unit-step adjacency on full 3-D
    * and 4-D grids — any mis-derived pass fails unit-step. */
  def hilbertNdExpr(coords: Seq[String], bits: Int): String = {
    val n = coords.size
    require(n >= 2 && n <= 4, "the n-d Hilbert fold supports 2-4 columns")
    val xs = coords.map(c => s"cast(($c) AS bigint)").mkString(", ")
    // t = parity fold over the LAST transposed axis's bits
    val tOfA =
      s"""aggregate(sequence(${bits - 1}, 1, -1), cast(0 AS bigint),
            (tt, qq) -> CASE WHEN (element_at(A2, $n) & shiftleft(1L, qq)) != 0
                        THEN tt ^ (shiftleft(1L, qq) - 1) ELSE tt END)"""
    s"""aggregate(
          sequence(2, $n),
          aggregate(
            sequence(${bits - 1}, 1, -1),
            array($xs),
            (X1, k1) -> aggregate(
              sequence(1, $n),
              X1,
              (A1, i1) -> CASE
                WHEN (element_at(A1, i1) & shiftleft(1L, k1)) != 0 THEN
                  transform(A1, (v1, j1) ->
                    CASE WHEN j1 = 0 THEN v1 ^ (shiftleft(1L, k1) - 1) ELSE v1 END)
                ELSE
                  transform(A1, (v1, j1) -> CASE
                    WHEN j1 = 0 OR (j1 = i1 - 1 AND i1 > 1)
                      THEN v1 ^ ((element_at(A1, 1) ^ element_at(A1, i1))
                                   & (shiftleft(1L, k1) - 1))
                    ELSE v1 END)
                END)),
          (G1, p1) -> transform(G1, (vg, jg) ->
            CASE WHEN jg = p1 - 1 THEN vg ^ element_at(G1, p1 - 1) ELSE vg END),
          A2 -> aggregate(sequence(1, $n), cast(0 AS bigint), (acc, i2) ->
                  acc | aggregate(sequence(0, ${bits - 1}), cast(0 AS bigint), (accb, k2) ->
                    accb | shiftleft(((element_at(A2, i2) ^ $tOfA) >> k2) & 1,
                                     k2 * $n + ($n - i2)))))"""
  }
}
