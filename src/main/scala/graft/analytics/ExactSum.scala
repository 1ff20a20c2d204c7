package graft.analytics

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Fast EXACT decimal sums of double columns (r21, guide §1.2 "per-task
  * work" / §4 "expression choice").
  *
  * The engine's oracle-parity discipline sums doubles through
  * `sum(CAST(v AS DECIMAL(p,s)))` — an associativity-proof exact sum
  * whose final double is bit-identical under any partitioning and
  * across engines. Correct, but measured 7× slower than `sum(double)`
  * at sf0.1 (0.90 s vs 0.13 s for 4 columns × 600k rows): every row
  * allocates a BigDecimal in the cast (via the shortest-repr string)
  * and the >18-digit sum buffer adds through java.math.BigDecimal.
  *
  * The replacement keeps the SUM EXACTLY EQUAL, row for row:
  *
  *  - fast path (the overwhelmingly common case): the row's exact
  *    decimal value round_s(v) — HALF_UP at s dp of v's shortest
  *    decimal representation, i.e. precisely what
  *    `CAST(double AS DECIMAL(p,s))` produces — is recovered as the
  *    scaled long l = round_s(v)·10ˢ via `floor(v·10ˢ + 0.5)` PLUS a
  *    rigorous ambiguity guard: l is only trusted when the computed
  *    v·10ˢ sits farther from the .5 rounding boundary than the
  *    worst-case combined float error (true error ≤ ~2 ulp of the
  *    product; the guard allows 2⁻⁴⁸ ≈ 16 ulp relative margin plus an
  *    absolute 10⁻⁷ floor for tiny values). l (or, for the product
  *    forms, the exact long product of two such rows) is then split
  *    by bits, l = a·2⁴⁰ + b·2²⁰ + c (arithmetic shift + mask — exact
  *    for either sign), and the parts accumulate in three plain LONG
  *    sums: with |l| ≤ 8·10¹⁸, |a| ≤ 8·10⁶ and b,c ∈ [0, 2²⁰), so the
  *    partial sums stay exact (no overflow) beyond 10¹² rows/group.
  *  - slow path (out of the caller's fast range, the ambiguous
  *    boundary zone, NaN, ±Inf, NULL): the row goes through the
  *    ORIGINAL decimal cast(s) and a decimal sum — exactly the old
  *    semantics, including ANSI overflow errors and non-finite
  *    behavior.
  *
  * The final value recombines per GROUP, not per row: the three long
  * sums rescale through exact decimal(38,·) arithmetic (every
  * intermediate provably inside its precision — no rounding anywhere),
  * add the slow-path decimal sum, and cast to double — the same
  * correctly-rounded BigDecimal.doubleValue as before. A sum where
  * EVERY row was null stays NULL (both partial sums null ⇒ result
  * null), matching `sum(decimal)`.
  *
  * Equality with the decimal path is spec-proven over adversarial
  * values (rounding-boundary offsets, negatives, huge and denormal
  * magnitudes, NaN/±Inf/null mixes, grouped sums, both product
  * shapes) in ExactSumSpec, and every dsum-bearing oracle hash
  * re-proves it per round. */
object ExactSum {

  /** Scaled-long view of `v` at `scale` dp: `value` = round_s(v)·10ˢ
    * (valid only under `fast`), `fast` = in `absMax` range, finite,
    * non-null, and outside the rounding-ambiguity zone. */
  private final case class Scaled(value: Column, fast: Column)

  private def scaled(v: Column, scale: Int, absMax: Double): Scaled = {
    val s = v * lit(math.pow(10, scale))
    // clamped only so floor()'s double→long conversion stays in range
    // on non-fast rows (±Inf / huge); fast-path rows are unaffected
    val sc = greatest(lit(-9.0e18), least(lit(9.0e18), s))
    val l = floor(sc + lit(0.5)) // LongType; nearest int off the boundary
    val amb = abs(s - l) + greatest(lit(1e-7), abs(s) * lit(3.6e-15)) >=
      lit(0.5)
    Scaled(l, v.isNotNull && abs(v) <= lit(absMax) && !amb)
  }

  /** Split-sum of a scaled-long expression under a fast flag, plus the
    * decimal recombination: Σ_fast l as exact decimal(38,0). The three
    * partial sums are (head, null-iff-no-fast-rows) probes too. */
  private def splitSums(l: Column, fast: Column): (Column, Column) = {
    val mask = lit((1L << 20) - 1)
    val sa = sum(when(fast, shiftright(l, 40)))
    val sb = sum(when(fast, shiftright(l, 20).bitwiseAND(mask)))
    val scl = sum(when(fast, l.bitwiseAND(mask)))
    // Σ_fast l = sa·2⁴⁰ + sb·2²⁰ + sc, all ≤ 10¹⁹ → decimal(24,0)
    // operands; (24,0)×(13,0) → (38,0) is exact at the cap
    val scaledTotal = sa.cast("decimal(24,0)") *
      lit(1L << 40).cast("decimal(13,0)") +
      sb.cast("decimal(24,0)") * lit(1L << 20).cast("decimal(7,0)") +
      scl.cast("decimal(24,0)")
    (scaledTotal.cast("decimal(38,0)"), sa)
  }

  /** Assemble fast + slow halves: ÷10^scale as an exact scale shift
    * (×decimal(1,scale) — result (38,scale); int digits ≪ capacity),
    * add the slow-path decimal sum, cast to double. */
  private def assemble(fastScaled: Column, anyFast: Column,
                       slow: Column, scale: Int): Column = {
    val shift = lit(new java.math.BigDecimal(java.math.BigInteger.ONE,
      scale)) // 10^-scale at precision 1
    val t = s"decimal(38,$scale)"
    val zero = lit(0).cast(t)
    when(anyFast.isNull && slow.isNull, lit(null).cast("double"))
      .otherwise((coalesce((fastScaled * shift).cast(t), zero) +
        coalesce(slow.cast(t), zero)).cast("double"))
  }

  private val Fast6AbsMax = 8.0e12 // scaled@6 fits a long, 10× headroom

  /** Exact decimal-sum of a DOUBLE column, returned as double —
    * drop-in for `sum(c.cast("decimal(24,6)")).cast("double")`.
    * GROUP-SIZE LIMIT: see [[dsumScaled]] — exact to ~1.26·10¹²
    * same-sign max-magnitude fast rows PER GROUP, wrapping silently
    * past it (the replaced decimal(24,6) sum stayed exact to ~10¹⁵
    * rows and then errored rather than wrapping). */
  def dsum(c: Column): Column = dsumScaled(c, 24, 6, Fast6AbsMax)

  /** Drop-in for `sum(c.cast("decimal($prec,$scale)")).cast("double")`.
    * `absMax` bounds the fast path: |v|·10^scale must stay ≤ 8·10¹⁸
    * (required here); rows beyond it take the exact decimal slow path
    * (including its ANSI overflow semantics past `prec` digits).
    *
    * GROUP-SIZE LIMIT (r22, ADVICE): the three long partial sums are
    * exact only while they fit a long — the top split carries
    * |l >> 40| ≤ ~7.3·10⁶ per max-magnitude row, so ~1.26·10¹²
    * same-sign worst-case fast rows per group wrap SILENTLY (typical
    * magnitudes push the bound far higher, and mixed signs cancel).
    * The decimal form this replaces stayed exact to ~1.25·10¹⁵ rows
    * and then nulled/errored instead of wrapping. Above ~10¹² rows
    * per group (the SCALE.md regime for ungrouped 100 TB sums), use
    * the plain decimal sum or add an intermediate grouping level. */
  def dsumScaled(c: Column, prec: Int, scale: Int,
                 absMax: Double): Column = {
    require(absMax * math.pow(10, scale) <= 8.1e18,
      s"absMax=$absMax too large for scale=$scale: scaled values must " +
        "fit a long with headroom")
    val v = c.cast("double")
    val sv = scaled(v, scale, absMax)
    val (fastScaled, anyFast) = splitSums(sv.value, sv.fast)
    val slow = sum(when(sv.fast, lit(null).cast("double")).otherwise(v)
      .cast(s"decimal($prec,$scale)"))
    assemble(fastScaled, anyFast, slow, scale)
  }

  /** Drop-in for
    * `sum(x.cast("decimal(px,sx)") * y.cast("decimal(py,sy)"))
    *    .cast("double")` — the a16 second-moment shape. The fast path
    * multiplies the two scaled longs exactly (product scaled at
    * sx+sy); callers size `xAbsMax`·`yAbsMax`·10^(sx+sy) ≤ 8·10¹⁸. */
  def dsumProduct(x: Column, px: Int, sx: Int, xAbsMax: Double,
                  y: Column, py: Int, sy: Int, yAbsMax: Double): Column = {
    require(xAbsMax * yAbsMax * math.pow(10, sx + sy) <= 8.1e18,
      "product fast range too large: scaled products must fit a long")
    val xv = x.cast("double"); val yv = y.cast("double")
    val sX = scaled(xv, sx, xAbsMax); val sY = scaled(yv, sy, yAbsMax)
    val fast = sX.fast && sY.fast
    val (fastScaled, anyFast) =
      splitSums(when(fast, sX.value * sY.value), fast)
    // the WHOLE decimal product sits under otherwise(): fast rows must
    // not pay either cast (casts cannot diverge on fast rows — their
    // ranges are far inside the decimal's digits)
    val slow = sum(when(fast, lit(null)).otherwise(
      xv.cast(s"decimal($px,$sx)") * yv.cast(s"decimal($py,$sy)")))
    assemble(fastScaled, anyFast, slow, sx + sy)
  }

  /** Drop-in for the revenue shape
    * `sum(price.cast("decimal(12,2)") * (lit(1).cast("decimal(8,6)") -
    *    disc.cast("decimal(8,6)"))).cast("double")` (q1/j2/q3). Fast
    * range: |price| ≤ 4·10⁷, |disc| ≤ 10 ⇒ scaled product ≤ 4.5·10¹⁶. */
  def dsumRevenue(price: Column, disc: Column): Column = {
    val pv = price.cast("double"); val dv = disc.cast("double")
    val sP = scaled(pv, 2, 4.0e7)
    val sD = scaled(dv, 6, 10.0)
    // (1 − round6(d)) scaled at 6 dp = 10⁶ − scaled6(d), exactly
    val oneMinus = lit(1000000L) - sD.value
    val fast = sP.fast && sD.fast
    val (fastScaled, anyFast) =
      splitSums(when(fast, sP.value * oneMinus), fast)
    // whole decimal product under otherwise() — see dsumProduct
    val slow = sum(when(fast, lit(null)).otherwise(
      pv.cast("decimal(12,2)") *
        (lit(1).cast("decimal(8,6)") - dv.cast("decimal(8,6)"))))
    assemble(fastScaled, anyFast, slow, 8)
  }
}
