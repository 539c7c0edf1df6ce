package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
import org.apache.spark.sql.types._

/** Exact order-independent money sums WITHOUT decimal accumulation.
  *
  * The decimal route (`sum(cast(x as decimal(18,4)))`) is exact but pays a
  * java.math.BigDecimal add per row: Spark widens the sum buffer to
  * DECIMAL(28,4), every `Decimal.+` goes through `toBigDecimal`, and the
  * lineitem aggregate family (q1/rollup/cube/grouping-sets) spent more time
  * accumulating than scanning (PERF_NOTES "Exact-sum decomposition", sf0.1:
  * q1 aggregation 0.85 s decimal vs 0.36 s double-sum vs 0.20 s scan-only).
  *
  * This pair replaces it with scaled-integer accumulation that never leaves
  * whole-stage codegen's primitive fast path:
  *
  *   - [[ScaledLong]]: per row, `round(x * 10000)` as a LONG — one multiply,
  *     one floor, one compare (HALF_UP away from zero, replicated exactly by
  *     the DuckDB oracle's FLOOR-based CASE; NOT `Math.round`, whose
  *     `floor(x+0.5)` misrounds 0.49999999999999994).
  *   - [[SumInt128]]: sums those longs in a 128-bit two's-complement
  *     accumulator held as two LONG buffer slots — carry propagation is
  *     three bitwise ops per row, the whole update stays in the codegen'd
  *     hash-aggregate primitive path, and 2^127 units ≈ 1.7e34 in value
  *     terms means no realistic corpus overflows it (the long-only variant
  *     would overflow a 100 TB global revenue sum at ~9.2e14).
  *
  * The DuckDB twin is just `SUM(CAST(<half_up(x*10000)> AS BIGINT))`:
  * DuckDB natively widens BIGINT sums to HUGEINT (int128), so both engines
  * accumulate the identical integer. [[Int128ToDouble]] then replicates
  * DuckDB's `CastBigintToFloating` bit for bit (same operation order, same
  * `upper == -1` special case, correctly-rounded uint64→double via the
  * sticky-bit trick), so the final doubles hash-match at ANY magnitude —
  * including sums past 2^53 where every last-ulp divergence would surface.
  */
case class ScaledLong(child: Expression, factor: Double)
    extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[ColumnBridge.AbstractType] = Seq(DoubleType)

  override def nullSafeEval(x: Any): Any =
    ScaledLong.scale(x.asInstanceOf[Double], factor)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.ScaledLong.scale($c, ${factor}D)")

  override protected def withNewChildInternal(newChild: Expression): ScaledLong =
    copy(child = newChild)
}

object ScaledLong {
  /** HALF_UP (away from zero) rounding of x*factor to a long. `y - floor(y)`
    * is exact for y >= 0 (Sterbenz below 1, floor-subtraction above), so the
    * tie compare is exact — identical to BigDecimal HALF_UP at scale 0 and
    * to C++ std::round for every finite double.
    */
  def scale(x: Double, factor: Double): Long = {
    val y = x * factor
    if (y >= 0) {
      val f = math.floor(y)
      f.toLong + (if (y - f >= 0.5) 1L else 0L)
    } else {
      val z = -y
      val f = math.floor(z)
      -(f.toLong + (if (z - f >= 0.5) 1L else 0L))
    }
  }

  /** DuckDB twin of [[scale]] over an SQL snippet (FLOOR-based so both
    * engines round identically; DuckDB's own round() is not guaranteed to
    * share Java tie behavior on every build).
    */
  def sql(x: String, factor: String): String = {
    val y = s"(($x) * $factor)"
    s"""CAST(CASE WHEN $y >= 0
       THEN FLOOR($y) + (CASE WHEN $y - FLOOR($y) >= 0.5 THEN 1 ELSE 0 END)
       ELSE -(FLOOR(-$y) + (CASE WHEN -$y - FLOOR(-$y) >= 0.5 THEN 1 ELSE 0 END))
       END AS BIGINT)"""
  }
}

/** int128 -> double, bit-identical to DuckDB's CastBigintToFloating. */
case class Int128ToDouble(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[ColumnBridge.AbstractType] = Seq(LongType, LongType)

  override def nullSafeEval(hi: Any, lo: Any): Any =
    Int128ToDouble.toDouble(hi.asInstanceOf[Long], lo.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (h, l) => s"graft.plans.Int128ToDouble.toDouble($h, $l)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Int128ToDouble =
    copy(left = l, right = r)
}

object Int128ToDouble {
  private val Pow64 = 1.8446744073709552e19 // double(2^64) == double(uint64 max)

  /** Correctly-rounded uint64 -> double (sticky-bit trick for the >=2^63
    * range, where the naive signed-cast-then-add double-rounds).
    */
  def u2d(l: Long): Double =
    if (l >= 0) l.toDouble else ((l >>> 1) | (l & 1L)).toDouble * 2.0

  /** Same operation order as DuckDB: upper == -1 is special-cased to keep
    * small negative values exact (the two-double form would cancel away the
    * low word entirely: (-1)*2^64 + u2d(2^64-42) evaluates to 0, not -42).
    */
  def toDouble(hi: Long, lo: Long): Double =
    if (hi == -1L) -u2d(~lo) - 1.0
    else u2d(lo) + hi.toDouble * Pow64
}

/** Exact 128-bit signed integer SUM over a LONG column. Buffer = (hi, lo,
  * seen); update and merge are pure primitive-long expression trees (wrap-
  * around adds + a bitwise carry), so HashAggregateExec keeps the fast
  * codegen row path. SQL semantics match SUM: null inputs are skipped,
  * an empty/all-null group yields null.
  */
case class SumInt128(child: Expression)
    extends DeclarativeAggregate with UnaryLike[Expression] with ExpectsInputTypes {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def inputTypes: Seq[ColumnBridge.AbstractType] = Seq(LongType)

  private lazy val hi = AttributeReference("hi", LongType, nullable = false)()
  private lazy val lo = AttributeReference("lo", LongType, nullable = false)()
  private lazy val seen = AttributeReference("seen", BooleanType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(hi, lo, seen)

  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0L), Literal(false))

  // wrap-around long add regardless of the session's ANSI mode — 128-bit
  // carry arithmetic DEPENDS on two's-complement wrapping in the low word
  private def wadd(a: Expression, b: Expression): Expression =
    Add(a, b, EvalMode.LEGACY)

  /** carry-out of the unsigned 64-bit add a + b = s. */
  private def carry(a: Expression, b: Expression, s: Expression): Expression =
    ShiftRightUnsigned(
      BitwiseOr(BitwiseAnd(a, b), BitwiseAnd(BitwiseOr(a, b), BitwiseNot(s))),
      Literal(63))

  override lazy val updateExpressions: Seq[Expression] = {
    val v = child
    val newLo = wadd(lo, v)
    // v sign-extended to 128 bits: high word = v >> 63
    val newHi = wadd(wadd(hi, ShiftRight(v, Literal(63))), carry(lo, v, newLo))
    Seq(
      If(IsNull(v), hi, newHi),
      If(IsNull(v), lo, newLo),
      Or(seen, IsNotNull(v)))
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    val newLo = wadd(lo.left, lo.right)
    val newHi = wadd(wadd(hi.left, hi.right), carry(lo.left, lo.right, newLo))
    Seq(newHi, newLo, Or(seen.left, seen.right))
  }

  override lazy val evaluateExpression: Expression =
    If(seen, Int128ToDouble(hi, lo), Literal(null, DoubleType))

  override protected def withNewChildInternal(newChild: Expression): SumInt128 =
    copy(child = newChild)
}

object ExactSum {
  /** Exact sum of a money/quantity double column in 1e-4 units, returned as
    * the unit count in a double (callers divide by 1e4). Column form of
    * ScaledLong→SumInt128→Int128ToDouble.
    */
  def sumUnits(c: Column): Column =
    column(SumInt128(ScaledLong(expression(c), 10000.0)).toAggregateExpression())
}
