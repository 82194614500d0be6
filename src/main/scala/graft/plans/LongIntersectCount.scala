package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Native `size(array_intersect(a, b))` for two ARRAY<BIGINT> columns —
  * value-identical for every input (`array_intersect` dedups, so its size is
  * |distinct(a) ∩ distinct(b)|, counting a null element as one value; this
  * kernel counts exactly that set) but evaluated over the raw ArrayData with
  * an open-addressed primitive long table instead of Spark's boxed
  * OpenHashSet building TWO hash sets per call (one per array). This is the
  * dedup verify's hot path: the exact-Jaccard stage evaluates it once per
  * candidate pair over |x|- and |y|-element gram arrays, and the boxed
  * set-builds were the stage's entire task time (~0.8 ms per pair at sf0.1).
  *
  * Null semantics mirror the built-in chain: null result iff either ARRAY is
  * null (BinaryExpression nullSafeEval); null ELEMENTS count as one common
  * value when present in both arrays, exactly like `array_intersect`.
  */
object LongIntersectCount {

  /** Power-of-two open-addressing capacity (min 8) holding `n` keys at
    * load factor <= 0.5. Sized in Long: an Int `cap < n * 2` wraps for
    * n >= 2^30 and then never terminates. Larger tables cannot be allocated,
    * so they are rejected.
    */
  def tableCapacity(n: Int): Int = {
    var cap = 8L
    while (cap < 2L * n) cap <<= 1
    require(cap <= (1 << 30), s"array of $n elements exceeds the largest intersect table (2^30 slots)")
    cap.toInt
  }

  /** Runtime kernel (also the codegen target — static call). Builds the
    * table from the smaller array (load factor <= 0.5), probes with the
    * larger; per-slot matched flags make duplicate probe values count once,
    * so the result is the DISTINCT common-value count regardless of input
    * duplication. Slot value 0L marks "empty", so the value 0 and null
    * elements are tracked in side flags.
    */
  def count(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    if (na == 0 || nb == 0) return 0
    val (s, p, ns, np) = if (na <= nb) (a, b, na, nb) else (b, a, nb, na)
    val cap     = tableCapacity(ns)
    val mask    = cap - 1
    val table   = new Array[Long](cap)
    val matched = new Array[Boolean](cap)
    var zeroInS = false
    var nullInS = false
    var i = 0
    while (i < ns) {
      if (s.isNullAt(i)) nullInS = true
      else {
        val v = s.getLong(i)
        if (v == 0L) zeroInS = true
        else {
          var idx = mix(v) & mask
          while (table(idx) != 0L && table(idx) != v) idx = (idx + 1) & mask
          table(idx) = v
        }
      }
      i += 1
    }
    var cnt = 0
    var zeroCounted = false
    var nullCounted = false
    i = 0
    while (i < np) {
      if (p.isNullAt(i)) {
        if (nullInS && !nullCounted) { cnt += 1; nullCounted = true }
      } else {
        val v = p.getLong(i)
        if (v == 0L) {
          if (zeroInS && !zeroCounted) { cnt += 1; zeroCounted = true }
        } else {
          var idx = mix(v) & mask
          while (table(idx) != 0L && table(idx) != v) idx = (idx + 1) & mask
          if (table(idx) == v && !matched(idx)) { matched(idx) = true; cnt += 1 }
        }
      }
      i += 1
    }
    cnt
  }

  private def mix(v: Long): Int = {
    val h = v * 0x9E3779B97F4A7C15L
    (h ^ (h >>> 32)).toInt
  }

  /** `LongIntersectCount(a, b)` — Column handle over the native expression. */
  def apply(a: Column, b: Column): Column =
    Bridge.column(LongIntersectCountExpr(Bridge.expression(a), Bridge.expression(b)))
}

case class LongIntersectCountExpr(left: Expression, right: Expression) extends BinaryExpression {

  private def isLongArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(LongType, _) => true
    case _                      => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isLongArray(left) && isLongArray(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"long_intersect_count expects two ARRAY<BIGINT> args, got " +
        s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")

  override def dataType: DataType = IntegerType

  override protected def nullSafeEval(a: Any, b: Any): Any =
    LongIntersectCount.count(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.plans.LongIntersectCount.count($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): LongIntersectCountExpr =
    copy(left = newLeft, right = newRight)
}
