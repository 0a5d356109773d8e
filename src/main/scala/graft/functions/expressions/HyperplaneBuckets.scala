package graft.functions.expressions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Per-band hyperplane-LSH bucket ids for one embedding — a custom
  * Catalyst `Expression` because the value is a pure per-row function
  * of the vector, and both DataFrame formulations of it were measured
  * slower at scale (round-15):
  *
  *   - the posexplode ⋈ planeDf → groupBy(vec,p) → groupBy(vec,band)
  *     pipeline pushes |V|·planes·dims rows through two hash
  *     exchanges (20.1× across the sf10→sf100 decade — the partial
  *     aggregate degrades once |V|·planes groups stop fitting the
  *     per-task hash table);
  *   - the pure higher-order-function fold evaluates planes·dims
  *     interpreted lambda steps per row (HOFs are CodegenFallback) and
  *     measured SLOWER than the aggregation it replaced at sf100.
  *
  * This kernel does the same dims·planes fused multiply-adds in a
  * compiled loop over primitive arrays — one pass per row, no extra
  * rows, no exchanges (the SimHash60 precedent).
  *
  * Bit-compatibility contract (spec-pinned against the DataFrame
  * form): quantization is EXACTLY Spark's `round(x·1000)` cast to
  * long — float→double widen, ×1000 in double, scala BigDecimal
  * HALF_UP, non-finite values as the non-ANSI cast maps them (NaN →
  * 0, ±Inf → ±Long bound, products wrapping) — and plane weight
  * w(p,d) is EXACTLY `md5Hash60("p_d") % 2001 − 1000` (top 60 bits
  * of md5, nonneg, so % is the positive remainder). Every finite dot
  * term |q·w| ≤ ~2²¹ summed over 64 dims — exact in long; null
  * elements contribute nothing, exactly as SQL `sum` skipped the null
  * exploded rows, and an empty vector yields no bands, as it exploded
  * to no rows. Bucket of band b =
  * Σ_j bit(b·planes+j) << j, j ∈ [0, planes).
  */
case class HyperplaneBuckets(child: Expression, planes: Int, bands: Int)
    extends UnaryExpression {

  private val dims = 64

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"hyperplane_buckets requires ARRAY<FLOAT|DOUBLE>, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hyperplane_buckets"

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  /** w(p)(d) — computed once per (executor, expression) and shared by
    * every row the task evaluates. */
  @transient private lazy val weights: Array[Array[Long]] = {
    val md = MessageDigest.getInstance("MD5")
    Array.tabulate(planes * bands, dims) { (p, d) =>
      md.reset()
      val digest = md.digest(s"${p}_$d".getBytes("UTF-8"))
      // md5Hash60: first 15 hex chars == top 60 bits of the digest
      var h = 0L
      var b = 0
      while (b < 8) { h = (h << 8) | (digest(b) & 0xffL); b += 1 }
      ((h >>> 4) % 2001L) - 1000L
    }
  }

  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(buckets(input.asInstanceOf[ArrayData]))

  /** Called from generated code too (whole-stage codegen stays intact). */
  def buckets(arr: ArrayData): Array[Long] = {
    // an empty embedding has no exploded elements, so no bands
    if (arr.numElements() == 0) return Array.emptyLongArray
    val n = math.min(arr.numElements(), dims)
    // quantize once per row: round(x·1000) with Spark Round's exact
    // double semantics (scala BigDecimal HALF_UP; NaN and ±Inf pass
    // through round unchanged and take the cast's 0 / ±Long bound);
    // null element → a skipped dimension (mask), matching
    // sum()-skips-nulls
    val q = new Array[Long](n)
    val present = new Array[Boolean](n)
    var d = 0
    while (d < n) {
      if (!arr.isNullAt(d)) {
        val x = if (isFloat) arr.getFloat(d).toDouble else arr.getDouble(d)
        val scaled = x * 1000.0
        q(d) =
          if (scaled.isNaN || scaled.isInfinite) scaled.toLong
          else BigDecimal(scaled).setScale(0, BigDecimal.RoundingMode.HALF_UP)
            .toDouble.toLong
        present(d) = true
      }
      d += 1
    }
    val w = weights
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var bucket = 0L
      var j = 0
      while (j < planes) {
        val wp = w(b * planes + j)
        var dot = 0L
        var i = 0
        while (i < n) {
          if (present(i)) dot += q(i) * wp(i)
          i += 1
        }
        if (dot > 0L) bucket |= 1L << j
        j += 1
      }
      out(b) = bucket
      b += 1
    }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("hyperplaneExpr", this,
      classOf[HyperplaneBuckets].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"$self.buckets($c));")
  }

  override protected def withNewChildInternal(newChild: Expression): HyperplaneBuckets =
    copy(child = newChild)
}
