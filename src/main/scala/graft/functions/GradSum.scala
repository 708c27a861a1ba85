package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** The logreg trainers' NO-EXPLODE gradient kernel (optimization r16,
  * guide §2.3 — shuffle fewer bytes; VERDICT-r15 ask #5).
  *
  * The r10–r15 trainer shape pinned a (doc, dim, x) posexplode — docs ×
  * dims rows in executor storage — and per GD round joined the doc
  * errors onto it and aggregated by dim.  The gradient's term set per
  * dim j is Σ_docs quantize6(roundx9(err_doc · x_{doc,j})), which never
  * needed the explode: GradTermsArr computes each doc's dims-wide term
  * vector in one tight per-row loop, and SumxArrAgg folds those vectors
  * elementwise through EXACTLY the sumx DECIMAL(30,6) route — so the
  * training frame stays one row per doc and the per-round aggregate
  * input shrinks dims-fold, with no join and no dims-group shuffle.
  *
  * Bit-exactness contract (the engine's order-free determinism route,
  * term-for-term identical to `sumx(roundx(err * x, 9))` over the
  * exploded rows — property-pinned in ExpressionPropertySpec):
  *  - GradTermsArr replicates Exact.roundx(c, 9) IEEE op for IEEE op
  *    (abs·1e9, BIGINT floor, half-away-from-zero on the binary value,
  *    signum·r/1e9);
  *  - SumxArrAgg's per-term quantization replicates Spark's
  *    Cast(double → DECIMAL(30,6)): java.math.BigDecimal.valueOf
  *    (Double.toString shortest-repr) then setScale(6, HALF_UP) — the
  *    unscaled values are summed EXACTLY in long arithmetic, and the
  *    final per-slot value is BigDecimal(unscaled, 6).doubleValue —
  *    Decimal.toDouble's own conversion.  Decimal sums are order-free,
  *    so partial aggregation and merge order cannot move a bit.
  *  - CEILING (the contract): a per-slot partial sum must stay below
  *    2^63 unscaled units, |sum| < ~9.22e12.  Past it `Math.addExact`
  *    throws ArithmeticException and fails the job loudly.  The
  *    DECIMAL(38, 6) route `sumx` takes holds ~1e32, so inputs between
  *    the two ceilings are summable there but not here
  *    (ExpressionPropertySpec pins the throw).
  *  - Null slots are skipped per element exactly as sum(decimal) skips
  *    null rows; a slot with zero surviving terms reads null.
  */
case class GradTermsArr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(DoubleType,
    left.dataType.asInstanceOf[ArrayType].containsNull)

  /** Exact.roundx(c, 9): round half away from zero on the BINARY value
    * at 9 dp, replicated op-for-op (abs(c)·1e9; Spark's Floor on double
    * is (long) Math.floor; the compare promotes the long; signum·r/p). */
  private def roundx9(c: Double): Double = {
    val p = 1e9
    val v = math.abs(c) * p
    val fl = math.floor(v).toLong
    val r = (if (v - fl >= 0.5) fl + 1L else fl).toDouble
    math.signum(c) * r / p
  }

  /** Per-row entry point shared by eval and generated code. */
  def compute(arr: ArrayData, err: Double): ArrayData = {
    val n = arr.numElements()
    var hasNull = false
    var i = 0
    while (i < n && !hasNull) { hasNull = arr.isNullAt(i); i += 1 }
    if (!hasNull) {
      val out = new Array[Double](n)
      i = 0
      while (i < n) {
        out(i) = roundx9(err * arr.getDouble(i))
        i += 1
      }
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(out)
    } else {
      val out = new Array[Any](n)
      i = 0
      while (i < n) {
        out(i) =
          if (arr.isNullAt(i)) null
          else roundx9(err * arr.getDouble(i))
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  override protected def nullSafeEval(vn: Any, err: Any): Any =
    compute(vn.asInstanceOf[ArrayData], err.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("gradTerms", this)
    nullSafeCodeGen(ctx, ev, (a, e) => s"${ev.value} = $ref.compute($a, $e);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): GradTermsArr =
    copy(left = newLeft, right = newRight)
}

/** Elementwise `sumx` over array<double> rows: each slot sums through
  * DECIMAL(30,6) quantization exactly as `Exact.sumx` does (see the
  * file Scaladoc), returning array<double> — one slot per input dim.
  * All input arrays must share one length (the trainers' fixed-dims
  * contract — ragged input fails loudly instead of mis-aligning). */
case class SumxArrAgg(
    child: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[SumxArrAgg.Buf] with UnaryLike[Expression] {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = true

  override def createAggregationBuffer(): SumxArrAgg.Buf =
    new SumxArrAgg.Buf(Array.emptyLongArray, Array.emptyLongArray)

  override def update(buf: SumxArrAgg.Buf, input: InternalRow): SumxArrAgg.Buf = {
    val v = child.eval(input)
    if (v != null) {
      val a = v.asInstanceOf[ArrayData]
      val n = a.numElements()
      buf.ensure(n)
      var i = 0
      while (i < n) {
        if (!a.isNullAt(i)) {
          buf.sums(i) = Math.addExact(buf.sums(i),
            SumxArrAgg.quantize6(a.getDouble(i)))
          buf.counts(i) += 1
        }
        i += 1
      }
    }
    buf
  }

  override def merge(buf: SumxArrAgg.Buf, other: SumxArrAgg.Buf): SumxArrAgg.Buf = {
    if (other.sums.length != 0) {
      buf.ensure(other.sums.length)
      var i = 0
      while (i < other.sums.length) {
        buf.sums(i) = Math.addExact(buf.sums(i), other.sums(i))
        buf.counts(i) += other.counts(i)
        i += 1
      }
    }
    buf
  }

  override def eval(buf: SumxArrAgg.Buf): Any = {
    if (buf.sums.length == 0) null
    else {
      val out = new Array[Any](buf.sums.length)
      var i = 0
      while (i < buf.sums.length) {
        out(i) =
          if (buf.counts(i) == 0L) null
          else java.math.BigDecimal.valueOf(buf.sums(i), 6).doubleValue()
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  override def serialize(buf: SumxArrAgg.Buf): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.sums.length)
    var i = 0
    while (i < buf.sums.length) {
      out.writeLong(buf.sums(i)); out.writeLong(buf.counts(i)); i += 1
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): SumxArrAgg.Buf = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val sums = new Array[Long](n)
    val counts = new Array[Long](n)
    var i = 0
    while (i < n) { sums(i) = in.readLong(); counts(i) = in.readLong(); i += 1 }
    new SumxArrAgg.Buf(sums, counts)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): SumxArrAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SumxArrAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): SumxArrAgg =
    copy(child = newChild)
}

object SumxArrAgg {
  /** Mutable elementwise accumulator: unscaled DECIMAL(·,6) long sums
    * plus per-slot term counts (a zero-term slot must read NULL, as
    * sum(decimal) over zero rows does). */
  final class Buf(var sums: Array[Long], var counts: Array[Long]) {
    def ensure(n: Int): Unit =
      if (sums.length == 0) {
        sums = new Array[Long](n); counts = new Array[Long](n)
      } else require(sums.length == n,
        s"sumx_arr: ragged input — ${sums.length} vs $n elements")
  }

  /** Spark's Cast(double → DECIMAL(30,6)) per-value quantization:
    * BigDecimal.valueOf(v) (Double.toString shortest-repr, exactly
    * Decimal.apply(double)) then setScale(6, HALF_UP); the unscaled
    * long is the exact decimal in 1e-6 units. */
  def quantize6(v: Double): Long =
    java.math.BigDecimal.valueOf(v)
      .setScale(6, java.math.RoundingMode.HALF_UP)
      .unscaledValue().longValueExact()
}
