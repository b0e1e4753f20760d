package graft.functions

import java.nio.ByteBuffer
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Exact integer moment state over micro-lifted lanes: the running count,
  * the d first-moment sums Σ xl, and the d(d+1)/2 upper-triangular pair
  * sums Σ xl·xm, every sum held as a SIGNED 128-BIT integer (hi/lo limb
  * pairs) so the arithmetic is exact for the full lane domain at any row
  * count. The output type is the decimal(38,0) of the posexplode
  * formulation this replaces, which holds at most 10^38 − 1 — less than
  * the 2^127 ≈ 1.7e38 a 128-bit sum can reach — so [[MomentSums.eval]]
  * fails with a clear error on a sum beyond 38 digits (unreachable at
  * realistic row counts: micro² products are ≤ 1e12 each).
  * Capacity grows to the longest lane array seen; shorter rows simply
  * contribute to fewer sums (bit-identical to the tail-slice fan-out,
  * whose group (l, m) collected exactly the rows with > m lanes). */
private[functions] final class MomentState(var d: Int) {
  var cnt: Long = 0L
  var firstHi: Array[Long] = new Array[Long](d)
  var firstLo: Array[Long] = new Array[Long](d)
  var pairHi: Array[Long] = new Array[Long](d * (d + 1) / 2)
  var pairLo: Array[Long] = new Array[Long](d * (d + 1) / 2)

  /** Upper-triangular index of (l, m), l ≤ m < d: row-major with rows of
    * shrinking length — idx = l·d − l(l−1)/2 + (m − l). */
  @inline def idx(l: Int, m: Int): Int = l * d - l * (l - 1) / 2 + (m - l)

  /** Grow capacity to d2 > d, remapping the triangular layout. */
  def grow(d2: Int): Unit = {
    val fh = new Array[Long](d2); val fl = new Array[Long](d2)
    System.arraycopy(firstHi, 0, fh, 0, d); System.arraycopy(firstLo, 0, fl, 0, d)
    val ph = new Array[Long](d2 * (d2 + 1) / 2)
    val pl = new Array[Long](d2 * (d2 + 1) / 2)
    var l = 0
    while (l < d) {
      val src = idx(l, l)
      val dst = l * d2 - l * (l - 1) / 2
      System.arraycopy(pairHi, src, ph, dst, d - l)
      System.arraycopy(pairLo, src, pl, dst, d - l)
      l += 1
    }
    d = d2; firstHi = fh; firstLo = fl; pairHi = ph; pairLo = pl
  }

  /** acc[i] += v (64-bit signed, sign-extended into the 128-bit limbs). */
  @inline def add64(hi: Array[Long], lo: Array[Long], i: Int, v: Long): Unit = {
    val nl = lo(i) + v
    // unsigned carry out of the low limb
    val carry = ((lo(i) & v) | ((lo(i) | v) & ~nl)) >>> 63
    hi(i) += (v >> 63) + carry
    lo(i) = nl
  }

  /** acc[i] += (hi128, lo128) — a full 128-bit signed addend. */
  @inline def add128(hi: Array[Long], lo: Array[Long], i: Int,
      vh: Long, vl: Long): Unit = {
    val nl = lo(i) + vl
    val carry = ((lo(i) & vl) | ((lo(i) | vl) & ~nl)) >>> 63
    hi(i) += vh + carry
    lo(i) = nl
  }

  def toBig(hi: Long, lo: Long): java.math.BigInteger =
    java.math.BigInteger.valueOf(hi).shiftLeft(64)
      .add(new java.math.BigInteger(java.lang.Long.toUnsignedString(lo)))
}

/** `moment_sums(mi)` → array<struct<l bigint, m bigint, s decimal(38,0)>>:
  * the EXACT integer moment relation of a micro-lane column, one buffer —
  * for 0 ≤ l ≤ m < d a (l, m, Σ xl·xm) row, per lane a (l, −1, Σ xl) row,
  * and one (−1, −1, n) count row (n = rows with ≥ 1 lane — the same count
  * the old (0,0) pair group carried). The partial-merge replacement for
  * the d(d+1)/2-per-row posexplode fan-out the whitening moment pass paid
  * (guide §1.2 step 2: ~2 145 generated rows per vector, two sorts of
  * nothing but a two-phase agg behind them): each partition folds its rows
  * into ONE ~50 KB buffer, the exchange carries one buffer per partition,
  * and the output relation is identical — exact integer sums are
  * order-free, so the values cannot differ. Products are computed in full
  * 128-bit (Math.multiplyHigh) — the decimal(38,0) cast the old aggregate
  * used for the same overflow reason. Runs under ObjectHashAggregateExec
  * with map-side partial aggregation (the TypedImperativeAggregate
  * contract, shared with [[TopKByScore]]). */
case class MomentSums(child: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[MomentState] {

  override def prettyName: String = "moment_sums"
  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("l", LongType, nullable = false),
      StructField("m", LongType, nullable = false),
      StructField("s", DecimalType(38, 0), nullable = false))),
    containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    TypeChecks.expect(prettyName, TypeChecks.isLongArray(child.dataType),
      "array<bigint>", Seq(child.dataType))

  override def createAggregationBuffer(): MomentState = new MomentState(0)

  override def update(buf: MomentState, input: InternalRow): MomentState = {
    val a = child.eval(input)
    if (a != null) {
      val arr = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val n = arr.numElements()
      if (n > 0) {
        if (n > buf.d) buf.grow(n)
        buf.cnt += 1
        var l = 0
        while (l < n) {
          val xl = arr.getLong(l)
          buf.add64(buf.firstHi, buf.firstLo, l, xl)
          var i = buf.idx(l, l)
          var m = l
          while (m < n) {
            val xm = arr.getLong(m)
            buf.add128(buf.pairHi, buf.pairLo, i,
              Math.multiplyHigh(xl, xm), xl * xm)
            m += 1; i += 1
          }
          l += 1
        }
      }
    }
    buf
  }

  override def merge(buf: MomentState, other: MomentState): MomentState = {
    if (other.d > buf.d) buf.grow(other.d)
    buf.cnt += other.cnt
    var l = 0
    while (l < other.d) {
      buf.add128(buf.firstHi, buf.firstLo, l, other.firstHi(l), other.firstLo(l))
      var m = l
      while (m < other.d) {
        buf.add128(buf.pairHi, buf.pairLo, buf.idx(l, m),
          other.pairHi(other.idx(l, m)), other.pairLo(other.idx(l, m)))
        m += 1
      }
      l += 1
    }
    buf
  }

  override def eval(buf: MomentState): Any = {
    val d = buf.d
    if (d == 0) return new GenericArrayData(Array.empty[Any])
    def dec(hi: Long, lo: Long): Decimal = {
      val v = buf.toBig(hi, lo)
      if (v.abs.compareTo(MomentSums.MaxDecimal38) > 0)
        throw new ArithmeticException(
          s"moment_sums: exact sum $v exceeds decimal(38,0) (38 digits)")
      Decimal(scala.math.BigDecimal(v), 38, 0)
    }
    val rows = new Array[Any](d * (d + 1) / 2 + d + 1)
    var r = 0
    var l = 0
    while (l < d) {
      var m = l
      while (m < d) {
        val i = buf.idx(l, m)
        rows(r) = InternalRow(l.toLong, m.toLong, dec(buf.pairHi(i), buf.pairLo(i)))
        r += 1; m += 1
      }
      l += 1
    }
    l = 0
    while (l < d) {
      rows(r) = InternalRow(l.toLong, -1L, dec(buf.firstHi(l), buf.firstLo(l)))
      r += 1; l += 1
    }
    rows(r) = InternalRow(-1L, -1L, dec(buf.cnt >> 63, buf.cnt))
    new GenericArrayData(rows)
  }

  override def serialize(buf: MomentState): Array[Byte] = {
    val p = buf.d * (buf.d + 1) / 2
    val bb = ByteBuffer.allocate(4 + 8 + 16 * buf.d + 16 * p)
    bb.putInt(buf.d).putLong(buf.cnt)
    var i = 0
    while (i < buf.d) { bb.putLong(buf.firstHi(i)).putLong(buf.firstLo(i)); i += 1 }
    i = 0
    while (i < p) { bb.putLong(buf.pairHi(i)).putLong(buf.pairLo(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): MomentState = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new MomentState(bb.getInt())
    buf.cnt = bb.getLong()
    var i = 0
    while (i < buf.d) { buf.firstHi(i) = bb.getLong(); buf.firstLo(i) = bb.getLong(); i += 1 }
    val p = buf.d * (buf.d + 1) / 2
    i = 0
    while (i < p) { buf.pairHi(i) = bb.getLong(); buf.pairLo(i) = bb.getLong(); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MomentSums =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MomentSums =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MomentSums =
    copy(child = newChildren(0))
}

object MomentSums {
  /** The largest magnitude decimal(38,0) holds: 10^38 − 1. */
  private[functions] val MaxDecimal38: java.math.BigInteger =
    java.math.BigInteger.TEN.pow(38).subtract(java.math.BigInteger.ONE)
}
