package graft.functions

import java.math.{BigDecimal, BigInteger}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The exact sum of a stream of doubles: `mant × 2^exp` as a binary
  * fixed-point integer, plus the special values seen ([[ExactSum.flags]]).
  * Every finite double is `m × 2^e` with a 53-bit `m`, so an add is one
  * shift and one BigInteger addition — exact, associative and commutative,
  * which makes any merge order give the same state. The integer spans at
  * most the double exponent range (~2,100 bits).
  */
final class ExactSum(var mant: BigInteger, var exp: Int, var flags: Int) {

  def add(x: Double): ExactSum = {
    if (java.lang.Double.isNaN(x)) flags = ExactSum.join(flags, ExactSum.NaN)
    else if (java.lang.Double.isInfinite(x))
      flags = ExactSum.join(flags, if (x > 0) ExactSum.PosInf else ExactSum.NegInf)
    else if (x != 0.0) {
      val bits = java.lang.Double.doubleToRawLongBits(x)
      val biased = ((bits >>> 52) & 0x7ff).toInt
      val frac = bits & 0xfffffffffffffL
      val m = if (biased == 0) frac else frac | (1L << 52)
      val tz = java.lang.Long.numberOfTrailingZeros(m)
      val e = math.max(biased, 1) - 1075 + tz
      addScaled(BigInteger.valueOf(if (bits < 0) -(m >>> tz) else m >>> tz), e)
    }
    this
  }

  def merge(o: ExactSum): ExactSum = {
    flags = ExactSum.join(flags, o.flags)
    if (o.mant.signum != 0) addScaled(o.mant, o.exp)
    this
  }

  private def addScaled(m: BigInteger, e: Int): Unit =
    if (mant.signum == 0) { mant = m; exp = e }
    else if (e >= exp) mant = mant.add(m.shiftLeft(e - exp))
    else { mant = mant.shiftLeft(exp - e).add(m); exp = e }

  /** The finite part as an exact decimal (a dyadic rational always has a
    * finite decimal expansion: `m × 2^-k = m × 5^k / 10^k`).
    */
  def finite: BigDecimal =
    if (mant.signum == 0) BigDecimal.ZERO
    else if (exp >= 0) new BigDecimal(mant.shiftLeft(exp))
    else new BigDecimal(mant.multiply(BigInteger.valueOf(5).pow(-exp)), -exp)

  /** The state as [[ExactSum.render]] spells it. */
  def rendered: String = ExactSum.render(finite, flags)
}

object ExactSum {
  /** Special-value flags. They fold as IEEE addition does, so a NaN, or
    * both infinities, make NaN; [[join]] keeps the canonical form with at
    * most one bit set.
    */
  val NaN = 1
  val PosInf = 2
  val NegInf = 4

  def empty: ExactSum = new ExactSum(BigInteger.ZERO, 0, 0)

  def join(a: Int, b: Int): Int = {
    val f = a | b
    if ((f & NaN) != 0 || f == (PosInf | NegInf)) NaN else f
  }

  /** The double a SUM over values with these flags must be, when any. */
  def special(flags: Int): Option[Double] =
    if (flags == 0) None
    else if (flags == PosInf) Some(Double.PositiveInfinity)
    else if (flags == NegInf) Some(Double.NegativeInfinity)
    else Some(Double.NaN)

  /** One text codec for the aggregate's output and the manifest: the
    * special value's Java spelling (`NaN`, `Infinity`, `-Infinity`) when a
    * flag is set, else the exact decimal's `toPlainString`.
    */
  def render(sum: BigDecimal, flags: Int): String =
    special(flags).map(_.toString).getOrElse(sum.toPlainString)

  /** Inverse of [[render]]: (exact finite sum, flags). Throws on anything
    * else.
    */
  def parse(s: String): (BigDecimal, Int) = s match {
    case "NaN" => (BigDecimal.ZERO, NaN)
    case "Infinity" => (BigDecimal.ZERO, PosInf)
    case "-Infinity" => (BigDecimal.ZERO, NegInf)
    case _ => (new BigDecimal(s), 0)
  }

  /** Buffer codec: flags, exponent, then the integer's two's-complement
    * bytes.
    */
  def serialize(s: ExactSum): Array[Byte] = {
    val m = s.mant.toByteArray
    java.nio.ByteBuffer.allocate(8 + m.length).putInt(s.flags).putInt(s.exp).put(m).array()
  }

  def deserialize(bytes: Array[Byte]): ExactSum = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val flags = bb.getInt
    val exp = bb.getInt
    val m = new Array[Byte](bb.remaining)
    bb.get(m)
    new ExactSum(new BigInteger(m), exp, flags)
  }
}

/** `exact_sum(col)` — the exact sum of a DOUBLE or FLOAT column as text
  * ([[ExactSum.render]]), beside [[GkAgg]] and [[ThetaSketchAgg]] as a
  * catalog statistic's routing aggregate: the lake keeps it per cell and
  * answers a float SUM with the exact total rounded once, which is the
  * correctly rounded sum that every scan order approximates. NULLs skip; an
  * empty group evaluates to `0` (the merge identity), never SQL NULL — the
  * non-null count travels beside it.
  */
case class ExactSumAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ExactSum]
  with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"exact_sum expects a double input (cast floats first), got ${child.dataType}")
  override def dataType: DataType = StringType
  override def nullable: Boolean = false
  override def prettyName: String = "exact_sum"

  override def createAggregationBuffer(): ExactSum = ExactSum.empty

  override def update(buffer: ExactSum, input: InternalRow): ExactSum = {
    val v = child.eval(input)
    if (v == null) buffer else buffer.add(v.asInstanceOf[Double])
  }

  override def merge(a: ExactSum, b: ExactSum): ExactSum = a.merge(b)

  override def eval(buffer: ExactSum): Any = UTF8String.fromString(buffer.rendered)

  override def serialize(buffer: ExactSum): Array[Byte] = ExactSum.serialize(buffer)

  override def deserialize(bytes: Array[Byte]): ExactSum = ExactSum.deserialize(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): ExactSumAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ExactSumAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): ExactSumAgg =
    copy(child = newChild)
}

object ExactSumAgg {
  /** The aggregate as a Column (a FLOAT input widens to double exactly). */
  def agg(c: Column): Column =
    Bridge.column(ExactSumAgg(Bridge.expression(c.cast("double"))).toAggregateExpression())
}
