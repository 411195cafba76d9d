package graft.lake

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions.{col, count, sum}
import org.apache.spark.sql.types._

import graft.functions.{ExactSum, ExactSumAgg}

/** Exact per-column SUM state of one part's data — the fourth maintained
  * statistic family beside row counters, zone maps and key blooms, closing
  * the `SELECT count(*), sum(x)` metadata-only dashboard query (the single
  * most common aggregate a lakehouse serves; the reference engine maintains
  * only the row-counter half of it, reference: src/dataset.rs:245-253).
  *
  * `sum` is the EXACT total, so folding per-part sums in any order gives
  * the same value. Integral and decimal columns accumulate as
  * DECIMAL(38, s), and their catalog answer equals the scan's bit for bit.
  * Floating columns accumulate with [[ExactSumAgg]] (every finite double is
  * an exact decimal), with `flags` recording NaN and infinities
  * ([[ExactSum]]); their catalog answer is the exact total ROUNDED ONCE to
  * a double — the correctly rounded sum, which a scan's order-dependent
  * double accumulation approximates within its own rounding bound
  * ([[SumMap.roundedSum]]). `nonNulls` carries SQL SUM's null semantics
  * through the fold: the total is NULL iff no part saw a non-null value.
  *
  * Exactness rides the SAME tightness contract as counts/zones
  * ([[LakePart.statsTight]]): pure appends ADD the batch's exact sums,
  * upsert/delete invalidate (a merge's post-state sum is not derivable from
  * the old one), materialize recomputes from data, and the manifest persists
  * sums only for vouched-tight parts.
  */
final case class ColSum(sum: java.math.BigDecimal, nonNulls: Long, flags: Int = 0) {
  /** Exact fold — BigDecimal addition aligns scales losslessly. */
  def add(o: ColSum): ColSum =
    ColSum(sum.add(o.sum), nonNulls + o.nonNulls, ExactSum.join(flags, o.flags))
}

object SumMap {

  val Zero: ColSum = ColSum(java.math.BigDecimal.ZERO, 0L)

  /** Bounds the extra width the routing aggregation pays on wide schemas,
    * same stance as [[ZoneMap.MaxZoneColumns]].
    */
  val MaxSumColumns = 32

  /** Digits of a floating sum's decimal expansion past which its manifest
    * entry is not written and its answer fails open to a scan (a sum of
    * subnormals carries over 1,000). Integral and decimal sums never get
    * near it.
    */
  val MaxSumDigits = 400

  /** Types whose sum equals the scan's exactly under decimal accumulation. */
  def exact(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _: DecimalType => true
    case _ => false
  }

  def floating(dt: DataType): Boolean = dt == DoubleType || dt == FloatType

  /** Types the family tracks: the exact ones, and floating columns, whose
    * catalog answer is the correctly rounded exact sum.
    */
  def summable(dt: DataType): Boolean = exact(dt) || floating(dt)

  /** The columns of `schema` that get sum tracking, in schema order: the
    * exactly-summable columns first claim the [[MaxSumColumns]] budget (the
    * same set as before floats were tracked), floats take what is left.
    */
  def sumCols(schema: StructType, exclude: Set[String] = Set.empty): Seq[String] = {
    def of(p: DataType => Boolean) =
      schema.fields.iterator.filter(f => p(f.dataType) && !exclude.contains(f.name)).map(_.name)
    val exacts = of(exact).take(MaxSumColumns).toSeq
    val chosen = (exacts ++ of(floating).take(MaxSumColumns - exacts.length)).toSet
    schema.fieldNames.toSeq.filter(chosen)
  }

  /** Widest-precision decimal accumulator preserving the column's scale. */
  def accType(dt: DataType): DecimalType = dt match {
    case d: DecimalType => DecimalType(38, d.scale)
    case _ => DecimalType(38, 0)
  }

  /** (sum, non-null count) aggregate pairs for the sum columns, to append
    * to a routing groupBy. Row layout contract: pairs at consecutive
    * positions in `cols` order — parse back with [[fromRow]].
    */
  def aggs(schema: StructType, cols: Seq[String]): Seq[Column] =
    cols.flatMap { c =>
      val dt = schema(c).dataType
      Seq(if (floating(dt)) ExactSumAgg.agg(col(c)) else sum(col(c).cast(accType(dt))),
        count(col(c)))
    }

  /** Parse the pairs appended by [[aggs]] from a collected row. A NULL sum
    * (no non-null values in the group) reads as the zero state; a floating
    * column's sum arrives as [[ExactSum.render]] text.
    */
  def fromRow(row: Row, offset: Int, cols: Seq[String]): Map[String, ColSum] =
    cols.zipWithIndex.map { case (c, i) =>
      val n = row.getLong(offset + 2 * i + 1)
      c -> (row.get(offset + 2 * i) match {
        case null => ColSum(java.math.BigDecimal.ZERO, n)
        case s: String =>
          val (v, flags) = ExactSum.parse(s)
          ColSum(v, n, flags)
        case d => ColSum(d.asInstanceOf[java.math.BigDecimal], n)
      })
    }.toMap

  /** Fold an incoming DELTA's sums into a part's CURRENT sums on append —
    * directional like [[ZoneMap.widen]]: tracked in both adds; current-only
    * keeps (the delta lacked the column entirely, so its rows read as NULL —
    * zero contribution); delta-only is DROPPED (the part has no baseline for
    * that column, so adopting the delta's sum alone would be falsely exact).
    */
  def merge(current: Map[String, ColSum], delta: Map[String, ColSum]): Map[String, ColSum] =
    current.map { case (c, x) => c -> delta.get(c).map(x.add).getOrElse(x) }

  /** Digits of `d`'s plain decimal spelling, sign and point aside. */
  private def digits(d: java.math.BigDecimal): Int =
    math.max(d.precision - d.scale, 1) + math.max(d.scale, 0)

  /** Whether a folded sum fits [[MaxSumDigits]] (specials always do). */
  def withinCap(cs: ColSum): Boolean = cs.flags != 0 || digits(cs.sum) <= MaxSumDigits

  /** Manifest codec: `toPlainString` of the exact sum, or the special
    * value's spelling. A sum past the digit cap is not written
    * ([[withinCap]]), so the reopened cell's column is unknown and fails
    * open.
    */
  def render(cs: ColSum): String = ExactSum.render(cs.sum, cs.flags)

  def decode(s: String, nonNulls: Long): Option[ColSum] =
    try {
      val (v, flags) = ExactSum.parse(s)
      Some(ColSum(v, nonNulls, flags)).filter(withinCap)
    } catch { case scala.util.control.NonFatal(_) => None }

  /** SUM of a floating column as Spark returns it, from the folded state:
    * Some(None) is SQL NULL (no non-null value), a special value when the
    * column held NaN or infinities (as IEEE addition combines them), else
    * the exact total rounded once to a double. None (fail open to a scan)
    * past the digit cap, or when some scan order could overflow
    * ([[overflowFree]] over the column's zone).
    */
  def roundedSum(cs: ColSum, zone: Zone): Option[Option[Double]] =
    rounded(cs, zone)(_.doubleValue)

  /** AVG of a floating column: the exact total divided by the non-null
    * count, rounded once ([[roundedQuotient]]); same fail-open rules.
    */
  def roundedAvg(cs: ColSum, zone: Zone): Option[Option[Double]] =
    rounded(cs, zone)(s => roundedQuotient(s, cs.nonNulls))

  private def rounded(cs: ColSum, zone: Zone)(f: java.math.BigDecimal => Double)
      : Option[Option[Double]] =
    if (cs.nonNulls == 0L) Some(None)
    else ExactSum.special(cs.flags) match {
      case Some(v) => Some(Some(v))
      case None => Option.when(withinCap(cs) && overflowFree(cs, zone))(Some(f(cs.sum)))
    }

  /** Whether no order of adding the column's values can reach
    * `Double.MaxValue`: every partial sum is at most
    * `max(|zone min|, |zone max|) × nonNulls`, kept under half the maximum
    * to leave room for the scan's rounding.
    */
  def overflowFree(cs: ColSum, zone: Zone): Boolean = {
    def abs(v: Option[Any]): Option[Double] = v.collect {
      case n: java.lang.Number if !n.doubleValue.isNaN => math.abs(n.doubleValue)
    }
    (abs(zone.min), abs(zone.max)) match {
      case (Some(lo), Some(hi)) => math.max(lo, hi) * cs.nonNulls < Double.MaxValue / 2
      case _ => false
    }
  }

  /** `s / n` rounded once to the nearest double (ties to even): the
    * quotient is scaled to at least 55 significant bits, the remainder
    * folds into a sticky low bit, and BigInteger's correctly rounded
    * conversion does the one rounding. `s` is within [[MaxSumDigits]], so
    * the quotient is a normal double and the final power-of-two scaling is
    * exact.
    */
  def roundedQuotient(s: java.math.BigDecimal, n: Long): Double =
    if (s.signum == 0) 0.0
    else {
      // s / n = u / (n × 10^scale) (or u × 10^-scale / n), u an integer.
      val (num0, den0) =
        if (s.scale >= 0) (s.unscaledValue.abs, java.math.BigInteger.TEN.pow(s.scale))
        else (s.unscaledValue.abs.multiply(java.math.BigInteger.TEN.pow(-s.scale)),
          java.math.BigInteger.ONE)
      val den = den0.multiply(java.math.BigInteger.valueOf(n))
      val shift = 55 - (num0.bitLength - den.bitLength) + 1
      val (num, d) =
        if (shift >= 0) (num0.shiftLeft(shift), den) else (num0, den.shiftLeft(-shift))
      val qr = num.divideAndRemainder(d)
      val q = if (qr(1).signum != 0) qr(0).setBit(0) else qr(0)
      val v = Math.scalb(q.doubleValue, -shift)
      if (s.signum < 0) -v else v
    }
}
