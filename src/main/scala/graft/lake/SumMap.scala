package graft.lake

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions.{col, count, sum}
import org.apache.spark.sql.types._

/** Exact per-column SUM state of one part's data — the fourth maintained
  * statistic family beside row counters, zone maps and key blooms, closing
  * the `SELECT count(*), sum(x)` metadata-only dashboard query (the single
  * most common aggregate a lakehouse serves; the reference engine maintains
  * only the row-counter half of it, reference: src/dataset.rs:245-253).
  *
  * `sum` accumulates as DECIMAL(38, s) — exact and ASSOCIATIVE, so folding
  * per-part sums in any order equals the one-shot aggregation bit for bit
  * (a double accumulator would be order-dependent and could never honor the
  * "metadata answer == scan answer" contract; double/float columns are
  * therefore deliberately untracked). `nonNulls` carries SQL SUM's null
  * semantics through the fold: the total is NULL iff no part saw a non-null
  * value.
  *
  * Exactness rides the SAME tightness contract as counts/zones
  * ([[LakePart.statsTight]]): pure appends ADD the batch's exact sums,
  * upsert/delete invalidate (a merge's post-state sum is not derivable from
  * the old one), materialize recomputes from data, and the manifest persists
  * sums only for vouched-tight parts.
  */
final case class ColSum(sum: java.math.BigDecimal, nonNulls: Long) {
  /** Exact fold — BigDecimal addition aligns scales losslessly. */
  def add(o: ColSum): ColSum = ColSum(sum.add(o.sum), nonNulls + o.nonNulls)
}

object SumMap {

  val Zero: ColSum = ColSum(java.math.BigDecimal.ZERO, 0L)

  /** Bounds the extra width the routing aggregation pays on wide schemas,
    * same stance as [[ZoneMap.MaxZoneColumns]].
    */
  val MaxSumColumns = 32

  /** Types whose SUM is exact under decimal accumulation. Floating-point
    * columns are excluded BY CONTRACT: their scan-side sum is itself
    * evaluation-order-dependent, so no maintained value could promise
    * equality with it.
    */
  def summable(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _: DecimalType => true
    case _ => false
  }

  /** The columns of `schema` that get sum tracking, in schema order. */
  def sumCols(schema: StructType, exclude: Set[String] = Set.empty): Seq[String] =
    schema.fields.iterator
      .filter(f => summable(f.dataType) && !exclude.contains(f.name))
      .map(_.name).take(MaxSumColumns).toSeq

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
      Seq(sum(col(c).cast(accType(schema(c).dataType))), count(col(c)))
    }

  /** Parse the pairs appended by [[aggs]] from a collected row. A NULL sum
    * (no non-null values in the group) reads as the zero state.
    */
  def fromRow(row: Row, offset: Int, cols: Seq[String]): Map[String, ColSum] =
    cols.zipWithIndex.map { case (c, i) =>
      val s = row.get(offset + 2 * i)
      val n = row.getLong(offset + 2 * i + 1)
      c -> ColSum(
        if (s == null) java.math.BigDecimal.ZERO
        else s.asInstanceOf[java.math.BigDecimal],
        n)
    }.toMap

  /** Fold an incoming DELTA's sums into a part's CURRENT sums on append —
    * directional like [[ZoneMap.widen]]: tracked in both adds; current-only
    * keeps (the delta lacked the column entirely, so its rows read as NULL —
    * zero contribution); delta-only is DROPPED (the part has no baseline for
    * that column, so adopting the delta's sum alone would be falsely exact).
    */
  def merge(current: Map[String, ColSum], delta: Map[String, ColSum]): Map[String, ColSum] =
    current.map { case (c, x) => c -> delta.get(c).map(x.add).getOrElse(x) }
}
