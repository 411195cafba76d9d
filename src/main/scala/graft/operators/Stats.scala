package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DecimalType, DoubleType, LongType, StructField, StructType}

import graft.lake.{ColSum, LakeDataset, SumMap, Zone}

/** Metadata-only table statistics — the lakehouse "answer aggregates from
  * the catalog" property (Delta/Iceberg metadata-only queries; the reference
  * engine maintains per-part row counters for exactly this shape,
  * reference: src/dataset.rs:245-253, but never exposes min/max).
  *
  * [[tableStats]] answers `COUNT(*)` + per-column `MIN`/`MAX` from the
  * dataset's maintained statistics (per-part row counters + zone maps) when
  * they are provably exact — zero Spark jobs, zero file reads, a driver-side
  * fold over the catalog. When SOME parts' stats are not tight (a
  * non-materialized upsert/delete in their history, or a manifest that did
  * not vouch for them) it degrades GRADUALLY: the vouched parts still fold
  * from the catalog and ONE scan covers only the unvouched ones — a single
  * dirty cell costs one cell's read, not the table's. Only when nothing can
  * vouch (or a bound fold fails) does it run the full aggregation scan.
  * Same schema, same values on every path — the fast paths are
  * optimizations, never a semantic.
  *
  * At 100 TB: a 10k-cell table's count/min/max is a 10k-entry fold on the
  * driver versus a full-cluster scan — the difference between answering in
  * microseconds from one manifest and spinning up a thousand executors.
  */
object Stats {

  /** One-row frame: `cnt` + (`min_<c>`, `max_<c>`) per requested column. */
  def tableStats(spark: SparkSession, ds: LakeDataset, cols: Seq[String]): DataFrame = {
    val schema = ds.tableSchema
    val outSchema = StructType(
      StructField("cnt", LongType, nullable = false) +:
        cols.flatMap(c => Seq(
          StructField(s"min_$c", schema(c).dataType),
          StructField(s"max_$c", schema(c).dataType))))
    ds.metaStats(cols) match {
      case Some((n, zones)) =>
        // Catalog answer: a LocalRelation-backed frame — the plan contains
        // no scan at all (spec-pinned).
        val row = Row.fromSeq(
          n +: cols.flatMap(c => Seq(zones(c).min.orNull, zones(c).max.orNull)))
        spark.createDataFrame(java.util.Collections.singletonList(row), outSchema)
      case None =>
        // HYBRID fallback: fold the vouched cells from the catalog and scan
        // ONLY the rest — one upsert-dirtied cell in a 10k-cell table costs
        // one cell's scan, not 10k. The scan side computes the same
        // (count, min/max) state shape via ZoneMap.aggs and widens into the
        // fold; any incomparable bound drops to the full scan (never wrong).
        val hybrid: Option[Row] = ds.metaStatsPartial(cols).flatMap {
          case (cnt0, zones0, scanOpt) =>
            val (scanCnt, scanZones) = scanOpt match {
              case None => (0L, Map.empty[String, graft.lake.Zone])
              case Some(scan) =>
                val aggs = count(lit(1)).cast(LongType) +: graft.lake.ZoneMap.aggs(cols)
                val r = scan.agg(aggs.head, aggs.tail: _*).head()
                (r.getLong(0), graft.lake.ZoneMap.fromRow(r, 1, cols))
            }
            val folded = cols.foldLeft(Option(Map.empty[String, graft.lake.Zone])) {
              (acc, c) => acc.flatMap { m =>
                // Widen only when the scan side HAS rows — an empty scan's
                // (None, None) zone means "no values", which widens as-is.
                if (scanCnt == 0L) Some(m + (c -> zones0(c)))
                else zones0(c).widen(scanZones(c)).map(z => m + (c -> z))
              }
            }
            folded.map(m => Row.fromSeq((cnt0 + scanCnt) +:
              cols.flatMap(c => Seq(m(c).min.orNull, m(c).max.orNull))))
        }
        hybrid match {
          case Some(row) =>
            spark.createDataFrame(java.util.Collections.singletonList(row), outSchema)
          case None =>
            // Full fallback: one aggregation over the table — identical result.
            val aggs = count(lit(1)).cast(LongType).as("cnt") +:
              cols.flatMap(c => Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
            ds.toDF.agg(aggs.head, aggs.tail: _*)
        }
    }
  }

  /** Whether [[tableStats]] would take the metadata-only path right now. */
  def metaAnswerable(ds: LakeDataset, cols: Seq[String]): Boolean =
    ds.metaStats(cols).isDefined

  /** Spark's `sum` output type for an input column type: integrals widen to
    * BIGINT, DECIMAL(p,s) widens to DECIMAL(min(38,p+10), s) — the metadata
    * answer must land in the SAME type the fallback aggregation produces.
    */
  private[graft] def sumResultType(dt: DataType): DataType = dt match {
    case d: DecimalType => DecimalType(math.min(38, d.precision + 10), d.scale)
    case _ => LongType
  }

  /** A folded [[ColSum]] as the external value of `rt` (Spark sum result
    * semantics: NULL iff zero non-null inputs). None when the exact total
    * does not FIT the result type — the real aggregation would overflow
    * there (ANSI error / legacy wrap), so the caller must fall back to the
    * scan rather than answer something the scan wouldn't. A DOUBLE result
    * (a floating column's sum) is the correctly rounded exact sum and needs
    * the column's `zone` for its overflow guard ([[SumMap.roundedSum]]).
    */
  private[graft] def sumValue(cs: ColSum, rt: DataType,
      zone: Option[Zone] = None): Option[Option[Any]] =
    if (cs.nonNulls == 0L) Some(None)
    else rt match {
      case DoubleType =>
        zone.flatMap(SumMap.roundedSum(cs, _)).map(_.map(Double.box))
      case LongType =>
        try Some(Some(java.lang.Long.valueOf(cs.sum.longValueExact())))
        catch { case _: ArithmeticException => None }
      case d: DecimalType =>
        val scaled = cs.sum.setScale(d.scale)
        if (scaled.precision > d.precision) None else Some(Some(scaled))
      case _ => None
    }

  /** One-row frame: `cnt` + `sum_<c>` per requested column — answered from
    * the catalog's exact per-part sums ([[LakeDataset.metaSums]]) when the
    * table can vouch, else ONE aggregation scan with the identical result.
    * Only exactly-summable columns (integral/decimal) take the fast path
    * here, so the drift gates built on it stay oracle-exact; double/float
    * columns scan (the SQL rewrite answers their SUM as the correctly
    * rounded exact sum, see [[SumMap]]).
    */
  def tableSumStats(spark: SparkSession, ds: LakeDataset, cols: Seq[String]): DataFrame = {
    val schema = ds.tableSchema
    val rts = cols.map(c => sumResultType(schema(c).dataType))
    val outSchema = StructType(
      StructField("cnt", LongType, nullable = false) +:
        cols.zip(rts).map { case (c, rt) => StructField(s"sum_$c", rt) })
    val meta: Option[Row] =
      if (!cols.forall(c => SumMap.exact(schema(c).dataType))) None
      else ds.metaSums(cols).flatMap { case (n, sums) =>
        val vals = cols.zip(rts).foldRight(Option(List.empty[Any])) {
          case ((c, rt), acc) =>
            acc.flatMap(rest => sumValue(sums(c), rt).map(_.orNull :: rest))
        }
        vals.map(vs => Row.fromSeq(n +: vs))
      }
    meta match {
      case Some(row) =>
        spark.createDataFrame(java.util.Collections.singletonList(row), outSchema)
      case None =>
        // HYBRID fallback: catalog-fold the vouched cells, scan the rest
        // with SumMap.aggs (the same exact decimal accumulation the catalog
        // maintains — ColSum.add keeps the fold associative and exact), and
        // emit the combined row IF it fits the result type; anything less
        // degrades to the one full scan.
        val hybrid: Option[Row] =
          if (!cols.forall(c => SumMap.exact(schema(c).dataType))) None
          else ds.metaHybrid(Nil, cols).flatMap { case (cnt0, _, sums0, scanOpt) =>
            val (scanCnt, scanSums) = scanOpt match {
              case None => (0L, cols.map(_ -> graft.lake.SumMap.Zero).toMap)
              case Some(scan) =>
                val aggs = count(lit(1)).cast(LongType) +:
                  graft.lake.SumMap.aggs(schema, cols)
                val r = scan.agg(aggs.head, aggs.tail: _*).head()
                (r.getLong(0), graft.lake.SumMap.fromRow(r, 1, cols))
            }
            val vals = cols.zip(rts).foldRight(Option(List.empty[Any])) {
              case ((c, rt), acc) => acc.flatMap(rest =>
                sumValue(sums0(c).add(scanSums(c)), rt).map(_.orNull :: rest))
            }
            vals.map(vs => Row.fromSeq((cnt0 + scanCnt) +: vs))
          }
        hybrid match {
          case Some(row) =>
            spark.createDataFrame(java.util.Collections.singletonList(row), outSchema)
          case None =>
            val aggs = count(lit(1)).cast(LongType).as("cnt") +:
              cols.map(c => sum(col(c)).as(s"sum_$c"))
            ds.toDF.agg(aggs.head, aggs.tail: _*)
        }
    }
  }

  /** Snapshot-drift monitor answered from the CATALOG: per requested
    * column, row count and exact sum of two lake tables (a snapshot and
    * its successor, a source and its replica, yesterday's root and
    * today's) with the exact net change — ZERO scan jobs when both tables
    * vouch for their maintained sums, because both sides are
    * [[tableSumStats]] folds of manifest state. This is the always-on
    * ingest-gate check at 100 TB: "did this batch move the totals the way
    * the upstream said it would?" costs two manifest reads, not two table
    * scans, and falls back (per side, hybrid-then-scan) with the identical
    * answer when a cell can't vouch.
    *
    * Sums surface as doubles cast from the exact decimal fold — both
    * engines round the same decimal to the same double, keeping the gate
    * oracle-exact — and each side's one-row fold is collected (bounded by
    * construction: ONE row) to emit the per-column report.
    */
  def driftStats(spark: SparkSession, before: LakeDataset, after: LakeDataset,
      cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "drift needs at least one column")
    val bdf = tableSumStats(spark, before, cols)
    val adf = tableSumStats(spark, after, cols)
    val (b, a) = (bdf.head(), adf.head())
    def num(r: Row, i: Int): java.math.BigDecimal = r.get(i) match {
      case null => null
      case l: java.lang.Long => java.math.BigDecimal.valueOf(l.longValue())
      case d: java.math.BigDecimal => d
      case d: org.apache.spark.sql.types.Decimal => d.toJavaBigDecimal
      case other => throw new IllegalStateException(
        s"unexpected sum type ${other.getClass}")
    }
    val rows: Seq[Row] = cols.zipWithIndex.map { case (c, i) =>
      val (sb, sa) = (num(b, i + 1), num(a, i + 1))
      Row(c, b.getLong(0), a.getLong(0),
        if (sb == null) null else java.lang.Double.valueOf(sb.doubleValue()),
        if (sa == null) null else java.lang.Double.valueOf(sa.doubleValue()),
        if (sb == null || sa == null) null
        else java.lang.Double.valueOf(sa.subtract(sb).doubleValue()))
    }
    val schema = StructType(Seq(
      StructField("col_name", org.apache.spark.sql.types.StringType, nullable = false),
      StructField("cnt_before", LongType, nullable = false),
      StructField("cnt_after", LongType, nullable = false),
      StructField("sum_before", org.apache.spark.sql.types.DoubleType),
      StructField("sum_after", org.apache.spark.sql.types.DoubleType),
      StructField("net_sum", org.apache.spark.sql.types.DoubleType)))
    spark.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava, schema)
  }

  /** Whether [[tableSumStats]] would take the metadata-only path right now. */
  def sumAnswerable(ds: LakeDataset, cols: Seq[String]): Boolean = {
    val schema = ds.tableSchema
    cols.forall(c => SumMap.exact(schema(c).dataType)) &&
      ds.metaSums(cols).exists { case (_, sums) =>
        cols.forall(c => sumValue(sums(c), sumResultType(schema(c).dataType)).isDefined)
      }
  }

  /** [[tableStats]] grouped by PARTITION columns: one row per group —
    * group values, `cnt`, (`min_<c>`, `max_<c>`) per requested column.
    * Metadata-only (cells fold by their catalog partition values) when the
    * dataset can vouch; otherwise one real grouped aggregation, identical
    * result.
    */
  def tableStatsBy(spark: SparkSession, ds: LakeDataset,
      groupCols: Seq[String], cols: Seq[String]): DataFrame = {
    val schema = ds.tableSchema
    val outSchema = StructType(
      groupCols.map(g => StructField(g, schema(g).dataType)) ++
        (StructField("cnt", LongType, nullable = false) +:
          cols.flatMap(c => Seq(
            StructField(s"min_$c", schema(c).dataType),
            StructField(s"max_$c", schema(c).dataType)))))
    ds.metaStatsGrouped(groupCols, cols) match {
      case Some(groups) =>
        val rows: java.util.List[Row] = new java.util.ArrayList[Row]()
        groups.foreach { case (vals, cnt, zones) =>
          rows.add(Row.fromSeq(vals ++ (cnt +:
            cols.flatMap(c => Seq(zones(c).min.orNull, zones(c).max.orNull)))))
        }
        spark.createDataFrame(rows, outSchema)
      case None =>
        // HYBRID fallback, per group: the vouched cells' groups fold from
        // the catalog; ONE grouped aggregation covers the unvouched rest
        // and merges row-wise (counts add, zones widen). Any incomparable
        // bound drops to the full grouped scan.
        val hybrid: Option[Seq[Row]] =
          ds.metaStatsGroupedPartial(groupCols, cols).flatMap {
            case (groups, scanOpt) =>
              val scanRows: Array[Row] = scanOpt match {
                case None => Array.empty
                case Some(scan) =>
                  val aggs = count(lit(1)).cast(LongType) +:
                    graft.lake.ZoneMap.aggs(cols)
                  scan.groupBy(groupCols.map(col): _*)
                    .agg(aggs.head, aggs.tail: _*).collect()
              }
              val merged = scala.collection.mutable.LinkedHashMap[Seq[Any],
                (Long, Map[String, graft.lake.Zone])]()
              groups.foreach { case (vals, cnt, zones) =>
                merged(vals) = (cnt, zones)
              }
              val g = groupCols.length
              var ok = true
              scanRows.foreach { r =>
                val vals = (0 until g).map(r.get)
                val cnt = r.getLong(g)
                val zones = graft.lake.ZoneMap.fromRow(r, g + 1, cols)
                merged.get(vals) match {
                  case None => merged(vals) = (cnt, zones)
                  case Some((c0, z0)) =>
                    val widened = cols.foldLeft(
                      Option(Map.empty[String, graft.lake.Zone])) { (acc, c) =>
                      acc.flatMap(m => z0(c).widen(zones(c)).map(z => m + (c -> z)))
                    }
                    widened match {
                      case Some(m) => merged(vals) = (c0 + cnt, m)
                      case None => ok = false
                    }
                }
              }
              if (!ok) None
              else Some(merged.toSeq.map { case (vals, (cnt, zones)) =>
                Row.fromSeq(vals ++ (cnt +:
                  cols.flatMap(c => Seq(zones(c).min.orNull, zones(c).max.orNull))))
              })
          }
        hybrid match {
          case Some(rows) =>
            val list: java.util.List[Row] = new java.util.ArrayList[Row]()
            rows.foreach(list.add)
            spark.createDataFrame(list, outSchema)
          case None =>
            val aggs = count(lit(1)).cast(LongType).as("cnt") +:
              cols.flatMap(c => Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
            ds.toDF.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
        }
    }
  }
}
