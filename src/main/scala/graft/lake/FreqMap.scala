package graft.lake

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{FreqAgg, FreqCodec, FreqSketch}

/** Per-part Misra–Gries frequent-items sketches — the seventh maintained
  * statistic family beside row counters, zone maps, key blooms, column
  * sums, HLL distinct sketches and GK quantile summaries, closing the
  * `top values of this column` dashboard query from the catalog alone
  * (zero scan tasks).
  *
  * Summary algebra: MG sketches MERGE (counter-map addition, then one
  * bounded truncation — Agarwal et al., "Mergeable Summaries"), and the
  * merged sketch's certified error (`dec`: `est ≤ true ≤ est + dec`) adds
  * across inputs, staying ≤ n/(k+1) of the combined stream. Two regimes,
  * both surfaced honestly:
  *
  *  - EXACT (column cardinality ≤ k everywhere): no eviction ever happens,
  *    counts are exact and merges are order-independent — the gate query
  *    `lake_stats_topk` runs here and is DuckDB-reproducible bit-for-bit.
  *  - APPROX (cardinality > k): the stored SET depends on merge order (like
  *    GK bits), but the bound invariants hold for every order —
  *    FreqStatsSpec pins them against planted skew instead of an oracle.
  *
  * Maintenance rides the SAME tightness contract as sums, sketches and
  * quantiles ([[LakePart.statsTight]]): pure appends MERGE the batch's
  * sketches in, upsert/delete invalidate (a removed row's counts cannot be
  * subtracted), materialize / ANALYZE recompute from data, and the manifest
  * persists sketches only for vouched-tight parts.
  *
  * Tracking is OPT-IN per column at table creation (`freqCols`), like
  * blooms, HLL and quantiles: each tracked column adds one [[FreqAgg]] to
  * every routing aggregation and O(k) values per part to the manifest.
  */
object FreqMap {

  /** Counter budget of maintained sketches (see [[FreqAgg.DefaultK]]). */
  val K: Int = FreqAgg.DefaultK

  /** Types frequent-items tracking is defined over: values whose string
    * form is canonical and deterministic (the aggregation casts to string).
    * Floating types are refused at table creation — their string rendering
    * is representation-dependent, which would make equal values split
    * counters.
    */
  def freqable(dt: DataType): Boolean = dt match {
    case StringType | BooleanType | DateType |
         ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** The aggregation columns maintaining sketches for `cols`, to append to
    * a routing groupBy. Row layout contract: one binary column per tracked
    * column, in `cols` order — parse back with [[fromRow]].
    */
  def aggs(cols: Seq[String]): Seq[Column] = cols.map(c => FreqAgg.agg(col(c)))

  /** An empty sketch's bytes (what a zero-row group holds; [[FreqAgg]] also
    * evaluates all-NULL groups to this — the merge identity).
    */
  def empty: Array[Byte] = FreqCodec.serialize(new FreqSketch(K))

  /** Parse the sketches appended by [[aggs]] from a collected row. */
  def fromRow(row: org.apache.spark.sql.Row, offset: Int, cols: Seq[String])
      : Map[String, Array[Byte]] =
    cols.zipWithIndex.map { case (c, i) =>
      val v = row.get(offset + i)
      c -> (if (v == null) empty else v.asInstanceOf[Array[Byte]])
    }.toMap

  /** Merge two sketches — covers the concatenated streams with added error
    * bounds, which is what lets appends fold instead of invalidating. ONE
    * shared implementation with the distributed aggregate
    * ([[FreqSketch.mergeIn]]), so the catalog fold and the scan agg cannot
    * silently diverge.
    */
  def union(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    FreqCodec.serialize(
      FreqCodec.deserialize(a).mergeIn(FreqCodec.deserialize(b)))

  /** Fold an appended batch's sketches into a part's current ones — same
    * directional soundness as `HllMap.merge` / `QuantileMap.merge`: tracked
    * in both → merge; current-only keeps (the batch lacked the column, so
    * its rows read as NULL and contribute nothing); delta-only is DROPPED
    * (the part has no baseline, so adopting the delta's sketch alone would
    * be falsely complete).
    */
  def merge(current: Map[String, Array[Byte]], delta: Map[String, Array[Byte]])
      : Map[String, Array[Byte]] =
    current.map { case (c, x) => c -> delta.get(c).map(union(x, _)).getOrElse(x) }

  /** Fold per-part sketches into one — pairwise tree merge, matching
    * [[QuantileMap.fold]]'s discipline: deterministic for a given part
    * order (callers pass sorted catalog order; the tree shape is a pure
    * function of the count) and error grows by one truncation per internal
    * node instead of per step of a left fold. Requires a non-empty input.
    */
  def fold(sketches: Seq[Array[Byte]]): FreqSketch = {
    require(sketches.nonEmpty, "fold of zero sketches — callers gate on parts")
    var level = sketches.map(FreqCodec.deserialize).toIndexedSeq
    while (level.length > 1) {
      level = level.grouped(2).map {
        case Seq(a, b) => a.mergeIn(b)
        case Seq(a) => a
      }.toIndexedSeq
    }
    level.head
  }
}
