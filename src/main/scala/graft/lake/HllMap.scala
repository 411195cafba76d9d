package graft.lake

import org.apache.datasketches.hll.{HllSketch, TgtHllType, Union}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-part HLL distinct-count sketches — the fifth maintained statistic
  * family beside row counters, zone maps, key blooms and column sums,
  * closing the `SELECT approx-distinct(x)` dashboard query from the catalog
  * alone (zero scan tasks).
  *
  * The exactness story differs from sums in a crucial way that makes it
  * EASY: DataSketches HLL union is register-wise max, so
  * `union(sketch(A), sketch(B))` carries the SAME registers as
  * `sketch(A ++ B)` — the per-part fold loses nothing relative to a
  * one-shot sketch over everything. The ESTIMATE contract is one notch
  * subtler: DataSketches has two estimators — HIP, kept by a sketch fed
  * directly (a union ADOPTS a lone input whole, HIP included, but merging
  * a second stream drops it for good), and the composite estimator, which
  * every multi-input union result uses. The catalog fold over 2+ parts
  * estimates composite, and so does Spark's distributed `hll_sketch_agg`
  * (per-task partials merge through the identical union), so metadata
  * answer == scan answer holds for every multi-partial plan — the only
  * shape a distributed table produces. A SINGLE-partial plan (one
  * partition, no merge) evaluates the un-unioned direct sketch, whose HIP
  * estimate can diverge from the composite once past the exact sparse
  * regime (> ~2^LgK distinct) even on identical registers — HllStatsSpec
  * pins both the multi-partial equality and this bounded divergence. Both
  * estimators approximate the true distinct count within ±~2% at lgK=12.
  *
  * Maintenance rides the SAME tightness contract as the other families
  * ([[LakePart.statsTight]]): pure appends UNION the batch's sketches in
  * (exact — see above), upsert/delete invalidate (a removed row's register
  * contribution cannot be subtracted), materialize / ANALYZE recompute from
  * data, and the manifest persists sketches only for vouched-tight parts.
  *
  * Tracking is OPT-IN per column at table creation (`sketchCols`), like key
  * blooms: each tracked column adds one `hll_sketch_agg` to every routing
  * aggregation and ~1.5 KiB (lgK=12, HLL_4) per part to the manifest.
  */
object HllMap {

  /** log2 of the register count — Spark's own `hll_sketch_agg` default, so
    * the SQL shape `hll_sketch_estimate(hll_sketch_agg(c))` collapses
    * without the caller spelling a parameter.
    */
  val LgK = 12

  /** Types Spark's `HllSketchAgg` accepts. Anything else is refused at
    * table creation (a late analysis error inside the routing aggregation
    * would poison every ingest).
    */
  def sketchable(dt: DataType): Boolean = dt match {
    case IntegerType | LongType | StringType | BinaryType => true
    case _ => false
  }

  /** Key prefix of the PAIRED per-part Theta sketch riding beside each
    * column's HLL entry in the same per-part map. HLL answers the
    * approx-distinct dashboard but cannot intersect; the theta twin gives
    * the catalog SET ALGEBRA — `SHOW OVERLAP` / [[LakeDataset
    * .metaPartitionOverlap]] intersect per-cell thetas zero-scan, with the
    * crucial exactness property that a group whose distinct count stays
    * under the sketch's nominal 2^lgK entries is answered EXACTLY (theta
    * retains raw hashes until saturation), so small intersections no
    * longer drown in HLL inclusion-exclusion error. Same tightness vouch,
    * fold rules, severing and manifest discipline — the theta entry is
    * just a second key in the existing family. Cost: up to ~32 KiB per
    * part per tracked column in the manifest at lgK=12 saturation (HLL's
    * ~1.5 KiB stays the cheap member; tracking stays opt-in per column).
    */
  val ThetaPrefix = "theta:"
  def thetaKey(c: String): String = ThetaPrefix + c
  def isThetaKey(k: String): Boolean = k.startsWith(ThetaPrefix)

  /** The aggregation columns maintaining sketches for `cols`, to append to
    * a routing groupBy. Row layout contract: TWO binary columns per tracked
    * column — the HLL sketch then its theta twin — in `cols` order; parse
    * back with [[fromRow]] (offset consumers account `2 * cols.length`).
    */
  def aggs(cols: Seq[String]): Seq[Column] =
    cols.flatMap(c => Seq(
      hll_sketch_agg(col(c), lit(LgK)),
      graft.functions.ThetaAgg.sketch(col(c))))

  /** An empty sketch's bytes (what an all-NULL or zero-row group holds). */
  def empty: Array[Byte] = new HllSketch(LgK).toUpdatableByteArray

  /** An empty theta sketch's bytes — the theta-union identity. */
  def emptyTheta: Array[Byte] =
    graft.functions.ThetaCodec.emptyUnion().getResult.toByteArray

  /** Parse the sketches appended by [[aggs]] from a collected row: per
    * tracked column the HLL entry under the column name AND the theta twin
    * under [[thetaKey]]. A NULL (group with no non-null values) reads as
    * the respective empty sketch — the union identity, mirroring how the
    * scan-side aggregates treat such groups.
    */
  def fromRow(row: org.apache.spark.sql.Row, offset: Int, cols: Seq[String])
      : Map[String, Array[Byte]] =
    cols.zipWithIndex.flatMap { case (c, i) =>
      val h = row.get(offset + 2 * i)
      val t = row.get(offset + 2 * i + 1)
      Seq(
        c -> (if (h == null) empty else h.asInstanceOf[Array[Byte]]),
        thetaKey(c) -> (if (t == null) emptyTheta else t.asInstanceOf[Array[Byte]]))
    }.toMap

  /** Union two sketches — associative, commutative, and EXACT (the result's
    * registers equal those of a single sketch over the concatenated
    * streams), which is what lets appends fold instead of invalidating.
    */
  def union(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val u = new Union(LgK)
    u.update(HllSketch.heapify(a))
    u.update(HllSketch.heapify(b))
    u.getResult(TgtHllType.HLL_4).toUpdatableByteArray
  }

  /** Union two theta sketches — same exactness story (retained-hash union;
    * below nominal entries nothing is even approximate).
    */
  def thetaUnion(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val u = graft.functions.ThetaCodec.emptyUnion()
    u.union(graft.functions.ThetaCodec.wrap(a))
    u.union(graft.functions.ThetaCodec.wrap(b))
    u.getResult.toByteArray
  }

  /** Fold an appended batch's sketches into a part's current ones — same
    * directional soundness as [[SumMap.merge]]: tracked in both → union
    * (dispatching HLL vs theta by key); current-only keeps (the batch
    * lacked the column, so its rows read as NULL — the empty-sketch
    * identity); delta-only is DROPPED (the part has no baseline, so
    * adopting the delta's sketch alone would be falsely exact).
    */
  def merge(current: Map[String, Array[Byte]], delta: Map[String, Array[Byte]])
      : Map[String, Array[Byte]] =
    current.map { case (c, x) =>
      c -> delta.get(c)
        .map(d => if (isThetaKey(c)) thetaUnion(x, d) else union(x, d))
        .getOrElse(x)
    }

  /** Rounded estimate of the theta-union of per-part theta twins. Exact
    * (not an estimate) while the union stays under nominal entries.
    */
  def thetaUnionEstimate(sketches: Seq[Array[Byte]]): Long = {
    val u = graft.functions.ThetaCodec.emptyUnion()
    sketches.foreach(b => u.union(graft.functions.ThetaCodec.wrap(b)))
    Math.round(u.getResult.getEstimate)
  }

  /** Rounded |A ∩ B| estimate of two theta-union results (each side the
    * fold of one group's per-cell twins). Exact while both sides stay
    * under nominal entries.
    */
  def thetaIntersectEstimate(
      sa: Seq[Array[Byte]], sb: Seq[Array[Byte]]): Long = {
    import graft.functions.ThetaCodec
    val ua = ThetaCodec.emptyUnion(); sa.foreach(b => ua.union(ThetaCodec.wrap(b)))
    val ub = ThetaCodec.emptyUnion(); sb.foreach(b => ub.union(ThetaCodec.wrap(b)))
    Math.round(org.apache.datasketches.theta.SetOperation.builder()
      .buildIntersection().intersect(ua.getResult, ub.getResult).getEstimate)
  }

  /** The rounded COMPOSITE estimate of the union of `sketches` — equals
    * `hll_sketch_estimate(hll_sketch_agg(c))` over the whole table whenever
    * that aggregate merges at least two partials (every distributed plan;
    * see the class doc for the single-partial HIP caveat). Estimates are
    * non-negative; an empty union estimates 0, matching the scan over an
    * empty table.
    */
  def unionEstimate(sketches: Seq[Array[Byte]]): Long = {
    val u = new Union(LgK)
    sketches.foreach(b => u.update(HllSketch.heapify(b)))
    Math.round(u.getResult.getEstimate)
  }
}
