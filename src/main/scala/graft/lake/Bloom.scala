package graft.lake

import java.util.Base64

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-part key Bloom filter, maintained as `Planes` independent hash
  * planes of `Bits` bits each (a partitioned Bloom filter: value present ⇒
  * its bit is set in EVERY plane).
  *
  * Zones answer range questions; hash-bucketed or scattered keys span a
  * part's whole [min,max], so the migration probe and located delete can
  * never range-skip them. The Bloom answers the membership question those
  * paths actually ask — "can any of these keys live in this part?" — from
  * the catalog, before planning.
  *
  * Maintenance is a by-product of the SAME routing aggregation that
  * computes counts and zones: per tracked column, `Planes` codegen'd
  * `bitmap_construct_agg(bitmap_bit_position(pmod(xxhash64(col, plane),
  * Bits) + 1))` aggregates (all Spark built-ins — the probe side evaluates
  * the identical `XxHash64` expression driver-side, so membership tests
  * cost microseconds and zero jobs). Mutations only ever OR plane bytes
  * (sound superset, like zone widening); rebuilds recompute tight.
  *
  * Sizing: 3 planes × 4 KiB = 12 KiB per column per part. A part with more
  * than ~10k distinct keys saturates its planes and degrades to "might
  * contain anything" — pruning fails open, never closed.
  */
final case class Bloom(planes: Vector[Array[Byte]]) {

  /** Union with another bloom (widening on insert/upsert slices). */
  def or(o: Bloom): Bloom =
    Bloom(planes.lazyZip(o.planes).map { (a, b) =>
      val out = new Array[Byte](math.max(a.length, b.length))
      var i = 0
      while (i < out.length) {
        out(i) = (((if (i < a.length) a(i) else 0: Byte) |
          (if (i < b.length) b(i) else 0: Byte)) & 0xff).toByte
        i += 1
      }
      out
    }.toVector)

  /** Membership test for pre-computed per-plane hashes ([[Bloom.hashesOf]]).
    * True = the value MAY be present; false = provably absent.
    */
  def mightContainHashes(hashes: Seq[Long]): Boolean =
    hashes.lazyZip(planes).forall { (h, plane) =>
      val pos = Bloom.bitPos(h)
      val byteIdx = pos >>> 3
      byteIdx < plane.length && (plane(byteIdx) & (1 << (pos & 7))) != 0
    }

  def encode: String = {
    val all = new Array[Byte](planes.map(_.length).sum)
    var off = 0
    planes.foreach { p => System.arraycopy(p, 0, all, off, p.length); off += p.length }
    Base64.getEncoder.encodeToString(all)
  }
}

object Bloom {
  /** Hash planes (the Bloom's k). */
  val Planes = 3
  /** Bits per plane — `bitmap_construct_agg`'s fixed bitmap size. */
  val Bits = 32768
  val BytesPerPlane: Int = Bits / 8

  /** All-zero planes: provably holds nothing (a cell with zero rows). */
  def empty: Bloom = Bloom(Vector.fill(Planes)(new Array[Byte](BytesPerPlane)))

  private[lake] def bitPos(h: Long): Int = ((h % Bits + Bits) % Bits).toInt

  /** The aggregation columns maintaining blooms for `cols`, to append to a
    * routing groupBy. Row layout contract: `Planes` consecutive binary
    * columns per tracked column, in `cols` order — parse with [[fromRow]].
    */
  def aggs(cols: Seq[String]): Seq[Column] =
    cols.flatMap { c =>
      (0 until Planes).map { plane =>
        bitmap_construct_agg(
          bitmap_bit_position(pmod(xxhash64(col(c), lit(plane)), lit(Bits)) + 1))
      }
    }

  /** Parse the planes appended by [[aggs]] from a collected row. */
  def fromRow(row: org.apache.spark.sql.Row, offset: Int, cols: Seq[String])
      : Map[String, Bloom] =
    cols.zipWithIndex.map { case (c, i) =>
      c -> Bloom((0 until Planes).map { p =>
        val v = row.get(offset + i * Planes + p)
        if (v == null) new Array[Byte](BytesPerPlane) else v.asInstanceOf[Array[Byte]]
      }.toVector)
    }.toMap

  /** Per-plane hashes of one literal value, evaluated DRIVER-SIDE with the
    * exact Catalyst `XxHash64` the aggregation ran (same seed chaining of
    * `xxhash64(col, plane)`), so the probe agrees bit-for-bit with the
    * maintained planes. None for nulls/unsupported types (probe fails open).
    */
  def hashesOf(value: Any, dt: DataType): Option[Seq[Long]] = {
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    if (value == null) return None
    try {
      val in = Literal.create(CatalystTypeConverters.convertToCatalyst(value), dt)
      Some((0 until Planes).map { plane =>
        new XxHash64(Seq(in, Literal(plane))).eval(null).asInstanceOf[Long]
      })
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** [[hashesOf]] specialized to BIGINT keys: the same bits the Catalyst
    * `xxhash64(col, plane)` aggregation produced (seed 42, LONG then INT
    * chaining), computed without per-value expression construction — the
    * incremental-index batch probe tests 100k+ keys, where building a
    * Literal + XxHash64 per key dominates.
    */
  def hashesOfLong(v: Long): Array[Long] = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val h = XXH64.hashLong(v, 42L)
    val out = new Array[Long](Planes)
    var p = 0
    while (p < Planes) { out(p) = XXH64.hashInt(p, h); p += 1 }
    out
  }

  /** Union maps column-wise with the same directional soundness as
    * [[ZoneMap.widen]]: both → OR; current-only → keep; delta-only → DROP
    * (the current side's absence may mean an earlier degrade, and adopting
    * the delta's bits alone would claim keys provably absent that the part
    * still holds).
    */
  def widen(current: Map[String, Bloom], delta: Map[String, Bloom]): Map[String, Bloom] =
    current.iterator.map { case (c, b) =>
      c -> (delta.get(c) match {
        case Some(d) => b.or(d)
        case None => b
      })
    }.toMap

  def decode(s: String): Option[Bloom] =
    try {
      val all = Base64.getDecoder.decode(s)
      if (all.length != Planes * BytesPerPlane) None
      else Some(Bloom((0 until Planes).map { p =>
        java.util.Arrays.copyOfRange(all, p * BytesPerPlane, (p + 1) * BytesPerPlane)
      }.toVector))
    } catch { case scala.util.control.NonFatal(_) => None }
}
