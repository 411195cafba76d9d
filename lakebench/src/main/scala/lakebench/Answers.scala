package lakebench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.Row

/** Order-independent comparison of result rows. Doubles compare with a
  * relative tolerance, because a sum's last bits depend on the order its
  * parts were added in; every other value compares exactly.
  */
object Answers {
  val RelTol = 1e-9

  private def norm(v: Any): Any = v match {
    case t: java.sql.Timestamp => t.getTime * 1000L + (t.getNanos / 1000) % 1000
    case t: java.time.Instant => t.getEpochSecond * 1000000L + t.getNano / 1000
    case t: java.time.LocalDateTime => norm(java.sql.Timestamp.valueOf(t))
    case d: java.sql.Date => d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => d.toEpochDay
    case i: Int => i.toLong
    case s: Short => s.toLong
    case b: Byte => b.toLong
    case f: Float => f.toDouble
    case d: java.math.BigDecimal => d.doubleValue
    case d: scala.math.BigDecimal => d.toDouble
    case other => other
  }

  /** A timestamp value as microseconds, as rows compare it. */
  def micros(v: Any): Long = norm(v).asInstanceOf[Long]

  def canon(rows: Seq[Row]): IndexedSeq[IndexedSeq[Any]] =
    rows.map(r => r.toSeq.map(norm).toIndexedSeq).toIndexedSeq
      .sortBy(_.map(v => if (v == null) "\u0000" else sortKey(v)).mkString("\u0001"))

  // Doubles sort by a rounded form (about 6 significant digits) so that
  // tolerance-equal rows pair up.
  private def sortKey(v: Any): String = v match {
    case d: Double => java.lang.Long.toHexString(roundBits(d, 32))
    case other => other.toString
  }

  /** `d`'s bits with the last `drop` bits of the mantissa rounded off. */
  private def roundBits(d: Double, drop: Int): Long =
    if (d == 0.0) 0L else if (d.isNaN) -1L
    else (java.lang.Double.doubleToLongBits(d) + (1L << (drop - 1))) & ~((1L << drop) - 1)

  private def sameValue(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (x: Double, y: Double) =>
      x == y || (x.isNaN && y.isNaN) ||
        math.abs(x - y) <= RelTol * math.max(math.abs(x), math.abs(y))
    case (x: Array[Byte], y: Array[Byte]) => java.util.Arrays.equals(x, y)
    case _ => a == b
  }

  /** None when `got` holds the same rows as `want`, in any order; otherwise
    * a short description of the first difference.
    */
  def diff(got: Seq[Row], want: IndexedSeq[IndexedSeq[Any]]): Option[String] = {
    val g = canon(got)
    if (g.length != want.length) Some(s"${g.length} rows, expected ${want.length}")
    else g.indices.find(i => g(i).length != want(i).length ||
        !g(i).indices.forall(c => sameValue(g(i)(c), want(i)(c))))
      .map(i => s"row $i is ${g(i).mkString("(", ",", ")")}, expected ${want(i).mkString("(", ",", ")")}")
  }

  /** Order-independent fingerprint of rows: row count and the sum of
    * per-row hashes. Doubles drop the last 12 bits of their mantissa (about
    * 12 significant digits are kept), so a value recomputed in another
    * order almost always hashes the same.
    */
  def fingerprint(rows: Iterator[Row]): (Long, Long) = {
    var n = 0L
    var h = 0L
    rows.foreach { r =>
      n += 1
      h += rowHash(r.toSeq.map(norm))
    }
    (n, h)
  }

  private def valueHash(v: Any): Int = v match {
    case null => 0x5bd1e995
    case d: Double => java.lang.Long.hashCode(roundBits(d, 12))
    case b: Array[Byte] => java.util.Arrays.hashCode(b)
    case o => o.hashCode
  }

  def rowHash(values: Seq[Any]): Long = {
    val hs = values.map(valueHash)
    (MurmurHash3.orderedHash(hs, 0x9747b28c).toLong << 32) ^
      (MurmurHash3.orderedHash(hs, 0x3c6ef372) & 0xffffffffL)
  }
}
