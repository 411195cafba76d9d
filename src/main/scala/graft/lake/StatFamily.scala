package graft.lake

import java.util.Base64

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.types._

import graft.model.{Manifest, PartKey}

/** One per-cell statistic family of the lake catalog — the table every
  * place that touches statistics reads instead of naming families by hand.
  * Besides the maintained row counter, a cell carries six families: zone
  * maps, key blooms, exact sums, HLL sketches (with their theta twins),
  * GK quantile summaries and MG frequent items.
  *
  * An entry owns:
  *  - which columns it tracks for a schema ([[cols]]), as a type-driven
  *    set fixed per table (zones, sums) or an opt-in declared list;
  *  - its routing-aggregate columns, their width and the decode of its
  *    slice of an aggregate row ([[aggs]], [[width]], [[fromRow]]);
  *  - how an append folds in ([[merge]]: widen, add, union or merge);
  *  - the mutation contract ([[superset]]): upsert and delete keep a sound
  *    SUPERSET family (zones, blooms) and drop the exact ones, whose
  *    removed rows cannot be subtracted; UPDATE forgets the assigned
  *    columns in every family;
  *  - which stat keys belong to a column ([[columnOf]]: HLL owns both `c`
  *    and `theta:c`);
  *  - its manifest field and encoding ([[store]], [[restore]]). Exact
  *    families persist and restore only under the tightness vouch; opt-in
  *    families omit empty entries.
  *
  * `V` is the per-column value, `E` its manifest encoding.
  */
sealed abstract class StatFamily[V, E](
    /** Upsert/delete leave it a sound superset (kept) rather than unknown. */
    val superset: Boolean,
    /** Tracked only on columns declared at table creation. */
    val optIn: Boolean,
    /** Aggregate columns per tracked column in a routing row. */
    val width: Int) {

  /** The declared columns of an opt-in family (Nil for type-tracked ones). */
  def declared(ds: LakeDataset): Seq[String] = Nil

  /** Types the family can track. */
  def trackable(dt: DataType): Boolean

  /** A type-tracked family's column set for a whole table schema. */
  def trackedFor(schema: StructType): Seq[String] = Nil

  /** The columns this family tracks in a frame of `ds`, in schema order for
    * type-tracked families (the table's fixed set, so routing, rebuilds and
    * per-part recounts never track different sets — set drift is unsound)
    * and declaration order for opt-in ones.
    */
  def cols(ds: LakeDataset, schema: StructType): Seq[String] =
    if (optIn) declared(ds).filter(c =>
      schema.fields.exists(f => f.name == c && trackable(f.dataType)))
    else {
      val t = ds.trackedSet(this, schema)
      schema.fields.iterator
        .filter(f => t(f.name) && trackable(f.dataType)).map(_.name).toSeq
    }

  def aggs(schema: StructType, cols: Seq[String]): Seq[Column]
  def fromRow(row: Row, offset: Int, cols: Seq[String]): Map[String, V]
  def merge(current: Map[String, V], delta: Map[String, V]): Map[String, V]

  /** The column a stat key describes. */
  def columnOf(key: String): String = key

  def field(m: Manifest): Map[String, Map[String, E]]
  def withField(m: Manifest, f: Map[String, Map[String, E]]): Manifest
  def encode(v: V): E
  /** Whether a value gets a manifest entry; one that does not reopens as
    * unknown, like an undecodable one.
    */
  def storable(v: V): Boolean = true
  /** None = undecodable: the entry drops and its column stays unknown. */
  def decode(e: E, dt: DataType): Option[V]

  /** This family's manifest field for `cells` (relPath → stats, vouched). */
  private[lake] def store(m: Manifest,
      cells: scala.collection.Map[String, (PartStats, Boolean)]): Manifest =
    withField(m, cells.flatMap { case (rel, (st, vouched)) =>
      st.get(this).filter(s => (superset || vouched) && (!optIn || s.nonEmpty))
        .map(s => rel -> s.collect { case (c, v) if storable(v) => c -> encode(v) })
    }.toMap)

  /** Decode one cell's manifest entry. Type-tracked families need the
    * manifest schema and keep only the table's tracked set; opt-in families
    * keep declared columns. Anything else degrades to unknown, never wrong.
    */
  private[lake] def restore(ds: LakeDataset, target: Option[StructType], m: Manifest,
      rel: String): Option[Map[String, V]] =
    field(m).get(rel).flatMap { enc =>
      if (optIn) Some(enc.flatMap { case (k, e) =>
        if (declared(ds).contains(columnOf(k))) decode(e, NullType).map(k -> _) else None
      }).filter(_.nonEmpty)
      else target.map { t =>
        val tracked = ds.tracked.get(this)
        enc.flatMap { case (c, e) =>
          t.fields.find(_.name == c).map(_.dataType) match {
            case Some(dt) if trackable(dt) && tracked.forall(_.contains(c)) =>
              decode(e, dt).map(c -> _)
            case _ => None
          }
        }
      }
    }

  /** Merge-commit of this field: the cells `mine` touched win, the rest
    * keep the on-disk entries.
    */
  private[lake] def rebased(out: Manifest, disk: Manifest, mine: Manifest,
      touched: Set[String]): Manifest =
    withField(out, (field(disk) -- touched) ++ field(mine).view.filterKeys(touched).toMap)
}

object StatFamily {

  object Zones extends StatFamily[Zone, (Option[String], Option[String])](
      superset = true, optIn = false, width = 2) {
    override def toString = "zone maps"
    def trackable(dt: DataType): Boolean = ZoneMap.zoneable(dt)
    override def trackedFor(schema: StructType): Seq[String] =
      ZoneMap.zoneCols(schema, Set(LakeDataset.BucketCol))
    /** Tracked-set membership only: a tracked column arriving with another
      * type still gets a zone, whose incomparable widen drops it (sound).
      */
    override def cols(ds: LakeDataset, schema: StructType): Seq[String] = {
      val t = ds.trackedSet(this, schema)
      schema.fields.iterator.map(_.name).filter(t).toSeq
    }
    def aggs(schema: StructType, cols: Seq[String]): Seq[Column] = ZoneMap.aggs(cols)
    def fromRow(row: Row, offset: Int, cols: Seq[String]): Map[String, Zone] =
      ZoneMap.fromRow(row, offset, cols)
    def merge(c: Map[String, Zone], d: Map[String, Zone]): Map[String, Zone] =
      ZoneMap.widen(c, d)
    def field(m: Manifest) = m.partStats
    def withField(m: Manifest, f: Map[String, Map[String, (Option[String], Option[String])]]) =
      m.copy(partStats = f)
    def encode(z: Zone) = (z.min.map(ZoneMap.encodeValue), z.max.map(ZoneMap.encodeValue))
    def decode(e: (Option[String], Option[String]), dt: DataType): Option[Zone] = {
      val (mnS, mxS) = e
      val mn = mnS.flatMap(ZoneMap.decodeValue(_, dt))
      val mx = mxS.flatMap(ZoneMap.decodeValue(_, dt))
      if (mn.isDefined == mnS.isDefined && mx.isDefined == mxS.isDefined) Some(Zone(mn, mx))
      else None
    }
  }

  object Blooms extends StatFamily[Bloom, String](
      superset = true, optIn = true, width = Bloom.Planes) {
    override def toString = "key Bloom statistics"
    override def declared(ds: LakeDataset): Seq[String] = ds.bloomCols
    def trackable(dt: DataType): Boolean = true
    def aggs(schema: StructType, cols: Seq[String]): Seq[Column] = Bloom.aggs(cols)
    def fromRow(row: Row, offset: Int, cols: Seq[String]): Map[String, Bloom] =
      Bloom.fromRow(row, offset, cols)
    def merge(c: Map[String, Bloom], d: Map[String, Bloom]): Map[String, Bloom] =
      Bloom.widen(c, d)
    def field(m: Manifest) = m.partBlooms
    def withField(m: Manifest, f: Map[String, Map[String, String]]) = m.copy(partBlooms = f)
    def encode(b: Bloom): String = b.encode
    def decode(s: String, dt: DataType): Option[Bloom] = Bloom.decode(s)
  }

  object Sums extends StatFamily[ColSum, (String, Long)](
      superset = false, optIn = false, width = 2) {
    override def toString = "column sums"
    def trackable(dt: DataType): Boolean = SumMap.summable(dt)
    override def trackedFor(schema: StructType): Seq[String] =
      SumMap.sumCols(schema, Set(LakeDataset.BucketCol))
    def aggs(schema: StructType, cols: Seq[String]): Seq[Column] = SumMap.aggs(schema, cols)
    def fromRow(row: Row, offset: Int, cols: Seq[String]): Map[String, ColSum] =
      SumMap.fromRow(row, offset, cols)
    def merge(c: Map[String, ColSum], d: Map[String, ColSum]): Map[String, ColSum] =
      SumMap.merge(c, d)
    def field(m: Manifest) = m.partSums
    def withField(m: Manifest, f: Map[String, Map[String, (String, Long)]]) = m.copy(partSums = f)
    def encode(cs: ColSum): (String, Long) = (SumMap.render(cs), cs.nonNulls)
    override def storable(cs: ColSum): Boolean = SumMap.withinCap(cs)
    def decode(e: (String, Long), dt: DataType): Option[ColSum] = SumMap.decode(e._1, e._2)
  }

  /** Manifest codec of the sketch families: base64 of the sketch bytes. */
  sealed abstract class Bytes(width: Int)
      extends StatFamily[Array[Byte], String](false, true, width) {
    def encode(b: Array[Byte]): String = Base64.getEncoder.encodeToString(b)
    def decode(s: String, dt: DataType): Option[Array[Byte]] =
      try Some(Base64.getDecoder.decode(s)) catch { case _: Exception => None }
  }

  /** HLL distinct sketches, each column's theta twin riding in the same map
    * under [[HllMap.thetaKey]].
    */
  object Sketches extends Bytes(width = 2) {
    override def toString = "HLL distinct sketches"
    override def declared(ds: LakeDataset): Seq[String] = ds.sketchCols
    def trackable(dt: DataType): Boolean = HllMap.sketchable(dt)
    def aggs(schema: StructType, cols: Seq[String]): Seq[Column] = HllMap.aggs(cols)
    def fromRow(row: Row, offset: Int, cols: Seq[String]): Map[String, Array[Byte]] =
      HllMap.fromRow(row, offset, cols)
    def merge(c: Map[String, Array[Byte]], d: Map[String, Array[Byte]]): Map[String, Array[Byte]] =
      HllMap.merge(c, d)
    override def columnOf(key: String): String =
      if (HllMap.isThetaKey(key)) key.stripPrefix(HllMap.ThetaPrefix) else key
    def field(m: Manifest) = m.partSketches
    def withField(m: Manifest, f: Map[String, Map[String, String]]) = m.copy(partSketches = f)
    /** Validates by heapifying: corrupt bytes degrade to unknown. */
    override def decode(s: String, dt: DataType): Option[Array[Byte]] =
      try {
        val b = Base64.getDecoder.decode(s)
        org.apache.datasketches.hll.HllSketch.heapify(b)
        Some(b)
      } catch { case scala.util.control.NonFatal(_) => None }
  }

  object Quantiles extends Bytes(width = 1) {
    override def toString = "quantile summaries"
    override def declared(ds: LakeDataset): Seq[String] = ds.quantileCols
    def trackable(dt: DataType): Boolean = QuantileMap.quantileable(dt)
    def aggs(schema: StructType, cols: Seq[String]): Seq[Column] = QuantileMap.aggs(cols)
    def fromRow(row: Row, offset: Int, cols: Seq[String]): Map[String, Array[Byte]] =
      QuantileMap.fromRow(row, offset, cols)
    def merge(c: Map[String, Array[Byte]], d: Map[String, Array[Byte]]): Map[String, Array[Byte]] =
      QuantileMap.merge(c, d)
    def field(m: Manifest) = m.partQuants
    def withField(m: Manifest, f: Map[String, Map[String, String]]) = m.copy(partQuants = f)
  }

  object Freqs extends Bytes(width = 1) {
    override def toString = "frequent-items sketches"
    override def declared(ds: LakeDataset): Seq[String] = ds.freqCols
    def trackable(dt: DataType): Boolean = FreqMap.freqable(dt)
    def aggs(schema: StructType, cols: Seq[String]): Seq[Column] = FreqMap.aggs(cols)
    def fromRow(row: Row, offset: Int, cols: Seq[String]): Map[String, Array[Byte]] =
      FreqMap.fromRow(row, offset, cols)
    def merge(c: Map[String, Array[Byte]], d: Map[String, Array[Byte]]): Map[String, Array[Byte]] =
      FreqMap.merge(c, d)
    def field(m: Manifest) = m.partFreqs
    def withField(m: Manifest, f: Map[String, Map[String, String]]) = m.copy(partFreqs = f)
  }

  /** Every family, in routing-row and manifest order. */
  val all: Seq[StatFamily[_, _]] = Seq(Zones, Blooms, Sums, Sketches, Quantiles, Freqs)
}

/** One cell's statistics: per family, the per-column values, or no entry
  * when the family is unknown (metadata answers over it fail open).
  * Immutable; a [[LakePart]] swaps whole values.
  */
final class PartStats private (private val m: Map[StatFamily[_, _], Map[String, Any]]) {

  def get[V](f: StatFamily[V, _]): Option[Map[String, V]] =
    m.get(f).asInstanceOf[Option[Map[String, V]]]

  /** Whether `f` is known with every one of `cols` (vacuous for no columns). */
  def covers(f: StatFamily[_, _], cols: Seq[String]): Boolean =
    cols.isEmpty || m.get(f).exists(s => cols.forall(s.contains))

  /** Append: fold a batch's stats into each known family. A family the
    * batch lacks keeps its values; an unknown family stays unknown.
    */
  def append(delta: PartStats): PartStats = new PartStats(m.map { case (f, cur) =>
    f -> delta.m.get(f).fold(cur)(d => f.asInstanceOf[StatFamily[Any, _]].merge(cur, d))
  })

  /** Upsert/delete: the superset families stay sound, the exact ones become
    * unknown (removed rows cannot be subtracted).
    */
  def rewritten: PartStats = new PartStats(m.filter(_._1.superset))

  /** UPDATE of `cols`: every family forgets those columns' keys (new values
    * may lie anywhere); the others stay exact.
    */
  def forget(cols: Set[String]): PartStats = new PartStats(m.map { case (f, s) =>
    f -> s.filterNot { case (k, _) => cols(f.columnOf(k)) }
  })

  /** Column DDL: dropped columns lose their entries, renamed ones remap. */
  def remap(drop: Set[String], rename: Map[String, String]): PartStats =
    new PartStats(m.map { case (f, s) =>
      f -> s.collect { case (k, v) if !drop(k) => rename.getOrElse(k, k) -> v }
    })

  /** Replace the families `fresh` carries, keep the rest. */
  def adopt(fresh: PartStats): PartStats = new PartStats(m ++ fresh.m)
}

object PartStats {
  def apply(families: Iterable[(StatFamily[_, _], Map[String, Any])]): PartStats =
    new PartStats(families.toMap)
}

/** Which columns each family tracks for one frame — the routing row's
  * layout: the row count, then each family's aggregates in
  * [[StatFamily.all]] order.
  */
final case class StatLayout(schema: StructType, cols: Seq[(StatFamily[_, _], Seq[String])]) {

  lazy val aggs: Seq[Column] =
    count(lit(1)) +: cols.flatMap { case (f, cs) => f.aggs(schema, cs) }

  /** (row count, stats) from a row holding [[aggs]] from `offset` on. */
  def decode(row: Row, offset: Int): (Long, PartStats) = {
    var at = offset + 1
    val families = cols.map { case (f, cs) =>
      val v = f.fromRow(row, at, cs)
      at += f.width * cs.length
      f -> v
    }
    (row.getLong(offset), PartStats(families))
  }

  /** One aggregation job over `df`: its exact count and statistics. */
  def of(df: DataFrame): (Long, PartStats) = decode(df.agg(aggs.head, aggs.tail: _*).head(), 0)
}

object StatLayout {
  def apply(ds: LakeDataset, schema: StructType): StatLayout =
    StatLayout(schema, StatFamily.all.map(f => f -> f.cols(ds, schema)))
}

/** One vouched cell as a catalog fold reads it. */
final case class FoldCell(key: PartKey, rows: Long, stats: PartStats)

/** The vouched cells of one answer group, in relPath order, with every
  * family's catalog answer over them. An answer is None when a cell lacks
  * the family or a column (fail open to a scan), never stale.
  */
final case class CellGroup(values: Seq[Any], cells: Seq[FoldCell]) {
  import StatFamily._

  def rows: Long = cells.iterator.map(_.rows).sum

  /** Per column, the cells' entries in relPath order. */
  def column[V](f: StatFamily[V, _], cols: Seq[String]): Option[Seq[(String, Seq[V])]] =
    if (!cells.forall(_.stats.covers(f, cols))) None
    else Some(cols.map(c => c -> cells.map(_.stats.get(f).get(c))))

  /** Exact count and [min, max] per column. An incomparable bound pair
    * (type-drifted) fails the whole answer open.
    */
  def zones(cols: Seq[String]): Option[(Long, Map[String, Zone])] =
    column(Zones, cols).flatMap { per =>
      val folded = per.map { case (c, zs) =>
        c -> zs.foldLeft(Option(Zone(None, None)))((a, z) => a.flatMap(_.widen(z)))
      }
      if (folded.exists(_._2.isEmpty)) None
      else Some((rows, folded.map { case (c, z) => c -> z.get }.toMap))
    }

  /** Exact count and sums — BigDecimal addition is associative, so the
    * fold is the one-shot exact sum (see [[SumMap]] for what a scan
    * answers).
    */
  def sums(cols: Seq[String]): Option[(Long, Map[String, ColSum])] =
    column(Sums, cols).map(per =>
      (rows, per.map { case (c, ss) => c -> ss.foldLeft(SumMap.Zero)(_ add _) }.toMap))

  /** HLL union estimates (see [[HllMap]] for the estimator contract). */
  def approxDistinct(cols: Seq[String]): Option[Map[String, Long]] =
    column(Sketches, cols).map(_.map { case (c, bs) => c -> HllMap.unionEstimate(bs) }.toMap)

  /** GK quantiles within the rank bound; None over no cells or no values. */
  def quantiles(cols: Seq[String], qs: Seq[Double]): Option[Map[String, Seq[Double]]] =
    if (cells.isEmpty) None
    else column(Quantiles, cols).flatMap { per =>
      val answers = per.map { case (c, s) =>
        val folded = QuantileMap.fold(s)
        c -> qs.map(folded.query)
      }
      if (answers.exists(_._2.exists(_.isEmpty))) None
      else Some(answers.map { case (c, vs) => c -> vs.map(_.get) }.toMap)
    }

  /** Top values as (value, lower, upper, exact); None over no cells. */
  def topK(cols: Seq[String], k: Int): Option[Map[String, Seq[(String, Long, Long, Boolean)]]] =
    if (cells.isEmpty) None
    else column(Freqs, cols).map(_.map { case (c, s) =>
      c -> FreqMap.fold(s).topK(k).map { case (v, lo, hi) => (v, lo, hi, lo == hi) }
    }.toMap)

  /** The certified-exact (value → count) table of `c`, null group from the
    * row counters; None once the folded sketch evicted.
    */
  def groupCounts(c: String): Option[Seq[(Option[String], Long)]] =
    if (cells.isEmpty) Some(Seq.empty)
    else column(Freqs, Seq(c)).flatMap { per =>
      val folded = FreqMap.fold(per.head._2)
      if (!folded.isExact) None
      else {
        val nulls = rows - folded.n
        val base = folded.counters.toSeq.sortBy(_._1)
          .map { case (v, n) => (Some(v): Option[String], n) }
        Some(if (nulls > 0) base :+ ((None: Option[String]) -> nulls) else base)
      }
    }

  /** Distinct non-null values of partition column `c` over non-empty cells. */
  def distinctPartition(c: String): Long =
    cells.filter(_.rows > 0L).map(_.key.valueOf(c)).filter(_ != null).distinct.size.toLong

  /** Cells grouped by their raw `partitionCol` value, in value order. */
  private def byPartition(partitionCol: String, key: String): Seq[(String, Seq[Array[Byte]])] =
    cells.groupBy(_.key.partValues.toMap.getOrElse(partitionCol, ""))
      .map { case (v, cs) => v -> cs.map(_.stats.get(Sketches).get(key)) }
      .toSeq.sortBy(_._1)

  /** Net-new distinct `c` per partition value, from the theta twins
    * (A-not-B); None when a cell has no twin.
    */
  def netNew(c: String, partitionCol: String): Option[Seq[(String, Long, Long)]] = {
    import graft.functions.ThetaCodec
    val tk = HllMap.thetaKey(c)
    if (column(Sketches, Seq(tk)).isEmpty) return None
    val seen = ThetaCodec.emptyUnion()
    var first = true
    Some(byPartition(partitionCol, tk).map { case (v, sks) =>
      val g = ThetaCodec.emptyUnion()
      sks.foreach(b => g.union(ThetaCodec.wrap(b)))
      val gc = g.getResult
      val distinct = Math.round(gc.getEstimate)
      val netNew =
        if (first) distinct
        else Math.round(org.apache.datasketches.theta.SetOperation.builder()
          .buildANotB().aNotB(gc, seen.getResult).getEstimate)
      seen.union(gc)
      first = false
      (v, distinct, netNew)
    })
  }

  /** Pairwise overlap of distinct `c` between partition values: theta
    * intersection when every cell has a twin, else HLL inclusion-exclusion.
    */
  def overlap(c: String, partitionCol: String): Option[Seq[(String, String, Long, Long, Long)]] = {
    if (column(Sketches, Seq(c)).isEmpty) return None
    val tk = HllMap.thetaKey(c)
    val haveTheta = column(Sketches, Seq(tk)).isDefined
    val groups = byPartition(partitionCol, if (haveTheta) tk else c)
    Some(for {
      i <- groups.indices; j <- (i + 1) until groups.length
      (va, sa) = groups(i); (vb, sb) = groups(j)
    } yield if (haveTheta) {
      (va, vb, HllMap.thetaUnionEstimate(sa), HllMap.thetaUnionEstimate(sb),
        HllMap.thetaIntersectEstimate(sa, sb))
    } else {
      val a = HllMap.unionEstimate(sa)
      val b = HllMap.unionEstimate(sb)
      (va, vb, a, b, math.max(0L, a + b - HllMap.unionEstimate(sa ++ sb)))
    })
  }
}

/** The result of one catalog fold ([[LakeDataset.fold]]): the vouched cells
  * in answer groups (exactly one for an ungrouped fold), and for a hybrid
  * fold a scan over the cells that could not vouch.
  */
final case class CatalogFold(groups: Seq[CellGroup], rest: Option[DataFrame]) {

  /** The one group of an ungrouped fold. */
  def whole: CellGroup = groups.head

  /** One answer per group, keyed by the decoded group values; None when
    * any group fails.
    */
  def each[T](f: CellGroup => Option[T]): Option[Seq[(Seq[Any], T)]] = {
    val out = groups.map(g => f(g).map(g.values -> _))
    if (out.exists(_.isEmpty)) None else Some(out.map(_.get))
  }
}

object CatalogFold {
  /** A catalog partition value (a string) back to the column's JVM type;
    * None for types that do not round-trip (the answer fails open).
    */
  def decode(s: String, dt: DataType): Option[Any] =
    if (s == null) Some(null)
    else try dt match {
      case StringType => Some(s)
      case IntegerType => Some(Integer.valueOf(s))
      case LongType => Some(java.lang.Long.valueOf(s))
      case ShortType => Some(java.lang.Short.valueOf(s))
      case ByteType => Some(java.lang.Byte.valueOf(s))
      case BooleanType => Some(java.lang.Boolean.valueOf(s))
      case _ => None
    } catch { case scala.util.control.NonFatal(_) => None }
}
