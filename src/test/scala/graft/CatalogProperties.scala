package graft

import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.propBoolean

import org.apache.spark.sql.{functions, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.lake.{LakeDataset, QuantileMap, SumMap}
import graft.model.StorageSpec

/** Catalog soundness across every stat family: after ANY sequence of
  * insert, upsert, key delete, predicate delete, UPDATE, materialize,
  * ANALYZE and a save/reload, every catalog answer is either None (fail
  * open to a scan) or the scan's answer — exactly for counts, bounds, sums
  * and group counts, `hll_sketch_estimate(hll_sketch_agg)` for distinct
  * counts, and within the GK rank bound for quantiles — in the plain,
  * grouped and hybrid shapes. A floating column's sum is the correctly
  * rounded exact sum, within the scan's rounding bound of the scan.
  */
object CatalogProperties extends Properties("CatalogFold") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(3)

  private lazy val spark = SparkSpec.session

  private lazy val orders: DataFrame =
    Fixtures.table(spark, new SparkSpec {}.sf(), "orders")
      .drop("o_orderdate", "o_orderpriority")
      .withColumn("o_batch", (col("o_orderkey") % 4).cast("int"))
      // A floating column: nulls, -0.0, both signs, magnitudes 1e-4..1e4.
      .withColumn("o_x", when(col("o_orderkey") % 11 === 0, lit(null).cast("double"))
        .when(col("o_orderkey") % 13 === 0, lit(-0.0))
        .otherwise((col("o_totalprice") - 150000.0) * pow(lit(10.0), col("o_orderkey") % 9 - 4)))
      .cache()

  private sealed trait Op
  private case class Ins(seed: Long) extends Op
  private case class Ups(seed: Long) extends Op
  private case class DelKeys(seed: Long) extends Op
  private case class DelWhere(m: Int) extends Op
  private case class Upd(m: Int, column: String) extends Op
  private case object Mat extends Op
  private case object Analyze extends Op
  private case object Reload extends Op

  private val opGen: Gen[Op] = Gen.oneOf(
    Gen.choose(1L, 1000L).map(Ins.apply),
    Gen.choose(1L, 1000L).map(Ups.apply),
    Gen.choose(1L, 1000L).map(DelKeys.apply),
    Gen.choose(5, 11).map(DelWhere.apply),
    Gen.zip(Gen.choose(3, 9), Gen.oneOf("o_orderstatus", "o_totalprice", "o_custkey", "o_x"))
      .map { case (m, c) => Upd(m, c) },
    Gen.const(Mat), Gen.const(Analyze), Gen.const(Reload))

  /** A batch of 40 sampled orders: fresh keys for an insert, existing ones
    * with changed values for an upsert.
    */
  private def batch(seed: Long, fresh: Boolean): DataFrame = {
    // Rarely, a batch brings a special value into the floating column.
    val special = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
      .lift((seed % 10).toInt)
    val b0 = orders.sample(withReplacement = false, 40.0 / 1500, seed).limit(40)
    val b = special.fold(b0)(v =>
      b0.withColumn("o_x", when(col("o_custkey") % 50 === 0, lit(v)).otherwise(col("o_x"))))
    if (!fresh) b.withColumn("o_totalprice", col("o_totalprice") * 2)
      .withColumn("o_x", col("o_x") * 2)
      .withColumn("o_orderstatus", lit("U"))
    else b.withColumn("o_orderkey", col("o_orderkey") + seed * 10000)
      .withColumn("o_batch", (col("o_orderkey") % 4).cast("int"))
  }

  private def step(ds: LakeDataset, op: Op, root: String): LakeDataset = {
    op match {
      case Ins(s) => ds.insert(batch(s, fresh = true))
      case Ups(s) => ds.upsert(batch(s, fresh = false), Seq("o_batch", "o_orderkey"))
      case DelKeys(s) => ds.delete(batch(s, fresh = false).select("o_orderkey"), Seq("o_orderkey"))
      case DelWhere(m) => ds.deleteWhere(col("o_custkey") % m === 0)
      case Upd(m, c) => ds.updateWhere(col("o_custkey") % m === 1, Seq(c -> (c match {
        case "o_orderstatus" => lit("Z")
        case "o_totalprice" => col(c) + 1e6
        case "o_x" => col(c) * -3.0
        case _ => lit(1L)
      })))
      case Mat => ds.materialize()
      case Analyze => ds.analyze()
      case Reload =>
        ds.toStorage()
        return LakeDataset.fromStorage(spark, root)
    }
    ds
  }

  private final case class O(key: Long, cust: Long, status: String, price: Double, batch: Int,
      x: Option[Double])

  /** Every catalog answer against the table's own rows (collected once). */
  private def check(ds: LakeDataset, label: String): Prop = {
    val rows = ds.toDF.select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_batch", "o_x")
      .collect().map(r => O(r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3), r.getInt(4),
        Option(r.get(5)).map(_.asInstanceOf[Double])))
    val n = rows.length.toLong
    def zone(xs: Seq[Long]) = graft.lake.Zone(xs.minOption, xs.maxOption)
    def sum(xs: Seq[Long]) = graft.lake.ColSum(java.math.BigDecimal.valueOf(xs.sum), xs.size.toLong)
    def sameSum(a: graft.lake.ColSum, b: graft.lake.ColSum) =
      a.sum.compareTo(b.sum) == 0 && a.nonNulls == b.nonNulls
    def inRankBound(vs: Seq[Double], q: Double, got: Double): Boolean = {
      val slack = 2 * QuantileMap.Eps * vs.size + 1
      vs.count(_ < got) - slack <= q * vs.size && q * vs.size <= vs.count(_ <= got) + slack
    }
    def statusCounts(rs: Seq[O]) = rs.groupBy(_.status).map { case (s, g) => s -> g.size.toLong }
    val byBatch = rows.toSeq.groupBy(_.batch)
    val hll = ds.toDF.agg(hll_sketch_estimate(hll_sketch_agg(col("o_custkey")))).head().getLong(0)

    val stats = ds.metaStats(Seq("o_orderkey", "o_custkey")).forall { case (cnt, zs) =>
      cnt == n && zs("o_orderkey") == zone(rows.map(_.key)) && zs("o_custkey") == zone(rows.map(_.cust))
    }
    val sums = ds.metaSums(Seq("o_custkey")).forall { case (cnt, s) =>
      cnt == n && sameSum(s("o_custkey"), sum(rows.map(_.cust)))
    }
    // Floating sum: the fold is None or the correctly rounded exact sum (a
    // NaN or infinity as Spark's SUM combines them), within n·ε·Σ|x| of the
    // scan.
    val xs = rows.toSeq.flatMap(_.x)
    val finite = xs.filter(x => !x.isNaN && !x.isInfinite)
    val wantX: Option[Double] =
      if (xs.isEmpty) None
      else if (xs.exists(_.isNaN) || xs.contains(Double.PositiveInfinity) &&
          xs.contains(Double.NegativeInfinity)) Some(Double.NaN)
      else xs.find(_.isInfinite).orElse(Some(java.lang.Double.parseDouble(
        finite.foldLeft(java.math.BigDecimal.ZERO)((a, x) => a.add(new java.math.BigDecimal(x)))
          .toString)))
    val scanX = Option(ds.toDF.agg(functions.sum(col("o_x"))).head().get(0)).map(_.asInstanceOf[Double])
    def sameX(a: Option[Double], b: Option[Double]) = (a, b) match {
      case (Some(p), Some(q)) => p.isNaN && q.isNaN || p == q
      case _ => a == b
    }
    val bound = finite.length * math.ulp(1.0) * finite.map(math.abs).sum
    val floatSum = ds.fold().flatMap { f =>
      for ((_, zs) <- f.whole.zones(Seq("o_x")); (_, ss) <- f.whole.sums(Seq("o_x"));
           v <- SumMap.roundedSum(ss("o_x"), zs("o_x"))) yield v
    }.forall(got => sameX(got, wantX) && (sameX(got, scanX) ||
      (got.isDefined && scanX.isDefined && math.abs(got.get - scanX.get) <= bound)))
    val distinct = ds.metaApproxDistinct(Seq("o_custkey")).forall(_("o_custkey") == hll)
    val quant = ds.metaApproxQuantile(Seq("o_totalprice"), Seq(0.5)).forall(m =>
      inRankBound(rows.map(_.price), 0.5, m("o_totalprice").head))
    val counts = ds.metaGroupCounts("o_orderstatus").forall(
      _.map { case (v, c) => v.orNull -> c }.toMap == statusCounts(rows))
    val topk = ds.metaTopK(Seq("o_orderstatus"), 10).forall(_("o_orderstatus").forall {
      case (v, lo, hi, _) =>
        val c = statusCounts(rows).getOrElse(v, 0L)
        lo <= c && c <= hi
    })
    val partitions = ds.fold().forall(_.whole.distinctPartition("o_batch") == byBatch.size.toLong)

    val groupedStats = ds.metaStatsGrouped(Seq("o_batch"), Seq("o_custkey")).forall(gs =>
      gs.map { case (v, cnt, zs) => (v.head, cnt, zs("o_custkey")) }.toSet ==
        byBatch.map { case (b, g) => (b, g.size.toLong, zone(g.map(_.cust))) }.toSet)
    val groupedSums = ds.fold(groupBy = Some(Seq("o_batch")))
      .flatMap(_.each(_.sums(Seq("o_custkey")))).forall(gs =>
      gs.size == byBatch.size && gs.forall { case (v, (cnt, s)) =>
        val g = byBatch(v.head.asInstanceOf[Int])
        cnt == g.size && sameSum(s("o_custkey"), sum(g.map(_.cust)))
      })
    val groupedCounts = ds.metaGroupCountsGrouped(Seq("o_batch"), "o_orderstatus").forall(gs =>
      gs.flatMap { case (v, cs) => cs.map { case (s, c) => (v.head, s.orNull, c) } }.toSet ==
        byBatch.toSeq.flatMap { case (b, g) => statusCounts(g).map { case (s, c) => (b, s, c) } }.toSet)
    val groupedQuant = ds.metaApproxQuantileGrouped(Seq("o_batch"), Seq("o_totalprice"), Seq(0.5))
      .forall(_.forall { case (v, m) =>
        inRankBound(byBatch(v.head.asInstanceOf[Int]).map(_.price), 0.5, m("o_totalprice").head)
      })
    val netNew = ds.metaPartitionNetNew("o_custkey", "o_batch").forall { got =>
      val groups = byBatch.toSeq.map { case (b, g) => b.toString -> g.map(_.cust).toSet }.sortBy(_._1)
      val want = groups.indices.map { i =>
        val seen = groups.take(i).flatMap(_._2).toSet
        (groups(i)._1, groups(i)._2.size.toLong, (groups(i)._2 -- seen).size.toLong)
      }
      got == want
    }

    // Hybrid: the vouched fold plus an aggregation of the rest scan is the
    // whole table's answer.
    val hybrid = ds.metaHybrid(Seq("o_custkey"), Seq("o_custkey")).forall {
      case (cnt, zs, ss, rest) =>
        val restCust = rest.toSeq.flatMap(_.select("o_custkey").collect().map(_.getLong(0)))
        val restZone = zone(restCust)
        val allZone = if (restCust.isEmpty) zs("o_custkey") else zs("o_custkey").widen(restZone).get
        cnt + restCust.size == n && allZone == zone(rows.map(_.cust)) &&
          sameSum(ss("o_custkey").add(sum(restCust)), sum(rows.map(_.cust)))
    }
    val hybridGrouped = ds.metaHybridGrouped(Seq("o_batch"), Seq("o_custkey"), Seq("o_custkey"))
      .forall { case (gs, rest) =>
        val restRows = rest.toSeq.flatMap(_.select("o_batch", "o_custkey").collect()
          .map((r: Row) => r.getInt(0) -> r.getLong(1)))
        val folded = gs.map { case (v, cnt, _, s) => v.head.asInstanceOf[Int] -> ((cnt, s("o_custkey"))) }.toMap
        byBatch.forall { case (b, g) =>
          val restG = restRows.filter(_._1 == b).map(_._2)
          val (cnt, s) = folded.getOrElse(b, (0L, graft.lake.SumMap.Zero))
          cnt + restG.size == g.size && sameSum(s.add(sum(restG)), sum(g.map(_.cust)))
        }
      }

    Seq("stats" -> stats, "sums" -> sums, "floatSum" -> floatSum, "distinct" -> distinct, "quantile" -> quant,
      "groupCounts" -> counts, "topK" -> topk, "distinctPartition" -> partitions,
      "groupedStats" -> groupedStats, "groupedSums" -> groupedSums,
      "groupedCounts" -> groupedCounts, "groupedQuantile" -> groupedQuant,
      "netNew" -> netNew, "hybrid" -> hybrid, "hybridGrouped" -> hybridGrouped)
      .map { case (name, ok) => ok :| s"$label: $name" }.reduce(_ && _)
  }

  property("every catalog answer is None or the scan's after any mutation mix") =
    Prop.forAll(Gen.listOfN(5, opGen)) { ops =>
      val root = java.nio.file.Files.createTempDirectory("graft_catalog_prop").toString
      var ds = LakeDataset.fromDataFrame(spark, orders, partitionCols = Seq("o_batch"),
        storage = Some(StorageSpec(root)), bloomCols = Seq("o_orderkey"),
        sketchCols = Seq("o_custkey"), quantileCols = Seq("o_totalprice"),
        freqCols = Seq("o_orderstatus"))
      // Checks run eagerly, step by step (Prop's && would defer them).
      try {
        val initial = check(ds, "initial")
        Prop.all(initial +: ops.map { op =>
          ds = step(ds, op, root)
          check(ds, s"after $op")
        }: _*)
      } finally LakeDataset.deleteRecursively(java.nio.file.Paths.get(root))
    }
}
