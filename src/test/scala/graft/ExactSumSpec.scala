package graft

import java.math.BigDecimal

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.ExactSum
import graft.lake.{ColSum, Database, LakeDataset, SumMap, Zone}

/** The floating-column sum state: exact, order-free folds; SUM and AVG as
  * the correctly rounded value; Spark's special-value semantics; and the
  * fail-open edges (overflow risk, the digit cap).
  */
class ExactSumSpec extends SparkSpec {

  private def exact(xs: Seq[Double]): BigDecimal =
    xs.filter(x => !x.isNaN && !x.isInfinite)
      .foldLeft(BigDecimal.ZERO)((a, x) => a.add(new BigDecimal(x)))

  private def stateOf(xs: Seq[Double]): ExactSum = xs.foldLeft(ExactSum.empty)(_ add _)

  /** Mixed magnitudes and signs, a few exact zeros of either sign. */
  private def mixed(rng: scala.util.Random, n: Int): Seq[Double] = Seq.fill(n) {
    rng.nextInt(20) match {
      case 0 => -0.0
      case 1 => 0.0
      case _ => (rng.nextDouble() - 0.5) * math.pow(10, rng.nextInt(40) - 20)
    }
  }

  test("exact_sum: any split and merge order of one column gives the one exact state") {
    val rng = new scala.util.Random(7)
    val xs = mixed(rng, 2000)
    val want = exact(xs)
    assert(stateOf(xs).finite.compareTo(want) == 0)
    (1 to 20).foreach { _ =>
      val cuts = (Seq(0, xs.length) ++ Seq.fill(rng.nextInt(8))(rng.nextInt(xs.length))).sorted
      val parts = cuts.sliding(2).map { case Seq(a, b) => stateOf(xs.slice(a, b)) }.toSeq
      // A random merge tree over the shuffled parts, each through the codec.
      var pool = rng.shuffle(parts).map(p => ExactSum.deserialize(ExactSum.serialize(p)))
      while (pool.length > 1) {
        val i = rng.nextInt(pool.length - 1)
        pool = pool.take(i) ++ Seq(pool(i).merge(pool(i + 1))) ++ pool.drop(i + 2)
      }
      assert(pool.head.finite.compareTo(want) == 0)
      assert(pool.head.flags == 0)
    }
    // The text codec round-trips the state exactly.
    val (v, f) = ExactSum.parse(stateOf(xs).rendered)
    assert(v.compareTo(want) == 0 && f == 0)
  }

  test("the distributed aggregate equals the sequential exact sum") {
    val rng = new scala.util.Random(11)
    val xs = mixed(rng, 3000)
    import spark.implicits._
    val df = xs.toDF("x").repartition(6)
    val s = df.agg(graft.functions.ExactSumAgg.agg(col("x"))).head().getString(0)
    assert(ExactSum.parse(s)._1.compareTo(exact(xs)) == 0)
  }

  test("roundedQuotient is the correctly rounded s / n") {
    val rng = new scala.util.Random(3)
    (1 to 300).foreach { _ =>
      val s = exact(mixed(rng, 1 + rng.nextInt(30)))
      val n = 1L + rng.nextInt(1000000)
      val r = SumMap.roundedQuotient(s, n)
      val nb = BigDecimal.valueOf(n)
      def err(d: Double) = s.subtract(new BigDecimal(d).multiply(nb)).abs
      assert(err(r).compareTo(err(math.nextUp(r))) <= 0 &&
        err(r).compareTo(err(math.nextDown(r))) <= 0, s"$s / $n -> $r")
    }
    // A tie rounds to even: (2^53 + 1) / 1 sits halfway between doubles.
    assert(SumMap.roundedQuotient(new BigDecimal((1L << 53) + 1), 1L) == (1L << 53).toDouble)
    assert(SumMap.roundedQuotient(new BigDecimal(-7), 2L) == -3.5)
  }

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("g", IntegerType), StructField("x", DoubleType)))

  /** A two-cell lake table over `xs` (null for None), registered as `t`. */
  private def table(name: String, xs: Seq[Option[Double]]): (Database, DataFrame) = {
    val rows = new java.util.ArrayList[Row]()
    xs.zipWithIndex.foreach { case (x, i) =>
      rows.add(Row(i.toLong, i % 2, x.map(Double.box).orNull))
    }
    val src = spark.createDataFrame(rows, schema)
    val db = new Database(spark)
    db.register(name, LakeDataset.fromDataFrame(spark, src, partitionCols = Seq("g")))
    (db, src)
  }

  /** SUM(x) through SQL: whether the plan collapsed, the answer, and the
    * plain scan's answer.
    */
  private def sqlSum(name: String, xs: Seq[Option[Double]]): (Boolean, Any, Any) = {
    val (db, src) = table(name, xs)
    val df = db.executeSql(s"SELECT SUM(x) AS s FROM $name")
    (df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
      df.head().get(0), src.agg(sum(col("x"))).head().get(0))
  }

  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) => x.isNaN && y.isNaN || x == y
    case _ => a == b
  }

  test("specials: a NaN makes NaN, as Spark's SUM does") {
    val (collapsed, got, scan) = sqlSum("es_nan", Seq(Some(1.5), Some(Double.NaN), Some(2.0)))
    assert(collapsed && got.asInstanceOf[Double].isNaN && same(got, scan))
  }

  test("specials: both infinities make NaN") {
    val (collapsed, got, scan) = sqlSum("es_infs",
      Seq(Some(Double.PositiveInfinity), Some(3.0), Some(Double.NegativeInfinity)))
    assert(collapsed && got.asInstanceOf[Double].isNaN && same(got, scan))
  }

  test("specials: one infinity wins over finite values") {
    val (collapsed, got, scan) = sqlSum("es_inf",
      Seq(Some(1e300), Some(Double.NegativeInfinity), Some(-2.0), None))
    assert(collapsed && got == Double.NegativeInfinity && same(got, scan))
  }

  test("specials: an all -0.0 column sums to 0.0") {
    val (collapsed, got, scan) = sqlSum("es_negzero", Seq(Some(-0.0), Some(-0.0), Some(-0.0)))
    assert(collapsed)
    assert(java.lang.Double.doubleToRawLongBits(got.asInstanceOf[Double]) == 0L)
    assert(java.lang.Double.doubleToRawLongBits(scan.asInstanceOf[Double]) == 0L)
  }

  test("specials: an all-null column sums to NULL") {
    val (collapsed, got, scan) = sqlSum("es_null", Seq(None, None, None))
    assert(collapsed && got == null && scan == null)
  }

  test("overflow: values whose partial sums could reach Double.MaxValue scan") {
    // The exact sum is finite (1e308), but adding the two 1e308s first
    // overflows — some scan order would answer Infinity.
    val xs = Seq(Some(1e308), Some(1e308), Some(-1e308))
    val (collapsed, got, _) = sqlSum("es_overflow", xs)
    assert(!collapsed && Set[Any](1e308, Double.PositiveInfinity)(got))
    assert(SumMap.roundedSum(ColSum(new BigDecimal(1e308), 3L),
      Zone(Some(-1e308), Some(1e308))).isEmpty)
    assert(SumMap.roundedSum(ColSum(new BigDecimal(3.0), 3L), Zone(Some(1.0), Some(1.0)))
      .contains(Some(3.0)))
  }

  test("digit cap: a subnormal sum scans, and its manifest entry is not written") {
    val tiny = Double.MinPositiveValue
    val (collapsed, got, scan) = sqlSum("es_subnormal", Seq(Some(tiny), Some(3 * tiny)))
    assert(!collapsed && same(got, scan))
    val cs = ColSum(exact(Seq(tiny, 3 * tiny)), 2L)
    assert(!SumMap.withinCap(cs))
    assert(SumMap.roundedSum(cs, Zone(Some(tiny), Some(3 * tiny))).isEmpty)
    assert(SumMap.decode(cs.sum.toPlainString, 2L).isEmpty)
    assert(SumMap.decode(SumMap.render(ColSum(new BigDecimal(0.1), 1L)), 1L)
      .contains(ColSum(new BigDecimal(0.1), 1L)))
    assert(SumMap.decode("NaN", 4L).contains(ColSum(BigDecimal.ZERO, 4L, ExactSum.NaN)))
  }
}
