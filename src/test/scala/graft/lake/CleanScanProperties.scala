package graft.lake

import org.scalacheck.{Gen, Prop, Properties, Test}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The whole-table view's contract under random mutation mixes: whenever
  * [[LakeDataset.cleanScan]] is set, its rows (as a multiset) are exactly
  * the union of every part's view, and `toDF` equals a driver-side model.
  * The table has both a partition column and buckets; the mix covers
  * insert, `deleteWhere` (including predicates that are NULL on some rows),
  * wide and narrow upsert, `updateWhere` and `compact`.
  */
object CleanScanProperties extends Properties("CleanScan") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(4)

  private lazy val spark = graft.SparkSpec.session
  import spark.implicits._

  private type R = (Long, Option[Double])

  private def rowsGen(keys: Gen[Long], n: Int): Gen[List[R]] =
    Gen.listOfN(n, for {
      k <- keys
      v <- Gen.option(Gen.choose(-50, 50).map(_.toDouble))
    } yield (k, v)).map(_.distinctBy(_._1))

  private sealed trait Op
  private case class Ins(rows: List[R]) extends Op
  /** DELETE WHERE v > t: NULL on the rows whose v is NULL, which stay. */
  private case class DelAbove(t: Double) extends Op
  private case class DelKeys(lo: Long, hi: Long) extends Op
  private case class Ups(rows: List[R]) extends Op
  private case class UpdWhere(lo: Long, hi: Long, delta: Double) extends Op
  private case object Compact extends Op

  private val opGen: Gen[Op] = Gen.frequency(
    3 -> rowsGen(Gen.choose(0L, 99L), 4).map(Ins.apply),
    2 -> Gen.choose(-40, 40).map(t => DelAbove(t.toDouble)),
    2 -> Gen.choose(0L, 40L).map(a => DelKeys(a, a + 3)),
    // wide (many keys over most cells) and narrow (one key) upserts
    2 -> rowsGen(Gen.choose(0L, 40L), 12).map(Ups.apply),
    2 -> rowsGen(Gen.choose(0L, 40L), 1).map(Ups.apply),
    1 -> (for { a <- Gen.choose(0L, 40L); d <- Gen.choose(-5, 5) }
      yield UpdWhere(a, a + 10, d.toDouble)),
    1 -> Gen.const(Compact))

  private def toDf(rows: List[R]): DataFrame =
    rows.toDF("k", "v").withColumn("p", (col("k") % 3).cast("int"))

  private def rowsOf(d: DataFrame): List[(Long, Option[Double], Int)] =
    d.select("k", "v", "p").collect().toList.map((r: Row) =>
      (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1)), r.getInt(2)))
      .sortBy(r => (r._1, r._2.toString))

  property("cleanScan == union of part views, toDF == model, after every step") =
    Prop.forAllNoShrink(rowsGen(Gen.choose(0L, 40L), 30), Gen.listOfN(6, opGen)) { (base, ops) =>
      var fresh = 1000L
      val ds = LakeDataset.fromDataFrame(spark, toDf(base),
        partitionCols = Seq("p"), bucketCols = Seq("k"), nBuckets = 3)
      var model: Map[Long, Option[Double]] = base.toMap
      // Checked as each step lands (Prop's && evaluates its right side late).
      def failures(step: String): List[String] = {
        val want = model.toList.map { case (k, v) => (k, v, (k % 3).toInt) }
          .sortBy(r => (r._1, r._2.toString))
        val parts = ds.partKeys.map(ds.part(_).get.view)
          .reduce(_ unionByName (_, allowMissingColumns = true))
        List(
          ds.cleanScan.forall(c => rowsOf(c) == rowsOf(parts)) -> "cleanScan != parts",
          (rowsOf(ds.toDF) == want) -> "toDF != model"
        ).collect { case (false, what) => s"$step: $what" }
      }
      val failed = ops.zipWithIndex.foldLeft(failures("build")) { case (acc, (op, i)) =>
        op match {
          case Ins(rows) =>
            val shifted = rows.map { case (k, v) => (k + fresh, v) }
            fresh += 1000L
            ds.insert(toDf(shifted))
            model ++= shifted
          case DelAbove(t) =>
            ds.deleteWhere(col("v") > t)
            model = model.filter { case (_, v) => !v.exists(_ > t) }
          case DelKeys(lo, hi) =>
            ds.deleteWhere(col("k").between(lo, hi))
            model = model.filter { case (k, _) => k < lo || k > hi }
          case Ups(rows) if rows.nonEmpty =>
            ds.upsert(toDf(rows), Seq("k"))
            // incoming wins; an incoming NULL keeps the old value
            model ++= rows.map { case (k, v) => k -> v.orElse(model.getOrElse(k, None)) }
          case Ups(_) => ()
          case UpdWhere(lo, hi, d) =>
            ds.updateWhere(col("k").between(lo, hi), Seq("v" -> (col("v") + d)))
            model = model.map { case (k, v) =>
              k -> (if (k >= lo && k <= hi) v.map(_ + d) else v)
            }
          case Compact => ds.compact()
        }
        acc ++ failures(s"step $i $op")
      }
      Prop(failed.isEmpty) :| failed.mkString("; ")
    }
}
