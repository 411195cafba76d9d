package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.tools.ScaleData

/** [[ScaleData]] at sf0.001: COPIES=1 reproduces the source tables, and
  * COPIES=2 doubles the copied tables with unique keys, a self-matching
  * orders–lineitem join, untouched dimensions and disjoint text tokens.
  */
class ScaleDataSpec extends SparkSpec {
  private val tables = ScaleData.Dimensions ++ ScaleData.Copied.map(_._1)

  private def scaled(copies: Int): String = {
    val out = Files.createTempDirectory(s"graft_scale_data_$copies").toString
    ScaleData.write(spark, sf(), out, copies)
    out
  }

  test("COPIES=1 writes every table equal to its source") {
    val out = scaled(1)
    // Gates read `events` through Fixtures.table; every other table is read
    // with µs timestamps as TIMESTAMP_NTZ, as its file types them.
    val raw = spark.newSession()
    raw.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    tables.foreach { t =>
      def read(dir: String): DataFrame =
        if (t == "events") Fixtures.table(spark, dir, t) else raw.read.parquet(s"$dir/$t.parquet")
      val (src, copy) = (read(sf()), read(out))
      assert(copy.schema == src.schema, s"$t changes a column type")
      assert(src.exceptAll(copy).isEmpty && copy.exceptAll(src).isEmpty,
        s"$t differs from its source")
    }
  }

  test("COPIES=2 doubles the copied tables and keeps their keys unique") {
    val out = scaled(2)
    def both(t: String): (DataFrame, DataFrame) =
      (Fixtures.table(spark, sf(), t), Fixtures.table(spark, out, t))
    ScaleData.Copied.foreach { case (t, id) =>
      val (src, copy) = both(t)
      assert(copy.count() == 2 * src.count(), t)
      assert(copy.select(id).distinct().count() == 2 * src.select(id).distinct().count(),
        s"$t.$id collides across copies")
    }
    def joined(dir: String): Long =
      Fixtures.table(spark, dir, "lineitem")
        .join(Fixtures.table(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .count()
    assert(joined(out) == 2 * joined(sf()))
    ScaleData.Dimensions.foreach { t =>
      assert(Files.mismatch(Paths.get(sf(), s"$t.parquet"), Paths.get(out, s"$t.parquet")) == -1L, t)
    }
    val docs = Fixtures.table(spark, out, "documents")
    def tokens(copy: Int): DataFrame = docs
      .filter(col("doc_id") >= copy * ScaleData.Stride &&
        col("doc_id") < (copy + 1) * ScaleData.Stride)
      .select(explode(split(col("text"), "\\s+")).as("tok")).distinct()
    assert(tokens(1).count() > 0)
    assert(tokens(0).intersect(tokens(1)).isEmpty, "copy 1 shares a token with copy 0")
  }
}
