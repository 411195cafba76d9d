package graft

import org.apache.spark.sql.functions._

import graft.lake.{ColSum, LakeDataset, LakePart, PartStats, StatFamily, Zone}

/** The stat-family table's mutation contract, family by family. */
class StatFamilySpec extends SparkSpec {
  import StatFamily._

  private val stats = PartStats(Seq(
    Zones -> Map("a" -> Zone(Some(1L), Some(2L)), "b" -> Zone(Some(3L), Some(4L))),
    Sums -> Map("a" -> ColSum(java.math.BigDecimal.ONE, 1L)),
    Sketches -> Map("a" -> Array[Byte](1), "theta:a" -> Array[Byte](2), "b" -> Array[Byte](3)),
    Freqs -> Map("a" -> Array[Byte](4))))

  test("upsert/delete keep the superset families and drop the exact ones") {
    val r = stats.rewritten
    assert(r.get(Zones) == stats.get(Zones))
    assert(r.get(Sums).isEmpty && r.get(Sketches).isEmpty && r.get(Freqs).isEmpty)
  }

  test("UPDATE forgets the assigned column in every family, theta twin included") {
    val f = stats.forget(Set("a"))
    assert(f.get(Zones).get.keySet == Set("b"))
    assert(f.get(Sums).get.isEmpty && f.get(Freqs).get.isEmpty)
    assert(f.get(Sketches).get.keySet == Set("b"))
  }

  test("an append that triggers auto-compaction is folded in once") {
    val o = Fixtures.table(spark, sf(), "orders").limit(20)
    val ds = LakeDataset.fromDataFrame(spark, o, freqCols = Seq("o_orderstatus"))
    // The last insert reaches the part's compaction depth: its recount
    // already includes the batch, which must not be added again.
    (1 to LakePart.AutoCompactDepth.toInt).foreach(_ => ds.insert(o))
    val copies = LakePart.AutoCompactDepth + 1
    val want = o.agg(sum("o_custkey")).head().getLong(0) * copies
    val (n, sums) = ds.metaSums(Seq("o_custkey")).get
    assert(n == 20 * copies)
    assert(sums("o_custkey").sum.longValueExact == want)
    val counts = ds.metaGroupCounts("o_orderstatus").get.map { case (v, c) => v.orNull -> c }.toMap
    val wantCounts = o.groupBy("o_orderstatus").count().collect()
      .map(r => r.getString(0) -> r.getLong(1) * copies).toMap
    assert(counts == wantCounts)
  }
}
