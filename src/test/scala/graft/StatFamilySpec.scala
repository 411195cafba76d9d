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

/** Floating sums through the manifest: kept across a reopen, and absent
  * from a manifest written before floats were tracked.
  */
class FloatSumPersistSpec extends SparkSpec {
  import org.apache.spark.sql.catalyst.plans.logical.LocalRelation

  private val Sql = "SELECT COUNT(*) AS n, SUM(o_totalprice) AS s FROM fsp_t"

  private def saved(): (String, org.apache.spark.sql.DataFrame) = {
    val o = Fixtures.table(spark, sf(), "orders")
      .withColumn("o_batch", (col("o_orderkey") % 3).cast("int"))
    val root = java.nio.file.Files.createTempDirectory("graft_float_sum").toString
    LakeDataset.fromDataFrame(spark, o, partitionCols = Seq("o_batch"),
      storage = Some(graft.model.StorageSpec(root))).toStorage()
    (root, o)
  }

  private def query(ds: LakeDataset, sql: String = Sql): org.apache.spark.sql.DataFrame = {
    val db = new graft.lake.Database(spark)
    db.register("fsp_t", ds)
    db.executeSql(sql)
  }

  test("float sums survive toStorage -> fromStorage: the reopened table answers SUM(double)") {
    val (root, o) = saved()
    try {
      val m = graft.model.Manifest.read(root)
      assert(m.partSums.values.forall(_.contains("o_totalprice")))
      val df = query(LakeDataset.fromStorage(spark, root))
      assert(df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
      val exact = o.select("o_totalprice").collect()
        .map(r => new java.math.BigDecimal(r.getDouble(0))).reduce(_ add _)
      assert(df.head().getDouble(1) == java.lang.Double.parseDouble(exact.toString))
    } finally LakeDataset.deleteRecursively(java.nio.file.Paths.get(root))
  }

  test("a manifest without float sums reopens cleanly; SUM(double) scans, SUM(bigint) folds") {
    val (root, o) = saved()
    try {
      val m = graft.model.Manifest.read(root)
      graft.model.Manifest.write(m.copy(partSums =
        m.partSums.map { case (rel, cols) => rel -> (cols - "o_totalprice") }), root)
      val ds = LakeDataset.fromStorage(spark, root)
      val df = query(ds)
      assert(!df.queryExecution.optimizedPlan.collectLeaves().exists(_.isInstanceOf[LocalRelation]))
      assert(df.head().getLong(0) == o.count())
      val scanned = o.agg(sum(col("o_totalprice"))).head().getDouble(0)
      assert(math.abs(df.head().getDouble(1) - scanned) <= 1e-9 * math.abs(scanned))
      val ints = query(ds, "SELECT COUNT(*) AS n, SUM(o_custkey) AS s FROM fsp_t")
      assert(ints.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
      assert(ints.head().getLong(1) == o.agg(sum(col("o_custkey"))).head().getLong(0))
    } finally LakeDataset.deleteRecursively(java.nio.file.Paths.get(root))
  }
}
