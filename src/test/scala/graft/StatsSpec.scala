package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

import graft.lake.{Database, LakeDataset}
import graft.operators.Stats

/** Metadata-only aggregate answers (Stats.tableStats + the LakePruneRule
  * Aggregate→LocalRelation rewrite): exactness gating, both answer paths,
  * manifest round trip, SQL surface.
  */
class StatsSpec extends SparkSpec {

  private def orders: DataFrame =
    spark.read.parquet(s"${sf()}/orders.parquet")

  private val statCols = Seq("o_orderkey", "o_totalprice", "o_orderdate")

  /** The fixture's timestamp column external type differs by parquet reader
    * settings (TIMESTAMP vs TIMESTAMP_NTZ) — produce whichever matches.
    */
  private def dateLike(df: DataFrame, iso: String): Any = {
    val ldt = java.time.LocalDateTime.parse(iso)
    df.schema("o_orderdate").dataType match {
      case org.apache.spark.sql.types.TimestampNTZType => ldt
      case _ => java.sql.Timestamp.valueOf(ldt)
    }
  }

  /** Ground truth by real aggregation over the dataset's current content. */
  private def truth(ds: LakeDataset): Seq[Any] = {
    val aggs = count(lit(1)) +:
      statCols.flatMap(c => Seq(min(col(c)), max(col(c))))
    ds.toDF.agg(aggs.head, aggs.tail: _*).head().toSeq
  }

  private def statsRow(ds: LakeDataset): Seq[Any] =
    Stats.tableStats(spark, ds, statCols).head().toSeq

  /** The exact sum of doubles, as BigDecimal addition computes it. */
  private def exactSum(xs: Seq[Double]): java.math.BigDecimal =
    xs.foldLeft(java.math.BigDecimal.ZERO)((a, x) => a.add(new java.math.BigDecimal(x)))

  /** The exact sum rounded once to a double. */
  private def roundedExactSum(xs: Seq[Double]): Double =
    java.lang.Double.parseDouble(exactSum(xs).toString)

  /** Any summation order's distance from the exact sum: n·ε·Σ|x|. */
  private def scanBound(xs: Seq[Double]): Double =
    xs.length * math.ulp(1.0) * xs.map(math.abs).sum

  private def freshLake(): LakeDataset = {
    val o = orders.withColumn("o_batch", (col("o_orderkey") / 500).cast("int"))
    val ds = LakeDataset.fromDataFrame(spark, o.filter(col("o_orderkey") < 600),
      partitionCols = Seq("o_batch"))
    ds.insert(o.filter(col("o_orderkey") >= 600))
    ds
  }

  test("pure-insert history answers from the catalog with a scan-free plan") {
    val ds = freshLake()
    assert(Stats.metaAnswerable(ds, statCols))
    val df = Stats.tableStats(spark, ds, statCols)
    // The metadata answer is a LocalRelation-backed one-row frame — no file
    // relation anywhere in its plan.
    assert(Bridge.scanRootPaths(df).isEmpty)
    assert(df.queryExecution.optimizedPlan.collectLeaves()
      .forall(_.isInstanceOf[LocalRelation]))
    assert(df.head().toSeq == truth(ds))
    // Another insert keeps exactness: count adds, bounds widen exactly.
    ds.insert(orders.limit(0)
      .unionByName(spark.createDataFrame(
        java.util.Collections.singletonList(
          org.apache.spark.sql.Row(999999L, 7L, "O", 1.5,
            dateLike(orders, "2031-01-01T00:00:00"), "1-URGENT")),
        orders.schema))
      .withColumn("o_batch", (col("o_orderkey") / 500).cast("int")))
    assert(Stats.metaAnswerable(ds, statCols))
    val after = statsRow(ds)
    assert(after == truth(ds))
    assert(after.head.asInstanceOf[Long] == orders.count() + 1)
    assert(after(2).asInstanceOf[Long] == 999999L) // new exact max key
  }

  test("upsert and delete fail open to the scan; materialize re-tightens") {
    val ds = freshLake()
    val minKey = orders.agg(min(col("o_orderkey"))).head().getLong(0)
    // Upsert an existing key: counter goes stale, zones become a superset.
    ds.upsert(orders.filter(col("o_orderkey") === minKey)
      .withColumn("o_totalprice", lit(0.25))
      .withColumn("o_batch", (col("o_orderkey") / 500).cast("int")),
      keys = Seq("o_orderkey"))
    assert(!Stats.metaAnswerable(ds, statCols))
    assert(statsRow(ds) == truth(ds)) // fallback path, still exact
    ds.materialize()
    assert(Stats.metaAnswerable(ds, statCols))
    assert(statsRow(ds) == truth(ds))
    assert(statsRow(ds)(3).asInstanceOf[Double] == 0.25) // tight new min price
    // Delete the min-key rows: the stale zone still holds the old min —
    // the metadata path must refuse until a materialize recomputes.
    ds.delete(spark.range(minKey, minKey + 1).toDF("o_orderkey"), Seq("o_orderkey"))
    assert(!Stats.metaAnswerable(ds, statCols))
    assert(statsRow(ds) == truth(ds))
    ds.materialize()
    assert(Stats.metaAnswerable(ds, statCols))
    val t = truth(ds)
    assert(statsRow(ds) == t)
    assert(t(1).asInstanceOf[Long] > minKey) // deletion visible in tight min
  }

  test("hybrid: one dirty cell scans alone while the rest folds from the catalog") {
    val root = java.nio.file.Files.createTempDirectory("graft_stats_hy").toString
    val o = orders.withColumn("o_batch", (col("o_orderkey") / 100).cast("int"))
    val ds = LakeDataset.fromDataFrame(spark, o, partitionCols = Seq("o_batch"),
      storage = Some(graft.model.StorageSpec(root)))
    ds.toStorage()
    val loaded = LakeDataset.fromStorage(spark, root)
    val total = loaded.numParts
    assert(total >= 8)
    // Dirty exactly one cell: an upsert of one existing key.
    loaded.upsert(o.filter(col("o_orderkey") === 42)
      .withColumn("o_totalprice", lit(0.125)), keys = Seq("o_orderkey"))
    assert(!Stats.metaAnswerable(loaded, statCols))
    // The partial fold hands back a scan covering ONLY the dirty cell.
    val Some((cnt0, _, Some(scanDf))) = loaded.metaStatsPartial(statCols)
    assert(cnt0 > 0)
    assert(scanDf.count() < o.count() / 4, "hybrid scan must cover a small rest")
    // The combined answer is exact — and so is the SUM flavor.
    assert(statsRow(loaded) == truth(loaded))
    assert(statsRow(loaded)(3).asInstanceOf[Double] == 0.125)
    val sumGot = Stats.tableSumStats(spark, loaded, Seq("o_custkey")).head().toSeq
    val sumWant = loaded.toDF
      .agg(count(lit(1)).cast("long"), sum(col("o_custkey"))).head().toSeq
    assert(sumGot == sumWant)
    // Nothing vouched (single dirtied part) → None: full scan is the only path.
    val none = LakeDataset.fromDataFrame(spark, o.limit(100))
    none.upsert(o.limit(1), keys = Seq("o_orderkey"))
    assert(none.metaStatsPartial(statCols).isEmpty)
    assert(Stats.tableStats(spark, none, statCols).head().toSeq == truth(none))
  }

  test("SQL hybrid: count/sum/min over one dirty cell scans that cell only") {
    val root = java.nio.file.Files.createTempDirectory("graft_stats_sqlhy").toString
    val o = orders.withColumn("o_batch", (col("o_orderkey") / 100).cast("int"))
    val ds = LakeDataset.fromDataFrame(spark, o, partitionCols = Seq("o_batch"),
      storage = Some(graft.model.StorageSpec(root)))
    ds.toStorage()
    val loaded = LakeDataset.fromStorage(spark, root)
    val nCells = loaded.numParts
    assert(nCells >= 8)
    loaded.upsert(o.filter(col("o_orderkey") === 42)
      .withColumn("o_custkey", col("o_custkey") + 777L), keys = Seq("o_orderkey"))
    val db = new Database(spark)
    db.register("sqlhy_t", loaded)
    val df = db.executeSql(
      """SELECT COUNT(*) AS cnt, SUM(o_custkey) AS sum_cust,
        |       MIN(o_orderkey) AS min_key, COUNT(o_custkey) AS n_cust
        |FROM sqlhy_t""".stripMargin)
    // The plan folds the vouched cells into a LocalRelation and scans ONLY
    // the dirty cell — not the table.
    val leaves = df.queryExecution.optimizedPlan.collectLeaves()
    assert(leaves.exists(_.isInstanceOf[LocalRelation]),
      s"expected a LocalRelation partial, got:\n${df.queryExecution.optimizedPlan}")
    // Rest side = the one dirty cell (an in-memory checkpointed slice after
    // the upsert, or at most a couple of leaves) — never the table's
    // multi-path scan over all cells.
    val nonLocal = leaves.filterNot(_.isInstanceOf[LocalRelation])
    assert(nonLocal.nonEmpty && nonLocal.size <= 2,
      s"expected <=2 rest leaves of $nCells cells, got ${nonLocal.size}:\n" +
        df.queryExecution.optimizedPlan)
    assert(Bridge.scanRootPaths(df).size <= 2)
    // And the answer is the full aggregation's, exactly.
    val want = loaded.toDF.agg(count(lit(1)).as("cnt"),
      sum(col("o_custkey")).as("sum_cust"), min(col("o_orderkey")).as("min_key"),
      count(col("o_custkey")).as("n_cust")).head().toSeq
    assert(df.head().toSeq == want)
    // A partition-equality WHERE keeps the hybrid exact per selected cells.
    loaded.upsert(o.filter(col("o_orderkey") === 742)
      .withColumn("o_custkey", col("o_custkey") + 1L), keys = Seq("o_orderkey"))
    val dfF = db.executeSql(
      "SELECT COUNT(*) AS cnt, SUM(o_custkey) AS s FROM sqlhy_t WHERE o_batch IN (0, 7)")
    val wantF = loaded.toDF.filter(col("o_batch").isin(0, 7))
      .agg(count(lit(1)).as("cnt"), sum(col("o_custkey")).as("s")).head().toSeq
    assert(dfF.head().toSeq == wantF)
  }

  test("grouped hybrid: dirty cells rescan their groups, vouched groups fold") {
    val o = orders.withColumn("o_batch", (col("o_orderkey") / 100).cast("int"))
    val ds = LakeDataset.fromDataFrame(spark, o, partitionCols = Seq("o_batch"))
    ds.upsert(o.filter(col("o_orderkey") === 42)
      .withColumn("o_totalprice", lit(0.5)), keys = Seq("o_orderkey"))
    // The partial grouped fold exposes vouched groups + a rest scan.
    val Some((groups, Some(scanDf))) =
      ds.metaStatsGroupedPartial(Seq("o_batch"), Seq("o_orderkey"))
    assert(groups.nonEmpty)
    assert(scanDf.count() < o.count() / 4)
    // The public grouped answer equals the real grouped aggregation.
    val got = Stats.tableStatsBy(spark, ds, Seq("o_batch"), statCols)
      .orderBy("o_batch").collect().map(_.toSeq).toSeq
    val aggs = count(lit(1)).cast("long") +:
      statCols.flatMap(c => Seq(min(col(c)), max(col(c))))
    val want = ds.toDF.groupBy(col("o_batch")).agg(aggs.head, aggs.tail: _*)
      .orderBy("o_batch").collect().map(_.toSeq).toSeq
    assert(got == want)
    // The dirtied group's new min price is visible through the hybrid.
    assert(got.find(_.head == 0).get(4) == 0.5)
  }

  test("SQL grouped hybrid: dirty cell rescans its cell only, groups merge") {
    val root = java.nio.file.Files.createTempDirectory("graft_stats_ghy").toString
    val o = orders.withColumn("o_batch", (col("o_orderkey") / 100).cast("int"))
    val ds = LakeDataset.fromDataFrame(spark, o, partitionCols = Seq("o_batch"),
      storage = Some(graft.model.StorageSpec(root)))
    ds.toStorage()
    val loaded = LakeDataset.fromStorage(spark, root)
    val nCells = loaded.numParts
    assert(nCells >= 8)
    loaded.upsert(o.filter(col("o_orderkey") === 42)
      .withColumn("o_custkey", col("o_custkey") + 9L), keys = Seq("o_orderkey"))
    val db = new Database(spark)
    db.register("ghy_t", loaded)
    val df = db.executeSql(
      """SELECT o_batch, COUNT(*) AS cnt, SUM(o_custkey) AS sum_cust,
        |       MIN(o_orderkey) AS min_key, COUNT(o_custkey) AS n_cust
        |FROM ghy_t GROUP BY o_batch""".stripMargin)
    // Vouched groups fold into a LocalRelation; only the dirty cell scans.
    val leaves = df.queryExecution.optimizedPlan.collectLeaves()
    assert(leaves.exists(_.isInstanceOf[LocalRelation]),
      s"expected a LocalRelation partial, got:\n${df.queryExecution.optimizedPlan}")
    assert(Bridge.scanRootPaths(df).size <= 2,
      s"expected <=2 scan roots of $nCells cells")
    val want = loaded.toDF.groupBy(col("o_batch"))
      .agg(count(lit(1)).as("cnt"), sum(col("o_custkey")).as("sum_cust"),
        min(col("o_orderkey")).as("min_key"), count(col("o_custkey")).as("n_cust"))
      .orderBy("o_batch").collect().map(_.toSeq).toSeq
    assert(df.orderBy("o_batch").collect().map(_.toSeq).toSeq == want)
  }

  test("SQL AVG of an integral column collapses to the catalog exactly") {
    val ds = freshLake()
    val db = new Database(spark)
    db.register("avg_t", ds)
    val df = db.executeSql(
      "SELECT AVG(o_custkey) AS avg_cust, COUNT(*) AS cnt FROM avg_t")
    // Full collapse: zero scans, LocalRelation only.
    assert(Bridge.scanRootPaths(df).isEmpty)
    assert(df.queryExecution.optimizedPlan.collectLeaves()
      .forall(_.isInstanceOf[LocalRelation]))
    val want = ds.toDF
      .agg(avg(col("o_custkey")).as("avg_cust"), count(lit(1)).as("cnt"))
      .head().toSeq
    assert(df.head().toSeq == want)
    // Grouped by the partition column: same collapse per group.
    val dg = db.executeSql(
      "SELECT o_batch, AVG(o_custkey) AS a FROM avg_t GROUP BY o_batch")
    assert(dg.queryExecution.optimizedPlan.collectLeaves()
      .forall(_.isInstanceOf[LocalRelation]))
    val wantG = ds.toDF.groupBy(col("o_batch")).agg(avg(col("o_custkey")).as("a"))
      .orderBy("o_batch").collect().map(_.toSeq).toSeq
    assert(dg.orderBy("o_batch").collect().map(_.toSeq).toSeq == wantG)
  }

  test("a cell emptied by DELETE then re-tightened emits NO group row") {
    import spark.implicits._
    val ds = LakeDataset.fromDataFrame(spark,
      Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L), (4L, "c", 40L))
        .toDF("k", "g", "v"), partitionCols = Seq("g"))
    // Empty group b through a ROW predicate (the located-delete path can't
    // prove the cell empty, so the cell object remains with zero rows).
    ds.deleteWhere(col("v") === 30L)
    ds.analyze() // re-tightens the emptied cell: rows=0, statsTight=true
    val db = new Database(spark)
    db.register("zero_g", ds)
    val df = db.executeSql(
      "SELECT g, COUNT(*) AS cnt FROM zero_g GROUP BY g ORDER BY g")
    // The real grouped aggregation has NO row for b — neither must the
    // catalog collapse (a zero-count group is a phantom).
    assert(df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("a", 2L), ("c", 1L)))
    // DISTINCT must not resurrect the vacated partition value either.
    val dv = db.executeSql("SELECT DISTINCT g FROM zero_g ORDER BY g")
    assert(dv.collect().map(_.getString(0)).toSeq == Seq("a", "c"))
  }

  test("SELECT DISTINCT partition-col collapses to the catalog") {
    val ds = freshLake()
    val db = new Database(spark)
    db.register("dist_t", ds)
    val df = db.executeSql("SELECT DISTINCT o_batch FROM dist_t")
    assert(df.queryExecution.optimizedPlan.collectLeaves()
      .forall(_.isInstanceOf[LocalRelation]),
      s"expected catalog-only plan, got\n${df.queryExecution.optimizedPlan}")
    val want = ds.toDF.select("o_batch").distinct()
      .collect().map(_.getInt(0)).sorted.toSeq
    assert(df.collect().map(_.getInt(0)).sorted.toSeq == want)
    // Dirty one cell: the hybrid answers DISTINCT from vouched values +
    // the one-cell scan.
    ds.upsert(orders.filter(col("o_orderkey") === 12)
      .withColumn("o_batch", (col("o_orderkey") / 500).cast("int")),
      keys = Seq("o_orderkey"))
    val dh = db.executeSql("SELECT DISTINCT o_batch FROM dist_t")
    assert(dh.queryExecution.optimizedPlan.collectLeaves()
      .exists(_.isInstanceOf[LocalRelation]),
      s"expected hybrid plan, got\n${dh.queryExecution.optimizedPlan}")
    assert(dh.collect().map(_.getInt(0)).sorted.toSeq == want)
  }

  test("COUNT(DISTINCT partition_col) collapses; vacated values drop out") {
    import spark.implicits._
    val ds = LakeDataset.fromDataFrame(spark,
      Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L), (4L, "c", 40L))
        .toDF("k", "g", "v"), partitionCols = Seq("g"))
    val db = new Database(spark)
    db.register("cd_t", ds)
    val df = db.executeSql(
      "SELECT COUNT(DISTINCT g) AS n_groups, COUNT(*) AS cnt FROM cd_t")
    assert(df.queryExecution.optimizedPlan.collectLeaves()
      .forall(_.isInstanceOf[LocalRelation]),
      s"expected catalog-only plan, got\n${df.queryExecution.optimizedPlan}")
    assert(df.head().toSeq == Seq(3L, 4L))
    // Empty group b via DELETE + re-analyze: the distinct count excludes
    // the vacated value, exactly like the real scan.
    ds.deleteWhere(col("v") === 30L)
    ds.analyze()
    assert(db.executeSql("SELECT COUNT(DISTINCT g) AS n FROM cd_t")
      .head().getLong(0) == 2L)
    // Non-partition column: fail open to the scan, same answer.
    val dn = db.executeSql("SELECT COUNT(DISTINCT v) AS n FROM cd_t")
    assert(!dn.queryExecution.optimizedPlan.collectLeaves()
      .forall(_.isInstanceOf[LocalRelation]))
    assert(dn.head().getLong(0) == 3L)
  }

  test("AVG fails open: mixed signs and dirty cells scan; double input rounds once") {
    import spark.implicits._
    val db = new Database(spark)
    // Double measure: collapses to the exact sum over the count, rounded
    // once, within the scan's rounding bound of the scan's average.
    val ds = freshLake()
    db.register("avgfo_t", ds)
    val dd = db.executeSql("SELECT AVG(o_totalprice) AS a FROM avgfo_t")
    assert(dd.queryExecution.optimizedPlan.collectLeaves()
      .forall(_.isInstanceOf[LocalRelation]))
    val prices = ds.toDF.select("o_totalprice").collect().map(_.getDouble(0))
    val gotAvg = dd.head().getDouble(0)
    val scanAvg = ds.toDF.agg(avg(col("o_totalprice"))).head().getDouble(0)
    assert(math.abs(gotAvg - scanAvg) <= scanBound(prices) / prices.length + math.ulp(scanAvg))
    assert(gotAvg == graft.lake.SumMap.roundedQuotient(exactSum(prices), prices.length))
    // Mixed-sign integral: the sign-uniformity guard declines (no proof the
    // scan's double accumulation is exact) — the scan answers.
    val mixed = LakeDataset.fromDataFrame(spark,
      Seq((1L, -5L, "a"), (2L, 9L, "a"), (3L, -2L, "b"), (4L, 4L, "b"))
        .toDF("k", "v", "g"), partitionCols = Seq("g"))
    db.register("avgmx_t", mixed)
    val dm = db.executeSql("SELECT AVG(v) AS a FROM avgmx_t")
    assert(!dm.queryExecution.optimizedPlan.collectLeaves()
      .forall(_.isInstanceOf[LocalRelation]))
    assert(dm.head().getDouble(0) == 1.5)
    // Dirty cell: AVG takes no hybrid — the full scan answers, exactly.
    val dirty = freshLake()
    dirty.upsert(orders.filter(col("o_orderkey") === 7)
      .withColumn("o_batch", (col("o_orderkey") / 500).cast("int"))
      .withColumn("o_custkey", col("o_custkey") + 3L), keys = Seq("o_orderkey"))
    db.register("avgdy_t", dirty)
    val dy = db.executeSql("SELECT AVG(o_custkey) AS a FROM avgdy_t")
    assert(dy.head().toSeq ==
      dirty.toDF.agg(avg(col("o_custkey")).as("a")).head().toSeq)
  }

  test("AVG of a double column: global and grouped collapse within the scan's bound") {
    val ds = freshLake()
    val db = new Database(spark)
    db.register("avgdbl_t", ds)
    val whole = db.executeSql("SELECT AVG(o_totalprice) AS a FROM avgdbl_t")
    assert(whole.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    val prices = ds.toDF.select("o_totalprice").collect().map(_.getDouble(0)).toSeq
    val scanAvg = ds.toDF.agg(avg(col("o_totalprice"))).head().getDouble(0)
    assert(math.abs(whole.head().getDouble(0) - scanAvg) <=
      scanBound(prices) / prices.length + math.ulp(scanAvg))
    val grouped = db.executeSql(
      "SELECT o_batch, AVG(o_totalprice) AS a FROM avgdbl_t GROUP BY o_batch")
    assert(grouped.queryExecution.optimizedPlan.collectLeaves()
      .forall(_.isInstanceOf[LocalRelation]))
    val byBatch = ds.toDF.select("o_batch", "o_totalprice").collect()
      .groupBy(_.getInt(0)).map { case (b, rs) => b -> rs.map(_.getDouble(1)).toSeq }
    grouped.collect().foreach { r =>
      val xs = byBatch(r.getInt(0))
      assert(r.getDouble(1) == graft.lake.SumMap.roundedQuotient(exactSum(xs), xs.length))
    }
  }

  test("COUNT(col) of a double column from the non-null count; a dirty cell scans") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("k", LongType), StructField("g", IntegerType),
      StructField("x", DoubleType)))
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    (0L until 40L).foreach(i => rows.add(org.apache.spark.sql.Row(i, (i % 3).toInt,
      if (i % 4 == 0) null else java.lang.Double.valueOf(i * 0.1 - 1.7))))
    val ds = LakeDataset.fromDataFrame(spark, spark.createDataFrame(rows, schema),
      partitionCols = Seq("g"))
    val db = new Database(spark)
    db.register("cntdbl_t", ds)
    val sql = "SELECT COUNT(x) AS nx, SUM(x) AS s FROM cntdbl_t"
    val cc = db.executeSql(sql)
    assert(cc.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    val xs = ds.toDF.select("x").collect().filterNot(_.isNullAt(0)).map(_.getDouble(0)).toSeq
    val scan = ds.toDF.agg(count(col("x")), sum(col("x"))).head()
    assert(cc.head().getLong(0) == 30L && scan.getLong(0) == 30L)
    assert(cc.head().getDouble(1) == roundedExactSum(xs))
    assert(math.abs(cc.head().getDouble(1) - scan.getDouble(1)) <= scanBound(xs))
    // One dirty cell: the hybrid would add a rounded partial into a scan
    // sum, so floats fail open to the plain scan.
    ds.upsert(spark.createDataFrame(rows, schema).filter(col("k") === 5L)
      .withColumn("x", lit(2.5)), keys = Seq("k"))
    val dirty = db.executeSql(sql)
    assert(!dirty.queryExecution.optimizedPlan.collectLeaves()
      .exists(_.isInstanceOf[LocalRelation]))
    val rescan = ds.toDF.agg(count(col("x")), sum(col("x"))).head()
    assert(dirty.head().getLong(0) == rescan.getLong(0))
    assert(math.abs(dirty.head().getDouble(1) - rescan.getDouble(1)) <= 2 * scanBound(xs :+ 2.5))
  }

  test("auto-analyze re-tightens once dirty cells exceed the threshold") {
    val o = orders.withColumn("o_batch", (col("o_orderkey") / 100).cast("int"))
    val ds = LakeDataset.fromDataFrame(spark, o, partitionCols = Seq("o_batch"))
    // One EXISTING key per batch cell — each dirty() untightens exactly
    // one distinct cell.
    val keys = o.groupBy("o_batch").agg(min(col("o_orderkey")).as("k"))
      .orderBy("o_batch").collect().map(_.getLong(1)).toSeq
    assert(keys.size >= 7)
    def dirty(key: Long): Unit =
      ds.upsert(o.filter(col("o_orderkey") === key)
        .withColumn("o_custkey", col("o_custkey") + 1L), keys = Seq("o_orderkey"))
    spark.conf.set("spark.graft.stats.autoAnalyzeCells", "5")
    try {
      // 4 dirty cells: below the threshold — the vouch stays lost.
      keys.take(4).foreach(dirty)
      assert(!Stats.metaAnswerable(ds, statCols))
      // Two more (6 > 5): the mutation itself triggers the re-analyze and
      // the FULL catalog collapse is back, exactly.
      keys.slice(4, 6).foreach(dirty)
      assert(Stats.metaAnswerable(ds, statCols))
      assert(statsRow(ds) == truth(ds))
      // Disabled: staleness accumulates (the documented opt-out).
      spark.conf.set("spark.graft.stats.autoAnalyzeCells", "0")
      keys.take(7).foreach(dirty)
      assert(!Stats.metaAnswerable(ds, statCols))
    } finally spark.conf.unset("spark.graft.stats.autoAnalyzeCells")
  }

  test("tightness survives the manifest round trip; untight parts stay untight") {
    val root = java.nio.file.Files.createTempDirectory("graft_stats_rt").toString
    val o = orders.withColumn("o_batch", (col("o_orderkey") / 500).cast("int"))
    val ds = LakeDataset.fromDataFrame(spark, o, partitionCols = Seq("o_batch"),
      storage = Some(graft.model.StorageSpec(root)))
    ds.toStorage()
    val loaded = LakeDataset.fromStorage(spark, root)
    // A freshly loaded table answers count/min/max METADATA-ONLY — zero
    // file reads; the manifest carried the per-part counts and zones.
    assert(Stats.metaAnswerable(loaded, statCols))
    assert(statsRow(loaded) == truth(ds))
    // Now save a table with an untight part: the manifest must NOT vouch.
    ds.upsert(o.filter(col("o_orderkey") === 42), keys = Seq("o_orderkey"))
    ds.toStorage()
    val loaded2 = LakeDataset.fromStorage(spark, root)
    assert(!Stats.metaAnswerable(loaded2, statCols))
    assert(statsRow(loaded2) == truth(ds)) // fallback still exact
  }

  test("SQL count/min/max over the view collapses to a LocalRelation") {
    val ds = freshLake()
    val db = new Database(spark)
    db.register("stats_sql_t", ds)
    val df = db.executeSql(
      """SELECT COUNT(*) AS cnt, MIN(o_orderkey) AS mn, MAX(o_orderkey) AS mx
        |FROM stats_sql_t""".stripMargin)
    assert(df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    val expected = ds.toDF
      .agg(count(lit(1)), min(col("o_orderkey")), max(col("o_orderkey")))
      .head().toSeq
    assert(df.head().toSeq == expected)
  }

  test("GROUP BY a partition column folds per-cell metadata; SQL shape collapses") {
    val ds = freshLake()
    // Scala surface: grouped metadata equals the real grouped aggregation.
    val meta = Stats.tableStatsBy(spark, ds, Seq("o_batch"), Seq("o_orderkey"))
      .orderBy("o_batch").collect().toSeq
    val real = ds.toDF.groupBy("o_batch")
      .agg(count(lit(1)).as("cnt"),
        min(col("o_orderkey")).as("min_o_orderkey"),
        max(col("o_orderkey")).as("max_o_orderkey"))
      .orderBy("o_batch").collect().toSeq
    assert(meta == real)
    assert(meta.size > 1) // genuinely grouped
    // SQL surface collapses to a LocalRelation…
    val db = new Database(spark)
    db.register("stats_grp_t", ds)
    val df = db.executeSql(
      """SELECT o_batch, COUNT(*) AS cnt, MIN(o_orderkey) AS mn
        |FROM stats_grp_t GROUP BY o_batch""".stripMargin)
    assert(df.queryExecution.optimizedPlan.collectLeaves()
      .forall(_.isInstanceOf[LocalRelation]))
    assert(df.orderBy("o_batch").collect().map(r =>
      (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq ==
      real.map(r => (r.getInt(0), r.getLong(1), r.getLong(2))))
    // …but NOT for a non-partition grouping column.
    val other = db.executeSql(
      "SELECT o_orderstatus, COUNT(*) AS cnt FROM stats_grp_t GROUP BY o_orderstatus")
    assert(!other.queryExecution.optimizedPlan.collectLeaves()
      .forall(_.isInstanceOf[LocalRelation]))
    // …and an upsert pauses the grouped collapse until materialize.
    ds.upsert(orders.filter(col("o_orderkey") === 11L)
      .withColumn("o_batch", (col("o_orderkey") / 500).cast("int")),
      keys = Seq("o_orderkey"))
    assert(ds.metaStatsGrouped(Seq("o_batch"), Nil).isEmpty)
    val fb = Stats.tableStatsBy(spark, ds, Seq("o_batch"), Seq("o_orderkey"))
      .orderBy("o_batch").collect().toSeq
    val realAfter = ds.toDF.groupBy("o_batch")
      .agg(count(lit(1)).as("cnt"),
        min(col("o_orderkey")).as("min_o_orderkey"),
        max(col("o_orderkey")).as("max_o_orderkey"))
      .orderBy("o_batch").collect().toSeq
    assert(fb == realAfter)
  }

  test("partition-equality WHERE keeps the collapse; row-level conjuncts break it") {
    val ds = freshLake()
    val db = new Database(spark)
    db.register("stats_f_t", ds)
    def collapsed(sql: String): DataFrame = {
      val df = db.executeSql(sql)
      assert(df.queryExecution.optimizedPlan.collectLeaves()
        .forall(_.isInstanceOf[LocalRelation]), sql)
      df
    }
    // Equality filter: exact per-cell answer, zero scans.
    val one = collapsed(
      "SELECT COUNT(*) AS cnt, MIN(o_orderkey) AS mn FROM stats_f_t WHERE o_batch = 1")
    val real = ds.toDF.filter(col("o_batch") === 1)
      .agg(count(lit(1)), min(col("o_orderkey"))).head()
    assert(one.head().toSeq == real.toSeq)
    // IN filter over two cells.
    val two = collapsed(
      "SELECT COUNT(*) AS cnt FROM stats_f_t WHERE o_batch IN (0, 2)")
    assert(two.head().getLong(0) ==
      ds.toDF.filter(col("o_batch").isin(0, 2)).count())
    // Grouped + filtered.
    val grp = collapsed(
      """SELECT o_batch, COUNT(*) AS cnt FROM stats_f_t
        |WHERE o_batch IN (0, 1) GROUP BY o_batch""".stripMargin)
    assert(grp.count() == 2)
    // No matching cell: count 0, NULL min — still metadata.
    val none = collapsed(
      "SELECT COUNT(*) AS cnt, MIN(o_orderkey) AS mn FROM stats_f_t WHERE o_batch = 999")
    assert(none.head().getLong(0) == 0L && none.head().isNullAt(1))
    // A row-level conjunct next to the partition equality must NOT collapse.
    val mixed = db.executeSql(
      """SELECT COUNT(*) AS cnt FROM stats_f_t
        |WHERE o_batch = 1 AND o_orderkey > 700""".stripMargin)
    assert(!mixed.queryExecution.optimizedPlan.collectLeaves()
      .forall(_.isInstanceOf[LocalRelation]))
    assert(mixed.head().getLong(0) ==
      ds.toDF.filter(col("o_batch") === 1 && col("o_orderkey") > 700).count())
  }

  test("metadata SUM: appends fold exactly, plan scan-free; doubles never collapse") {
    val ds = freshLake()
    assert(Stats.sumAnswerable(ds, Seq("o_custkey")))
    val df = Stats.tableSumStats(spark, ds, Seq("o_custkey"))
    assert(Bridge.scanRootPaths(df).isEmpty)
    assert(df.queryExecution.optimizedPlan.collectLeaves()
      .forall(_.isInstanceOf[LocalRelation]))
    val real = ds.toDF
      .agg(count(lit(1)).cast("long").as("cnt"), sum(col("o_custkey")).as("s"))
      .head().toSeq
    assert(df.head().toSeq == real)
    // Another insert keeps exactness: sums add.
    ds.insert(orders.filter(col("o_orderkey") < 0) // empty slice, schema only
      .unionByName(orders.limit(5))
      .withColumn("o_orderkey", col("o_orderkey") + 1000000)
      .withColumn("o_batch", lit(7777)))
    assert(Stats.sumAnswerable(ds, Seq("o_custkey")))
    assert(Stats.tableSumStats(spark, ds, Seq("o_custkey")).head().toSeq ==
      ds.toDF.agg(count(lit(1)).cast("long"), sum(col("o_custkey"))).head().toSeq)
    // A double column can never take the metadata path (order-dependent
    // sum) — the fallback scan still answers.
    assert(!Stats.sumAnswerable(ds, Seq("o_totalprice")))
    val dbl = Stats.tableSumStats(spark, ds, Seq("o_totalprice"))
    assert(!dbl.queryExecution.optimizedPlan.collectLeaves()
      .forall(_.isInstanceOf[LocalRelation]))
    assert(dbl.head().getDouble(1) ==
      ds.toDF.agg(sum(col("o_totalprice"))).head().getDouble(0))
  }

  test("metadata SUM: null semantics, mutation gating, update drops one column") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // A cell whose column is ALL NULL must fold to SQL SUM's NULL, and a
    // mixed table must fold to the non-null total.
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("grp", IntegerType),
      StructField("x", LongType)))
    val rows = new java.util.ArrayList[Row]()
    (0L until 10L).foreach(i => rows.add(Row(i, 0, null)))
    val ds = LakeDataset.fromDataFrame(spark,
      spark.createDataFrame(rows, schema), partitionCols = Seq("grp"))
    assert(Stats.sumAnswerable(ds, Seq("x")))
    val allNull = Stats.tableSumStats(spark, ds, Seq("x")).head()
    assert(allNull.getLong(0) == 10L && allNull.isNullAt(1))
    ds.insert(spark.range(5).selectExpr("id AS k", "CAST(1 AS INT) AS grp", "id * 10 AS x"))
    val mixed = Stats.tableSumStats(spark, ds, Seq("x")).head()
    assert(mixed.getLong(0) == 15L && mixed.getLong(1) == 100L)
    assert(mixed.toSeq == ds.toDF.agg(count(lit(1)).cast("long"), sum(col("x"))).head().toSeq)

    // Gating on mutations mirrors count/min/max: upsert pauses, the
    // fallback stays exact, materialize resumes.
    val lake = freshLake()
    lake.upsert(orders.filter(col("o_orderkey") === 42)
      .withColumn("o_custkey", lit(0L))
      .withColumn("o_batch", (col("o_orderkey") / 500).cast("int")),
      keys = Seq("o_orderkey"))
    assert(!Stats.sumAnswerable(lake, Seq("o_custkey")))
    assert(Stats.tableSumStats(spark, lake, Seq("o_custkey")).head().toSeq ==
      lake.toDF.agg(count(lit(1)).cast("long"), sum(col("o_custkey"))).head().toSeq)
    lake.materialize()
    assert(Stats.sumAnswerable(lake, Seq("o_custkey")))
    assert(Stats.tableSumStats(spark, lake, Seq("o_custkey")).head().toSeq ==
      lake.toDF.agg(count(lit(1)).cast("long"), sum(col("o_custkey"))).head().toSeq)

    // UPDATE on the summed column drops ITS sum only; count (and other
    // columns' metadata) stays answerable.
    lake.updateWhere(col("o_orderkey") === 43, Seq("o_custkey" -> lit(1L)))
    assert(!Stats.sumAnswerable(lake, Seq("o_custkey")))
    assert(Stats.sumAnswerable(lake, Seq("o_orderkey")))
    assert(Stats.metaAnswerable(lake, Nil))
  }

  test("metadata SUM: overflow fails open; manifest round trip preserves sums") {
    // Two cells whose exact total exceeds Long range: the catalog KNOWS the
    // exact decimal total but the scan's BIGINT sum would overflow — the
    // metadata path must refuse (fail open to whatever the scan does).
    val big = spark.range(2).selectExpr(
      "id AS k", "CAST(id AS INT) AS grp", s"CAST(${Long.MaxValue} AS BIGINT) - id AS x")
    val ds = LakeDataset.fromDataFrame(spark, big, partitionCols = Seq("grp"))
    assert(ds.metaSums(Seq("x")).isDefined) // exact decimal total IS known
    assert(!Stats.sumAnswerable(ds, Seq("x"))) // but BIGINT can't carry it

    // Round trip: a saved tight table answers sums from ONE manifest read.
    val root = java.nio.file.Files.createTempDirectory("graft_sum_rt").toString
    val o = orders.withColumn("o_batch", (col("o_orderkey") / 500).cast("int"))
    val saved = LakeDataset.fromDataFrame(spark, o, partitionCols = Seq("o_batch"),
      storage = Some(graft.model.StorageSpec(root)))
    saved.toStorage()
    val loaded = LakeDataset.fromStorage(spark, root)
    assert(Stats.sumAnswerable(loaded, Seq("o_custkey", "o_orderkey")))
    val metaRow = Stats.tableSumStats(spark, loaded, Seq("o_custkey")).head()
    assert(metaRow.toSeq ==
      o.agg(count(lit(1)).cast("long"), sum(col("o_custkey"))).head().toSeq)
    // An untight save must not vouch sums either.
    saved.upsert(o.filter(col("o_orderkey") === 42), keys = Seq("o_orderkey"))
    saved.toStorage()
    val loaded2 = LakeDataset.fromStorage(spark, root)
    assert(!Stats.sumAnswerable(loaded2, Seq("o_custkey")))
  }

  test("SQL count+sum collapses; grouped and filtered shapes too; sum(double) rounds once") {
    val ds = freshLake()
    val db = new Database(spark)
    db.register("stats_sum_t", ds)
    val df = db.executeSql(
      "SELECT COUNT(*) AS cnt, SUM(o_custkey) AS s FROM stats_sum_t")
    assert(df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
      df.queryExecution.optimizedPlan.treeString)
    assert(df.head().toSeq ==
      ds.toDF.agg(count(lit(1)), sum(col("o_custkey"))).head().toSeq)
    // Grouped by the partition column + partition-IN filter: still catalog.
    val grp = db.executeSql(
      """SELECT o_batch, COUNT(*) AS cnt, SUM(o_custkey) AS s FROM stats_sum_t
        |WHERE o_batch IN (0, 1) GROUP BY o_batch""".stripMargin)
    assert(grp.queryExecution.optimizedPlan.collectLeaves()
      .forall(_.isInstanceOf[LocalRelation]))
    val realGrp = ds.toDF.filter(col("o_batch").isin(0, 1)).groupBy("o_batch")
      .agg(count(lit(1)).as("cnt"), sum(col("o_custkey")).as("s"))
      .orderBy("o_batch").collect().toSeq
    assert(grp.orderBy("o_batch").collect().toSeq == realGrp)
    // SUM over a double column collapses to the correctly rounded exact
    // sum, which lies within the scan's own rounding bound of the scan.
    val dbl = db.executeSql("SELECT SUM(o_totalprice) AS s FROM stats_sum_t")
    assert(dbl.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    val prices = ds.toDF.select("o_totalprice").collect().map(_.getDouble(0))
    val got = dbl.head().getDouble(0)
    assert(got == roundedExactSum(prices))
    val scanned = ds.toDF.agg(sum(col("o_totalprice"))).head().getDouble(0)
    assert(math.abs(got - scanned) <= scanBound(prices))

    // COUNT(col) of a sum-tracked column collapses too — the non-null
    // count rides in the maintained sum state. Exact under nulls: register
    // a table whose column holds nulls and compare against the scan.
    val cc = db.executeSql(
      "SELECT COUNT(o_custkey) AS nc, SUM(o_custkey) AS s FROM stats_sum_t")
    assert(cc.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    assert(cc.head().toSeq ==
      ds.toDF.agg(count(col("o_custkey")), sum(col("o_custkey"))).head().toSeq)
    import org.apache.spark.sql.types._
    val schema2 = StructType(Seq(
      StructField("k", LongType), StructField("grp", IntegerType),
      StructField("x", LongType)))
    val rows2 = new java.util.ArrayList[org.apache.spark.sql.Row]()
    (0L until 6L).foreach(i =>
      rows2.add(org.apache.spark.sql.Row(i, (i % 2).toInt,
        if (i % 3 == 0) null else java.lang.Long.valueOf(i))))
    val nullable = LakeDataset.fromDataFrame(spark,
      spark.createDataFrame(rows2, schema2), partitionCols = Seq("grp"))
    db.register("stats_nulls_t", nullable)
    val nc = db.executeSql("SELECT COUNT(x) AS nc FROM stats_nulls_t")
    assert(nc.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    assert(nc.head().getLong(0) == 4L)
    val ncg = db.executeSql(
      "SELECT grp, COUNT(x) AS nc FROM stats_nulls_t GROUP BY grp")
    assert(ncg.queryExecution.optimizedPlan.collectLeaves()
      .forall(_.isInstanceOf[LocalRelation]))
    assert(ncg.orderBy("grp").collect().map(r => (r.getInt(0), r.getLong(1))).toSeq ==
      nullable.toDF.groupBy("grp").agg(count(col("x")))
        .orderBy("grp").collect().map(r => (r.getInt(0), r.getLong(1))).toSeq)
  }

  test("SQL shapes outside the family keep their scans and stay correct") {
    val ds = freshLake()
    val db = new Database(spark)
    db.register("stats_sql_n", ds)
    def notCollapsed(sql: String): DataFrame = {
      val df = db.executeSql(sql)
      assert(!df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation], sql)
      df
    }
    // Filtered: must aggregate real rows.
    val filtered = notCollapsed(
      "SELECT COUNT(*) AS cnt FROM stats_sql_n WHERE o_orderkey > 1000")
    assert(filtered.head().getLong(0) ==
      ds.toDF.filter(col("o_orderkey") > 1000).count())
    // Grouped: not rewritable.
    val grouped = db.executeSql(
      "SELECT o_orderstatus, COUNT(*) AS cnt FROM stats_sql_n GROUP BY o_orderstatus")
    assert(grouped.count() == ds.toDF.select("o_orderstatus").distinct().count())
    // COUNT(col) counts non-nulls — zones cannot vouch; must not collapse.
    notCollapsed("SELECT COUNT(o_orderstatus) AS cnt FROM stats_sql_n")
    // MIN over an untracked (string) column: no zones, no collapse.
    val strMin = notCollapsed("SELECT MIN(o_orderstatus) AS mn FROM stats_sql_n")
    assert(strMin.head().getString(0) ==
      ds.toDF.agg(min(col("o_orderstatus"))).head().getString(0))
    // After an upsert the collapse must pause until materialize.
    ds.upsert(orders.filter(col("o_orderkey") === 7)
      .withColumn("o_batch", (col("o_orderkey") / 500).cast("int")),
      keys = Seq("o_orderkey"))
    val paused = notCollapsed("SELECT COUNT(*) AS cnt FROM stats_sql_n")
    assert(paused.head().getLong(0) == ds.toDF.count())
    ds.materialize()
    val resumed = db.executeSql("SELECT COUNT(*) AS cnt FROM stats_sql_n")
    assert(resumed.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    assert(resumed.head().getLong(0) == ds.toDF.count())
  }

  test("driftStats: catalog-only drift equals the scan truth on both sides") {
    val cols = Seq("o_custkey", "o_orderkey")
    val o = orders.withColumn("o_batch", (col("o_orderkey") / 500).cast("int"))
    val before = LakeDataset.fromDataFrame(spark, o, partitionCols = Seq("o_batch"))
    val mutated = o.filter(col("o_orderkey") % 3 =!= 0)
      .unionByName(o.filter(col("o_orderkey") % 7 === 0)
        .withColumn("o_custkey", col("o_custkey") + 500))
    val after = LakeDataset.fromDataFrame(spark, mutated, partitionCols = Seq("o_batch"))
    // Both sides vouch → the drift report is two manifest folds, no scan.
    assert(Stats.sumAnswerable(before, cols) && Stats.sumAnswerable(after, cols))
    val got = Stats.driftStats(spark, before, after, cols)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    def truth(df: org.apache.spark.sql.DataFrame, c: String): (Long, Double) = {
      val r = df.agg(count(lit(1)), sum(col(c).cast("decimal(38,0)"))).head()
      (r.getLong(0), r.getDecimal(1).doubleValue())
    }
    for (c <- cols) {
      val (nb, sb) = truth(o, c)
      val (na, sa) = truth(mutated, c)
      assert(got(c) == ((nb, na, sb, sa, sa - sb)), s"drift row for $c")
    }
    // The SQL verb answers identically through the catalog registry.
    val db = new graft.lake.Database(spark)
    db.register("drift_b", before)
    db.register("drift_a", after)
    val viaSql = db.executeSql("SHOW DRIFT drift_b VS drift_a (o_custkey, o_orderkey)")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    assert(viaSql == got)
    // An unregistered table falls through to Spark SQL and fails loudly.
    intercept[Exception] {
      db.executeSql("SHOW DRIFT drift_b VS no_such_table (o_custkey)").collect()
    }
  }
}
