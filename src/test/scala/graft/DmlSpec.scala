package graft

import org.apache.spark.sql.functions._

import graft.lake.{Database, LakeDataset}

/** SQL DML routing (Database.executeDml): DELETE/INSERT statements become
  * engine mutations; grammar and arity errors are loud; reads unaffected.
  */
class DmlSpec extends SparkSpec {

  private def freshDb(name: String): (Database, LakeDataset) = {
    val o = Fixtures.table(spark, sf(), "orders")
      .withColumn("o_batch", (col("o_orderkey") / 200).cast("int"))
    val db = new Database(spark)
    val ds = LakeDataset.fromDataFrame(spark, o, partitionCols = Seq("o_batch"))
    db.register(name, ds)
    (db, ds)
  }

  test("DELETE FROM ... WHERE prunes cells and applies SQL semantics") {
    val (db, ds) = freshDb("dml_del")
    val total = ds.numParts
    val touched = db.executeDml(
      "DELETE FROM dml_del WHERE o_orderkey BETWEEN 300 AND 500 AND o_orderstatus = 'F'")
    assert(touched > 0 && touched < total / 2)
    val left = db.executeSql("SELECT COUNT(*) AS n FROM dml_del").head().getLong(0)
    val expect = Fixtures.table(spark, sf(), "orders")
      .filter(!(col("o_orderkey").between(300L, 500L) &&
        col("o_orderstatus") === "F")).count()
    assert(left == expect)
  }

  test("DELETE without WHERE empties the table") {
    val (db, _) = freshDb("dml_all")
    db.executeDml("DELETE FROM dml_all")
    assert(db.executeSql("SELECT COUNT(*) AS n FROM dml_all").head().getLong(0) == 0L)
  }

  test("INSERT INTO aligns by position and lands in the catalog view") {
    val (db, ds) = freshDb("dml_ins")
    val before = ds.rowsCount
    db.executeDml(
      """INSERT INTO dml_ins VALUES
        |(9000001, 7, 'O', 12.5, TIMESTAMP '2031-01-01 00:00:00', '1-URGENT', 45000)""".stripMargin)
    assert(ds.rowsCount == before + 1)
    // Visible through SQL immediately, with the table's column names.
    val got = db.executeSql(
      "SELECT o_custkey FROM dml_ins WHERE o_orderkey = 9000001").head().getLong(0)
    assert(got == 7L)
  }

  test("MERGE INTO routes to the engine upsert with coalesce semantics") {
    val (db, ds) = freshDb("dml_merge")
    val before = Fixtures.table(spark, sf(), "orders")
    db.executeDml(
      """MERGE INTO dml_merge USING (
        |  SELECT o_orderkey, CAST(NULL AS STRING) AS o_orderstatus,
        |         o_totalprice * 0 + 999.25 AS o_totalprice
        |  FROM dml_merge WHERE o_orderkey <= 10) src
        |ON dml_merge.o_orderkey = src.o_orderkey
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val merged = db.executeSql(
      "SELECT o_orderkey, o_orderstatus, o_totalprice FROM dml_merge WHERE o_orderkey <= 10")
      .collect()
    // Incoming price wins; incoming NULL status preserves the old value.
    assert(merged.forall(_.getDouble(2) == 999.25))
    val oldStatus = before.filter(col("o_orderkey") <= 10)
      .select("o_orderkey", "o_orderstatus").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(merged.forall(r => r.getString(1) == oldStatus(r.getLong(0))))
    assert(db.executeSql("SELECT COUNT(*) AS n FROM dml_merge").head().getLong(0)
      == before.count())
    // Unmatched keys insert.
    db.executeDml(
      """MERGE INTO dml_merge USING (
        |  SELECT CAST(8888888 AS BIGINT) AS o_orderkey, 7.5 AS o_totalprice) s
        |ON dml_merge.o_orderkey = s.o_orderkey""".stripMargin)
    assert(db.executeSql(
      "SELECT COUNT(*) AS n FROM dml_merge WHERE o_orderkey = 8888888")
      .head().getLong(0) == 1L)
    // Unsupported action forms are loud (only SET * / INSERT * / DELETE).
    val e = intercept[IllegalArgumentException] {
      db.executeDml(
        "MERGE INTO dml_merge USING (SELECT 1 AS o_orderkey) s " +
          "ON dml_merge.o_orderkey = s.o_orderkey WHEN MATCHED THEN UPDATE SET o_custkey = 1")
    }
    assert(e.getMessage.contains("MERGE supports"))
    // MATCHED cannot INSERT; NOT MATCHED cannot DELETE.
    intercept[IllegalArgumentException] {
      db.executeDml(
        "MERGE INTO dml_merge USING (SELECT 1 AS o_orderkey) s " +
          "ON dml_merge.o_orderkey = s.o_orderkey WHEN NOT MATCHED THEN DELETE")
    }
  }

  test("MERGE rejects duplicate source keys (ANSI cardinality violation)") {
    val (db, _) = freshDb("dml_dupkey")
    val dupMerge =
      """MERGE INTO dml_dupkey USING (
        |  SELECT CAST(1 AS BIGINT) AS o_orderkey, 1.0 AS o_totalprice
        |  UNION ALL
        |  SELECT CAST(1 AS BIGINT) AS o_orderkey, 2.0 AS o_totalprice) s
        |ON dml_dupkey.o_orderkey = s.o_orderkey""".stripMargin
    val e = intercept[IllegalArgumentException] { db.executeDml(dupMerge) }
    assert(e.getMessage.contains("cardinality"))
    assert(e.getMessage.contains("o_orderkey=1"))
    // Table untouched by the rejected statement.
    assert(db.executeSql(
      "SELECT o_totalprice FROM dml_dupkey WHERE o_orderkey = 1").head().getDouble(0)
      != 1.0)
    // The probe is skippable for trusted-deduped feeds (engine last-wins).
    spark.conf.set("spark.graft.merge.checkSourceKeys", "false")
    try db.executeDml(dupMerge)
    finally spark.conf.unset("spark.graft.merge.checkSourceKeys")
    val got = db.executeSql(
      "SELECT o_totalprice FROM dml_dupkey WHERE o_orderkey = 1").head().getDouble(0)
    assert(got == 1.0 || got == 2.0)
  }

  test("MERGE with conditional clauses applies a CDC batch in one statement") {
    val (db, _) = freshDb("dml_cdc")
    val before = Fixtures.table(spark, sf(), "orders")
    val total = before.count()
    // op routing: keys 1-20 matched — %3=0 delete-flagged, rest update;
    // 5555551 unmatched+insertable; 5555552 unmatched but delete-flagged
    // (must NOT insert); clause ORDER matters (delete listed first wins
    // over the unconditioned update for flagged rows).
    db.executeDml(
      """MERGE INTO dml_cdc USING (
        |  SELECT o_orderkey, o_totalprice * 0 + 555.5 AS o_totalprice,
        |         CASE WHEN o_orderkey % 3 = 0 THEN 'D' ELSE 'U' END AS op
        |  FROM dml_cdc WHERE o_orderkey <= 20
        |  UNION ALL SELECT CAST(5555551 AS BIGINT), 111.0, 'U'
        |  UNION ALL SELECT CAST(5555552 AS BIGINT), 222.0, 'D') s
        |ON dml_cdc.o_orderkey = s.o_orderkey
        |WHEN MATCHED AND s.op = 'D' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED AND s.op <> 'D' THEN INSERT *""".stripMargin)
    val matchedKeys = before.filter(col("o_orderkey") <= 20)
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    val delKeys = matchedKeys.filter(_ % 3 == 0)
    // Delete-flagged matched rows are gone.
    assert(db.executeSql(
      s"SELECT COUNT(*) AS n FROM dml_cdc WHERE o_orderkey IN (${delKeys.mkString(",")})")
      .head().getLong(0) == 0L)
    // Other matched rows updated.
    val upd = db.executeSql(
      "SELECT o_totalprice FROM dml_cdc WHERE o_orderkey <= 20").collect()
    assert(upd.nonEmpty && upd.forall(_.getDouble(0) == 555.5))
    // Insert-eligible unmatched row landed; delete-flagged one did not.
    assert(db.executeSql(
      "SELECT COUNT(*) AS n FROM dml_cdc WHERE o_orderkey = 5555551")
      .head().getLong(0) == 1L)
    assert(db.executeSql(
      "SELECT COUNT(*) AS n FROM dml_cdc WHERE o_orderkey = 5555552")
      .head().getLong(0) == 0L)
    assert(db.executeSql("SELECT COUNT(*) AS n FROM dml_cdc").head().getLong(0)
      == total - delKeys.size + 1)
    // Duplicate action clauses are rejected.
    intercept[IllegalArgumentException] {
      db.executeDml(
        "MERGE INTO dml_cdc USING (SELECT 1 AS o_orderkey) s " +
          "ON dml_cdc.o_orderkey = s.o_orderkey " +
          "WHEN MATCHED THEN DELETE WHEN MATCHED THEN DELETE")
    }
  }

  test("single-clause MERGE does only what the clause says") {
    // INSERT-only: matched rows must stay untouched.
    val (db, _) = freshDb("dml_mio")
    val oldPrices = db.executeSql(
      "SELECT o_orderkey, o_totalprice FROM dml_mio WHERE o_orderkey <= 10")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    db.executeDml(
      """MERGE INTO dml_mio USING (
        |  SELECT o_orderkey, o_totalprice * 0 + 111.5 AS o_totalprice
        |  FROM dml_mio WHERE o_orderkey <= 10
        |  UNION ALL SELECT CAST(7777777 AS BIGINT), 222.5) src
        |ON dml_mio.o_orderkey = src.o_orderkey
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val after = db.executeSql(
      "SELECT o_orderkey, o_totalprice FROM dml_mio WHERE o_orderkey <= 10")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(after == oldPrices, "insert-only MERGE must not overwrite matched rows")
    assert(db.executeSql(
      "SELECT COUNT(*) AS n FROM dml_mio WHERE o_orderkey = 7777777")
      .head().getLong(0) == 1L)

    // UPDATE-only: unmatched source rows must NOT insert.
    val (db2, _) = freshDb("dml_muo")
    val total = db2.executeSql("SELECT COUNT(*) AS n FROM dml_muo").head().getLong(0)
    db2.executeDml(
      """MERGE INTO dml_muo USING (
        |  SELECT o_orderkey, o_totalprice * 0 + 333.25 AS o_totalprice
        |  FROM dml_muo WHERE o_orderkey <= 10
        |  UNION ALL SELECT CAST(6666666 AS BIGINT), 444.0) src
        |ON dml_muo.o_orderkey = src.o_orderkey
        |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
    val updated = db2.executeSql(
      "SELECT o_totalprice FROM dml_muo WHERE o_orderkey <= 10").collect()
    assert(updated.forall(_.getDouble(0) == 333.25))
    assert(db2.executeSql("SELECT COUNT(*) AS n FROM dml_muo").head().getLong(0)
      == total, "update-only MERGE must not insert unmatched rows")
  }

  test("UPDATE casts the RHS to the column type; current-time predicates execute") {
    val (db, ds) = freshDb("dml_cast")
    // SQL UPDATE semantics: SET bigint_col = <decimal> stores the cast
    // value and the column type is unchanged (no silent schema widening).
    db.executeDml("UPDATE dml_cast SET o_custkey = 2.9 WHERE o_orderkey <= 5")
    assert(ds.toDF.schema("o_custkey").dataType ==
      org.apache.spark.sql.types.LongType)
    val got = db.executeSql(
      "SELECT DISTINCT o_custkey FROM dml_cast WHERE o_orderkey <= 5").collect()
    assert(got.map(_.getLong(0)).toSet == Set(2L))
    // current_timestamp() is foldable yet Unevaluable in the analyzed plan
    // — the constraint probe must fail open (extract nothing), not throw.
    val before = db.executeSql("SELECT COUNT(*) AS n FROM dml_cast").head().getLong(0)
    db.executeDml("DELETE FROM dml_cast WHERE o_orderdate > current_timestamp()")
    assert(db.executeSql("SELECT COUNT(*) AS n FROM dml_cast").head().getLong(0)
      == before, "all order dates are historical - nothing should delete")
  }

  test("COPY INTO bulk-ingests a file with positional casts") {
    val o = Fixtures.table(spark, sf(), "orders")
    val db = new Database(spark)
    db.register("dml_copy", LakeDataset.fromDataFrame(spark, o.limit(0)))
    db.executeDml(s"COPY INTO dml_copy FROM '${sf()}/orders.parquet'")
    assert(db.executeSql("SELECT COUNT(*) AS n FROM dml_copy").head().getLong(0)
      == o.count())
  }

  test("ALTER TABLE relayouts the table and swaps the registration") {
    val (db, old) = freshDb("dml_alter")
    val before = db.executeSql("SELECT COUNT(*) AS n FROM dml_alter").head().getLong(0)
    db.executeDml(
      "ALTER TABLE dml_alter PARTITIONED BY (o_orderstatus) BUCKETED BY (o_orderkey, 4)")
    val nds = db.get("dml_alter").get
    assert(nds ne old)
    assert(nds.partitionCols == List("o_orderstatus"))
    assert(nds.bucketCols == List("o_orderkey") && nds.nBuckets == 4)
    // Content identical through the view; the old handle stays usable.
    assert(db.executeSql("SELECT COUNT(*) AS n FROM dml_alter").head().getLong(0) == before)
    assert(old.toDF.count() == before)
    // The new layout answers grouped metadata on the NEW partition axis.
    assert(nds.metaStatsGrouped(Seq("o_orderstatus"), Nil).isDefined)
    // Round trip through storage in the new shape.
    val root = java.nio.file.Files.createTempDirectory("graft_alter").toString
    nds.storage = Some(graft.model.StorageSpec(root))
    nds.toStorage()
    val loaded = LakeDataset.fromStorage(spark, root)
    assert(loaded.partitionCols == List("o_orderstatus"))
    assert(loaded.toDF.count() == before)
    // Unsupported ALTER clause is loud. (ADD/DROP/RENAME COLUMN route to
    // the column-DDL path now — CatalogDdlSpec covers them.)
    val e = intercept[IllegalArgumentException] {
      db.executeDml("ALTER TABLE dml_alter SET TBLPROPERTIES ('a'='b')")
    }
    assert(e.getMessage.contains("ALTER TABLE supports"))
  }

  test("OPTIMIZE ... WHERE compacts only the predicate's cells") {
    val (db, ds) = freshDb("dml_optw")
    // dirty two disjoint regions
    db.executeDml(
      "UPDATE dml_optw SET o_totalprice = o_totalprice + 1 WHERE o_orderkey <= 150")
    db.executeDml(
      "UPDATE dml_optw SET o_totalprice = o_totalprice + 2 WHERE o_orderkey > 600")
    val hashBefore = db.executeSql(
      "SELECT CAST(SUM(CAST(o_totalprice * 100 AS DECIMAL(38,0))) AS DOUBLE) AS h " +
        "FROM dml_optw").head().getDouble(0)
    // UPDATE drops the assigned column's per-part zone entry on the cells
    // it touched — that absence is the per-cell "needs compaction" signal.
    def dirty: Int = ds.partKeys.flatMap(ds.part)
      .count(p => !p.zones.exists(_.contains("o_totalprice")))
    val dirtyBefore = dirty
    assert(dirtyBefore >= 2, s"need dirty cells on both sides, got $dirtyBefore")
    // compact ONLY the low region (o_batch 0 covers keys < 200)
    val compacted = db.executeDml("OPTIMIZE dml_optw WHERE o_batch = 0")
    assert(compacted == 1L, s"predicate prunes to one cell, compacted $compacted")
    assert(dirty == dirtyBefore - 1,
      "exactly the selected cell re-tightened; untouched dirty cells stay")
    // contents untouched
    val hashAfter = db.executeSql(
      "SELECT CAST(SUM(CAST(o_totalprice * 100 AS DECIMAL(38,0))) AS DOUBLE) AS h " +
        "FROM dml_optw").head().getDouble(0)
    assert(hashAfter == hashBefore)
  }

  test("OPTIMIZE re-tightens the catalog; VACUUM clears orphans") {
    val (db, ds) = freshDb("dml_opt")
    db.executeDml(
      "UPDATE dml_opt SET o_totalprice = o_totalprice + 1 WHERE o_orderkey <= 50")
    // Update preserves counts and UNASSIGNED columns' metadata; only the
    // assigned column's bounds go unknown…
    assert(graft.operators.Stats.metaAnswerable(ds, Seq("o_orderkey")))
    assert(!graft.operators.Stats.metaAnswerable(ds, Seq("o_totalprice")))
    val before = db.executeSql("SELECT MIN(o_totalprice) AS m FROM dml_opt")
    assert(!before.queryExecution.optimizedPlan.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    db.executeDml("OPTIMIZE dml_opt")
    // …until OPTIMIZE recomputes them tight.
    assert(graft.operators.Stats.metaAnswerable(ds, Seq("o_totalprice")))
    val after = db.executeSql("SELECT MIN(o_totalprice) AS m FROM dml_opt")
    assert(after.queryExecution.optimizedPlan.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    assert(after.head().getDouble(0) == before.head().getDouble(0))

    // VACUUM: save a table, park junk under the root, vacuum removes it.
    val root = java.nio.file.Files.createTempDirectory("graft_vacuum").toString
    val o = Fixtures.table(spark, sf(), "orders")
      .withColumn("o_batch", (col("o_orderkey") / 500).cast("int"))
    val vds = LakeDataset.fromDataFrame(spark, o, partitionCols = Seq("o_batch"),
      storage = Some(graft.model.StorageSpec(root)))
    vds.toStorage()
    db.register("dml_vac", vds)
    val junk = java.nio.file.Paths.get(root, "o_batch=999")
    java.nio.file.Files.createDirectories(junk)
    java.nio.file.Files.writeString(junk.resolve("junk.parquet"), "not parquet")
    assert(db.executeDml("VACUUM dml_vac") == 1L)
    assert(!java.nio.file.Files.exists(junk))
    assert(db.executeDml("VACUUM dml_vac") == 0L)
  }

  /** A table tracking every opt-in sketch family, for the UPDATE cases. */
  private def sketchedDb(name: String): (Database, LakeDataset, org.apache.spark.sql.DataFrame) = {
    val o = Fixtures.table(spark, sf(), "orders")
      .withColumn("o_batch", (col("o_orderkey") / 1000).cast("int"))
    val db = new Database(spark)
    val ds = LakeDataset.fromDataFrame(spark, o, partitionCols = Seq("o_batch"),
      sketchCols = Seq("o_custkey"), quantileCols = Seq("o_totalprice"),
      freqCols = Seq("o_orderstatus"))
    db.register(name, ds)
    (db, ds, o)
  }

  test("UPDATE of a frequent-items column: GROUP BY count equals a scan") {
    val (db, _, o) = sketchedDb("dml_upd_freq")
    db.executeDml("UPDATE dml_upd_freq SET o_orderstatus = 'Z' WHERE o_custkey % 7 = 0")
    val got = db.executeSql(
      "SELECT o_orderstatus, count(*) AS n FROM dml_upd_freq GROUP BY o_orderstatus")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = o.withColumn("o_orderstatus",
        when(col("o_custkey") % 7 === 0, lit("Z")).otherwise(col("o_orderstatus")))
      .groupBy("o_orderstatus").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want)
    assert(want.contains("Z"))
  }

  test("UPDATE of quantile and sketch columns: catalog answers are None or the scan's") {
    val (db, ds, o) = sketchedDb("dml_upd_sk")
    db.executeDml("UPDATE dml_upd_sk SET o_totalprice = o_totalprice + 1e6 WHERE o_orderkey > 0")
    val prices = o.select((col("o_totalprice") + 1e6).as("p")).collect().map(_.getDouble(0)).sorted
    ds.metaApproxQuantile(Seq("o_totalprice"), Seq(0.5)).foreach { m =>
      val median = m("o_totalprice").head
      // GK rank bound: the answer's rank lies within 2εn (+1) of n/2.
      val slack = 2 * graft.lake.QuantileMap.Eps * prices.length + 1
      val lt = prices.count(_ < median)
      val le = prices.count(_ <= median)
      assert(lt - slack <= prices.length / 2.0 && prices.length / 2.0 <= le + slack,
        s"median $median outside the rank bound")
    }
    db.executeDml("UPDATE dml_upd_sk SET o_custkey = 1 WHERE o_orderkey > 0")
    val batches = o.select(col("o_batch").cast("string")).distinct()
      .collect().map(_.getString(0)).sorted
    val want = batches.zipWithIndex.map { case (b, i) => (b, 1L, if (i == 0) 1L else 0L) }.toSeq
    ds.metaPartitionNetNew("o_custkey", "o_batch").foreach(got => assert(got == want))
  }

  test("OPTIMIZE ZORDER BY re-layouts; both named dimensions prune in SQL") {
    val o = Fixtures.table(spark, sf(), "orders")
    val db = new Database(spark)
    db.register("dml_zo", LakeDataset.fromDataFrame(spark, o))
    db.executeDml("OPTIMIZE dml_zo ZORDER BY (o_custkey, o_totalprice)")
    val nds = db.get("dml_zo").get
    assert(nds.partitionCols == List("zbin") && nds.numParts > 4)
    // Range queries on EITHER clustered column plan fewer bins than exist
    // — the multi-dimension property the verb bought.
    def leaves(sql: String): Int = {
      val df = db.executeSql(sql)
      df.queryExecution.optimizedPlan.collectLeaves().size
    }
    assert(leaves(
      "SELECT COUNT(*) AS n FROM dml_zo WHERE o_custkey BETWEEN 100 AND 300")
      < nds.numParts)
    assert(leaves(
      "SELECT COUNT(*) AS n FROM dml_zo WHERE o_totalprice BETWEEN 100000 AND 120000")
      < nds.numParts)
    // Content identical; re-optimizing with other columns works (the
    // internal zbin column is replaced, not stacked).
    assert(db.executeSql("SELECT COUNT(*) AS n FROM dml_zo").head().getLong(0)
      == o.count())
    db.executeDml("OPTIMIZE dml_zo ZORDER BY (o_orderkey)")
    assert(db.get("dml_zo").get.tableSchema.fieldNames.count(_ == "zbin") == 1)
    val e = intercept[IllegalArgumentException] {
      db.executeDml("OPTIMIZE dml_zo ZORDER BY (nope)")
    }
    assert(e.getMessage.contains("unknown ZORDER column"))
  }

  test("VERSION AS OF serves feed reconstructions through SQL") {
    val o = Fixtures.table(spark, sf(), "orders")
    val t = graft.lake.TrackedLake(spark,
      LakeDataset.fromDataFrame(spark, o.filter(col("o_orderkey") % 2 === 0)),
      logBase = true)
    val m1 = t.currentSeq // base mark
    val m2 = t.insert(o.filter(col("o_orderkey") % 2 === 1))
    t.delete(o.filter(col("o_orderkey") % 3 === 0).select("o_orderkey"),
      Seq("o_orderkey"))
    val db = new Database(spark)
    db.registerFeed("tt_orders", t, Seq("o_orderkey"))
    def cnt(sql: String): Long = db.executeSql(sql).head().getLong(0)
    // Each mark reconstructs its own state; the bare name is the present.
    assert(cnt(s"SELECT COUNT(*) AS n FROM tt_orders VERSION AS OF $m1") ==
      o.filter(col("o_orderkey") % 2 === 0).count())
    assert(cnt(s"SELECT COUNT(*) AS n FROM tt_orders VERSION AS OF $m2") ==
      o.count())
    assert(cnt("SELECT COUNT(*) AS n FROM tt_orders") == t.table.toDF.count())
    // Two versions join in ONE statement (the audit diff query).
    val drift = db.executeSql(
      s"""SELECT COUNT(*) AS n FROM tt_orders VERSION AS OF $m2 a
         |LEFT ANTI JOIN tt_orders b ON a.o_orderkey = b.o_orderkey""".stripMargin)
    assert(drift.head().getLong(0) == o.filter(col("o_orderkey") % 3 === 0).count())
  }

  test("RESTORE rolls the table back through logged mutations") {
    val o = Fixtures.table(spark, sf(), "orders")
    val t = graft.lake.TrackedLake(spark,
      LakeDataset.fromDataFrame(spark, o.filter(col("o_orderkey") % 2 === 0)),
      logBase = true)
    val mark = t.currentSeq
    // Post-mark damage: new rows, changed values, AND a value set to NULL
    // after the mark (upsert-based restore would silently keep it).
    t.insert(o.filter(col("o_orderkey") % 2 === 1))
    t.upsert(o.filter(col("o_orderkey") % 2 === 0).limit(5)
      .withColumn("o_totalprice", col("o_totalprice") + 999), Seq("o_orderkey"))
    val db = new Database(spark)
    db.registerFeed("restore_t", t, Seq("o_orderkey"))
    val seqAfter = db.executeDml(s"RESTORE TABLE restore_t VERSION AS OF $mark")
    assert(seqAfter > mark)
    // The TABLE equals the mark's state exactly.
    val want = o.filter(col("o_orderkey") % 2 === 0)
      .select("o_orderkey", "o_totalprice").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    val got = db.executeSql(
      "SELECT o_orderkey, o_totalprice FROM restore_t").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got == want)
    // The restore is itself history: both sides stay visitable, and
    // DESCRIBE HISTORY records its delete+insert pair.
    assert(t.tableAsOf(t.currentSeq, Seq("o_orderkey")).count() == want.size)
    val hist = db.executeSql("DESCRIBE HISTORY restore_t")
      .select("version", "operation").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(hist(seqAfter) == "INSERT" && hist(seqAfter - 1) == "DELETE")
    // Non-feed tables refuse loudly.
    db.register("plain_t", LakeDataset.fromDataFrame(spark, o.limit(10)))
    val e = intercept[IllegalArgumentException] {
      db.executeDml("RESTORE TABLE plain_t VERSION AS OF 1")
    }
    assert(e.getMessage.contains("feed-registered"))
  }

  test("QCUT and TOPK verbs: equal-count bins; per-group cap with tiebreak") {
    import spark.implicits._
    val (db, ds) = freshDb("verb_cur")
    val n = ds.toDF.count()
    val binned = db.executeSql("QCUT verb_cur.o_totalprice INTO 4 TIE BY o_orderkey")
    val sizes = binned.groupBy("bin").count().orderBy("bin")
      .as[(Int, Long)].collect()
    assert(sizes.map(_._1).toSeq === (1 to 4))
    assert(sizes.map(_._2).sum === n)
    assert(sizes.map(_._2).max - sizes.map(_._2).min <= 1,
      s"equal-count contract: ${sizes.toSeq}")
    val top = db.executeSql(
      "TOPK 2 PER verb_cur.o_orderstatus ORDER BY o_totalprice DESC TIE BY o_orderkey")
    val truth = ds.toDF.withColumn("rk",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("o_orderstatus")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))))
      .filter(col("rk") <= 2).drop("rk")
      .select("o_orderkey").as[Long].collect().toSet
    assert(top.select("o_orderkey").as[Long].collect().toSet === truth)
    // grammar: a malformed verb falls through to the SQL parser and fails
    intercept[Exception](db.executeSql("QCUT verb_cur.o_totalprice INTO four").collect())
  }

  test("arity mismatch and unknown statements fail loudly") {
    val (db, _) = freshDb("dml_err")
    val e1 = intercept[IllegalArgumentException] {
      db.executeDml("INSERT INTO dml_err SELECT 1, 2")
    }
    assert(e1.getMessage.contains("arity"))
    val e2 = intercept[IllegalArgumentException] {
      db.executeDml("GRANT SELECT ON dml_err TO nobody")
    }
    assert(e2.getMessage.contains("unsupported DML"))
    // RENAME TABLE moves the handle and the SQL view; the old name is gone.
    val n0 = db.executeSql("SELECT COUNT(*) AS n FROM dml_err").head().getLong(0)
    db.executeDml("RENAME TABLE dml_err TO dml_err2")
    assert(db.executeSql("SELECT COUNT(*) AS n FROM dml_err2").head().getLong(0) == n0)
    intercept[Exception](db.executeDml("DELETE FROM dml_err"))
    db.executeDml("ALTER TABLE dml_err2 RENAME TO dml_err")
    // TRUNCATE routes as an empty-the-table engine delete.
    db.executeDml("TRUNCATE TABLE dml_err")
    assert(db.executeSql("SELECT COUNT(*) AS n FROM dml_err").head().getLong(0) == 0L)
    // UPDATE routes too — a bad assignment target is loud, not silent.
    val e4 = intercept[IllegalArgumentException] {
      db.executeDml("UPDATE dml_err SET nope = 1")
    }
    assert(e4.getMessage.contains("unknown column"))
    val e3 = intercept[IllegalArgumentException] {
      db.executeDml("DELETE FROM no_such WHERE 1 = 1")
    }
    assert(e3.getMessage.contains("unknown lake table"))
  }
}
