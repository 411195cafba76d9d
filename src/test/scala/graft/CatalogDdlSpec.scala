package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.BasicFileAttributes

import org.apache.spark.sql.functions._

import graft.lake.{Database, LakeDataset}

/** Catalog DDL surface: CREATE TABLE AS SELECT, SHALLOW CLONE, DROP TABLE,
  * SHOW TABLES, DESCRIBE DETAIL, and CHECK constraints (ALTER TABLE
  * ADD/DROP CONSTRAINT + write-boundary enforcement).
  */
class CatalogDdlSpec extends SparkSpec {

  private def db(): Database = new Database(spark)

  private def registerOrders(d: Database, name: String): LakeDataset = {
    val o = Fixtures.table(spark, sf(), "orders")
      .withColumn("o_batch", (col("o_orderkey") / 500).cast("int"))
    val ds = LakeDataset.fromDataFrame(spark, o, partitionCols = Seq("o_batch"))
    d.register(name, ds)
    ds
  }

  // ---------------------------------------------------------------- CTAS

  test("CREATE TABLE AS SELECT lays out, persists, and registers") {
    val d = db()
    registerOrders(d, "ddl_src")
    val root = Files.createTempDirectory("graft_ctas").toString
    d.executeDml(
      s"""CREATE TABLE ddl_ctas PARTITIONED BY (o_orderstatus)
         |BUCKETED BY (o_orderkey, 3) LOCATION '$root'
         |AS SELECT o_orderkey, o_orderstatus, o_totalprice
         |   FROM ddl_src WHERE o_totalprice > 1000""".stripMargin)
    val got = d.executeSql(
      "SELECT COUNT(*) AS n FROM ddl_ctas").head().getLong(0)
    val expect = d.executeSql(
      "SELECT COUNT(*) AS n FROM ddl_src WHERE o_totalprice > 1000").head().getLong(0)
    assert(got == expect && got > 0)
    val created = d.get("ddl_ctas").get
    assert(created.partitionCols == List("o_orderstatus"))
    assert(created.bucketCols == List("o_orderkey") && created.nBuckets == 3)
    // LOCATION persisted: a fresh load from the root sees the same rows.
    assert(LakeDataset.fromStorage(spark, root).toDF.count() == got)
    // Re-creating under the same name is rejected loudly.
    intercept[IllegalArgumentException](
      d.executeDml(s"CREATE TABLE ddl_ctas AS SELECT 1 AS x"))
  }

  test("CTAS without LOCATION registers an in-memory table") {
    val d = db()
    registerOrders(d, "ddl_src_m")
    d.executeDml(
      "CREATE TABLE ddl_mem AS SELECT o_orderstatus, COUNT(*) AS n " +
        "FROM ddl_src_m GROUP BY o_orderstatus")
    assert(d.executeSql("SELECT SUM(n) AS s FROM ddl_mem").head().getLong(0) ==
      d.get("ddl_src_m").get.rowsCount)
    assert(d.get("ddl_mem").get.storage.isEmpty)
  }

  // ------------------------------------------------------- SHALLOW CLONE

  test("SHALLOW CLONE: same rows, zero data copy, mutation isolation") {
    val d = db()
    val srcRoot = Files.createTempDirectory("graft_clone_src").toString
    val cloneRoot = Files.createTempDirectory("graft_clone_dst").toString
    val o = Fixtures.table(spark, sf(), "orders").limit(600)
      .withColumn("o_batch", (col("o_orderkey") % 4).cast("int"))
    val src = LakeDataset.fromDataFrame(spark, o, partitionCols = Seq("o_batch"),
      storage = Some(graft.model.StorageSpec(srcRoot)))
    src.toStorage()
    d.register("clone_src", src)
    d.executeDml(s"CREATE TABLE clone_dst SHALLOW CLONE clone_src LOCATION '$cloneRoot'")

    val srcRows = src.rowsCount
    assert(d.executeSql("SELECT COUNT(*) AS n FROM clone_dst").head().getLong(0) == srcRows)

    // Zero-copy: every data file in the clone shares its inode (fileKey)
    // with the source file at the same relative path.
    def dataFiles(root: String): Map[String, Object] = {
      val rp = Paths.get(root)
      val walk = Files.walk(rp)
      try walk.iterator().asScala
        .filter(p => Files.isRegularFile(p) &&
          !p.getFileName.toString.startsWith("_") &&
          !p.getFileName.toString.startsWith("."))
        .map(p => rp.relativize(p).toString ->
          Files.readAttributes(p, classOf[BasicFileAttributes]).fileKey())
        .toMap
      finally walk.close()
    }
    val srcFiles = dataFiles(srcRoot)
    val cloneFiles = dataFiles(cloneRoot)
    assert(srcFiles.nonEmpty && srcFiles.keySet == cloneFiles.keySet)
    srcFiles.foreach { case (rel, key) => assert(cloneFiles(rel) == key, rel) }
    // Metadata is NOT shared (manifest rewrites in place).
    assert(Files.readAttributes(Paths.get(srcRoot, "_manifest.json"),
      classOf[BasicFileAttributes]).fileKey() !=
      Files.readAttributes(Paths.get(cloneRoot, "_manifest.json"),
        classOf[BasicFileAttributes]).fileKey())

    // The clone stays metadata-answerable: stats carried over exactly.
    val clone = d.get("clone_dst").get
    assert(clone.metaStats(Seq("o_orderkey")).isDefined)

    // Mutation isolation, both directions.
    d.executeDml("DELETE FROM clone_dst WHERE o_orderkey <= 100")
    assert(src.rowsCount == srcRows)
    d.executeDml("DELETE FROM clone_src WHERE o_orderkey > 100")
    val cloneLeft = d.executeSql("SELECT COUNT(*) AS n FROM clone_dst").head().getLong(0)
    assert(cloneLeft == o.filter(col("o_orderkey") > 100).count())
    // Source's own delete is what it should be.
    assert(src.rowsCount == o.filter(col("o_orderkey") <= 100).count())
  }

  test("CTAS composes with time travel: snapshot a feed AT a version") {
    val d = db()
    val o = Fixtures.table(spark, sf(), "orders").limit(400)
    val t = graft.lake.TrackedLake(spark,
      LakeDataset.fromDataFrame(spark, o.filter(col("o_orderkey") % 2 === 0)),
      logBase = true)
    val mark = t.currentSeq
    d.registerFeed("ctas_feed", t, Seq("o_orderkey"))
    // Mutate PAST the mark.
    t.upsert(o.filter(col("o_orderkey") % 2 === 0).limit(20)
      .withColumn("o_totalprice", col("o_totalprice") + 999), Seq("o_orderkey"))
    // Snapshot-at-version: a materialized, independent table of the mark.
    d.executeDml(s"CREATE TABLE ctas_snap AS SELECT * FROM ctas_feed VERSION AS OF $mark")
    val want = o.filter(col("o_orderkey") % 2 === 0)
      .select(sum(col("o_totalprice").cast("decimal(38,2)"))).head().getDecimal(0)
    val got = d.executeSql(
      "SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS STRING) AS s FROM ctas_snap")
      .head().getString(0)
    assert(new java.math.BigDecimal(got).compareTo(want) == 0)
    // The snapshot is independent: further feed mutations don't move it.
    t.delete(o.limit(50).select("o_orderkey"), Seq("o_orderkey"))
    assert(d.executeSql("SELECT COUNT(*) AS n FROM ctas_snap").head().getLong(0) ==
      o.filter(col("o_orderkey") % 2 === 0).count())
  }

  // --------------------------------------------- DROP / SHOW / DESCRIBE

  test("DROP TABLE unregisters; PURGE also deletes the root") {
    val d = db()
    registerOrders(d, "ddl_drop")
    val root = Files.createTempDirectory("graft_drop").toString
    d.executeDml(s"CREATE TABLE ddl_drop_p LOCATION '$root' AS SELECT * FROM ddl_drop LIMIT 10")
    d.executeDml("DROP TABLE ddl_drop")
    intercept[Exception](d.executeDml("DELETE FROM ddl_drop"))
    assert(d.get("ddl_drop").isEmpty)
    d.executeDml("DROP TABLE ddl_drop_p PURGE")
    assert(!Files.exists(Paths.get(root)))
    intercept[IllegalArgumentException](d.executeDml("DROP TABLE ddl_drop"))
  }

  test("SHOW TABLES and DESCRIBE DETAIL serve catalog metadata, zero jobs") {
    val d = db()
    val ds = registerOrders(d, "ddl_meta")
    val shown = d.executeSql("SHOW TABLES").collect()
    assert(shown.exists(r => r.getString(0) == "ddl_meta" && !r.getBoolean(1)))
    val det = d.executeSql("DESCRIBE DETAIL ddl_meta").head()
    assert(det.getAs[String]("table_name") == "ddl_meta")
    assert(det.getAs[String]("format") == "memory")
    assert(det.getAs[String]("partition_columns") == "o_batch")
    assert(det.getAs[Long]("num_cells") == ds.numParts.toLong)
    assert(det.getAs[Long]("num_rows") == ds.rowsCount)
  }

  test("DESCRIBE DETAIL after a delete then an insert reports no wrong row count") {
    val d = db()
    val o = Fixtures.table(spark, sf(), "orders")
    val ds = LakeDataset.fromDataFrame(spark, o)
    d.register("ddl_rows", ds)
    ds.deleteWhere(col("o_orderkey") === o.agg(min("o_orderkey")).head().getLong(0))
    ds.insert(o.limit(10).withColumn("o_orderkey", col("o_orderkey") + 9000000L))
    val det = d.executeSql("DESCRIBE DETAIL ddl_rows").head()
    val truth = o.count() - 1 + 10
    assert(det.isNullAt(det.fieldIndex("num_rows")) ||
      det.getAs[Long]("num_rows") == truth,
      s"num_rows ${det.get(det.fieldIndex("num_rows"))}, table holds $truth")
  }

  // ------------------------------------------------- CHECK constraints

  test("CHECK constraints: add validates existing rows; ingest enforces") {
    val d = db()
    val ds = registerOrders(d, "ddl_chk")
    // Existing data violates → rejected, nothing stored.
    intercept[IllegalArgumentException](
      d.executeDml("ALTER TABLE ddl_chk ADD CONSTRAINT pos CHECK (o_totalprice > 100000)"))
    assert(ds.checks.isEmpty)

    d.executeDml("ALTER TABLE ddl_chk ADD CONSTRAINT pos CHECK (o_totalprice >= 0)")
    d.executeDml("ALTER TABLE ddl_chk ADD CONSTRAINT key_pos CHECK (o_orderkey >= 0)")
    assert(ds.checks.keySet == Set("pos", "key_pos"))

    val before = ds.rowsCount
    // Violating INSERT rejected atomically — the table is unchanged.
    val e = intercept[IllegalArgumentException](d.executeDml(
      """INSERT INTO ddl_chk VALUES
        |(9000002, 7, 'O', -5.0, TIMESTAMP '2031-01-01 00:00:00', '1-URGENT', 18)""".stripMargin))
    assert(e.getMessage.contains("pos"))
    assert(ds.rowsCount == before)
    // Clean INSERT passes.
    d.executeDml(
      """INSERT INTO ddl_chk VALUES
        |(9000002, 7, 'O', 5.0, TIMESTAMP '2031-01-01 00:00:00', '1-URGENT', 18)""".stripMargin)
    assert(ds.rowsCount == before + 1)

    // SQL CHECK semantics: NULL passes (no violation).
    d.executeDml(
      """INSERT INTO ddl_chk VALUES
        |(9000003, 7, 'O', NULL, TIMESTAMP '2031-01-01 00:00:00', '1-URGENT', 18)""".stripMargin)
    assert(ds.rowsCount == before + 2)

    // Violating UPDATE rejected before any part mutates.
    intercept[IllegalArgumentException](d.executeDml(
      "UPDATE ddl_chk SET o_totalprice = -1 WHERE o_orderkey = 9000002"))
    assert(d.executeSql(
      "SELECT o_totalprice FROM ddl_chk WHERE o_orderkey = 9000002")
      .head().getDouble(0) == 5.0)
    // Clean UPDATE passes.
    d.executeDml("UPDATE ddl_chk SET o_totalprice = 7.5 WHERE o_orderkey = 9000002")

    // An upsert delta MISSING the checked column is fine: the merge keeps
    // the old (already validated) value, so there is nothing to check.
    ds.upsert(spark.sql(
      "SELECT 9000002L AS o_orderkey, 99L AS o_custkey, 18 AS o_batch"),
      Seq("o_orderkey"))
    assert(d.executeSql(
      "SELECT o_custkey FROM ddl_chk WHERE o_orderkey = 9000002").head().getLong(0) == 99L)

    // DROP CONSTRAINT: the negative insert now lands.
    d.executeDml("ALTER TABLE ddl_chk DROP CONSTRAINT pos")
    d.executeDml(
      """INSERT INTO ddl_chk VALUES
        |(9000004, 7, 'O', -1.0, TIMESTAMP '2031-01-01 00:00:00', '1-URGENT', 18)""".stripMargin)
    assert(ds.checks.keySet == Set("key_pos"))
  }

  test("CHECK constraints persist through save/load") {
    val root = Files.createTempDirectory("graft_chk_persist").toString
    val o = Fixtures.table(spark, sf(), "orders").limit(50)
    val ds = LakeDataset.fromDataFrame(spark, o,
      storage = Some(graft.model.StorageSpec(root)))
    ds.addCheck("price_pos", "o_totalprice >= 0")
    ds.toStorage()
    val loaded = LakeDataset.fromStorage(spark, root)
    assert(loaded.checks == Map("price_pos" -> "o_totalprice >= 0"))
    intercept[IllegalArgumentException](
      loaded.insert(o.withColumn("o_totalprice", lit(-4.0))))
  }

  test("incremental cell save keeps every part's metadata vouch on reload") {
    val root = Files.createTempDirectory("graft_vouch").toString
    val o = Fixtures.table(spark, sf(), "orders").limit(400)
      .withColumn("o_batch", (col("o_orderkey") % 3).cast("int"))
    val ds = LakeDataset.fromDataFrame(spark, o, partitionCols = Seq("o_batch"),
      storage = Some(graft.model.StorageSpec(root)))
    ds.toStorage()
    // Mutate ONE cell and save just that cell.
    val key = ds.partKeys.head
    ds.insert(o.filter(col("o_batch") ===
      key.partValues.head._2.toInt).limit(5))
    ds.saveParts(Seq(key))
    // A fresh load still answers count+sum metadata-only for the table.
    val loaded = LakeDataset.fromStorage(spark, root)
    val stats = loaded.metaStats(Seq("o_totalprice"))
    assert(stats.isDefined, "tightness vouch lost by incremental save")
    // Sums track integral/decimal columns only (exact folding).
    assert(loaded.metaSums(Seq("o_custkey")).isDefined)
  }

  // -------------------------------------------------- materialized views

  test("SQL materialized view maintains through DML; REFRESH covers engine writes") {
    val d = db()
    val ds = registerOrders(d, "mv_t")
    d.executeDml(
      """CREATE MATERIALIZED VIEW mv_sum AS
        |SELECT o_orderstatus, COUNT(*) AS n, SUM(o_totalprice) AS total,
        |       AVG(o_totalprice) AS mean
        |FROM mv_t GROUP BY o_orderstatus""".stripMargin)
    def recompute(): Set[(String, Long, java.math.BigDecimal, Double)] =
      d.executeSql(
        """SELECT o_orderstatus, COUNT(*) AS n,
          |SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS total,
          |CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE)
          |  / COUNT(o_totalprice) AS mean
          |FROM mv_t GROUP BY o_orderstatus""".stripMargin)
        .collect().map(r =>
          (r.getString(0), r.getLong(1), r.getDecimal(2), r.getDouble(3))).toSet
    def mv(): Set[(String, Long, java.math.BigDecimal, Double)] =
      d.executeSql("SELECT o_orderstatus, n, total, mean FROM mv_sum").collect()
        .map(r =>
          (r.getString(0), r.getLong(1), r.getDecimal(2), r.getDouble(3))).toSet
    assert(mv() == recompute())
    // INSERT folds incrementally.
    d.executeDml(
      """INSERT INTO mv_t VALUES
        |(9900201, 5, 'O', 77.25, TIMESTAMP '2031-01-01 00:00:00', '1-URGENT', 18)""".stripMargin)
    assert(mv() == recompute())
    // UPDATE refreshes the touched groups only (targeted maintenance).
    d.executeDml("UPDATE mv_t SET o_totalprice = o_totalprice + 10 WHERE o_custkey % 11 = 0")
    assert(mv() == recompute())
    // An UPDATE that ASSIGNS the group column moves rows between groups —
    // both the vacated and the receiving group must refresh ('X' is a
    // brand-new group; the % 7 slice of every old group shrinks).
    d.executeDml("UPDATE mv_t SET o_orderstatus = 'X' WHERE o_custkey % 7 = 0")
    assert(mv() == recompute())
    // DELETE refreshes touched groups; a group losing its last row vanishes.
    d.executeDml("DELETE FROM mv_t WHERE o_orderstatus = 'X'")
    assert(mv() == recompute())
    assert(!mv().exists(_._1 == "X"))
    // MERGE maintains through the keyed-touched path: updates move values,
    // the CDC DELETE clause drops rows, inserts land in their groups.
    d.executeDml(
      """MERGE INTO mv_t USING (
        |  SELECT o_orderkey, o_totalprice * 0 + 42.5 AS o_totalprice,
        |         CASE WHEN o_orderkey % 2 = 0 THEN 'D' ELSE 'U' END AS op
        |  FROM mv_t WHERE o_orderkey <= 30) s
        |ON mv_t.o_orderkey = s.o_orderkey
        |WHEN MATCHED AND s.op = 'D' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
    assert(mv() == recompute())
    // Engine-level write bypasses SQL maintenance → REFRESH is the contract.
    ds.insert(Fixtures.table(spark, sf(), "orders").limit(3)
      .withColumn("o_batch", lit(77)))
    d.executeDml("REFRESH MATERIALIZED VIEW mv_sum")
    assert(mv() == recompute())
    // Dropping the base cascades to its MVs.
    d.executeDml("DROP TABLE mv_t")
    intercept[Exception](d.executeSql("SELECT * FROM mv_sum").collect())
    // Unsupported MV shapes are loud (AVG is supported — STDDEV is not).
    registerOrders(d, "mv_t2")
    intercept[IllegalArgumentException](d.executeDml(
      "CREATE MATERIALIZED VIEW bad AS SELECT o_orderstatus, STDDEV(o_totalprice) AS a " +
        "FROM mv_t2 GROUP BY o_orderstatus"))
  }

  test("materialized views persist: save is O(groups), load resumes maintenance") {
    val d = db()
    registerOrders(d, "mvp_t")
    d.executeDml(
      """CREATE MATERIALIZED VIEW mvp_v AS
        |SELECT o_orderstatus, COUNT(*) AS n, SUM(o_totalprice) AS total,
        |       AVG(o_totalprice) AS mean
        |FROM mvp_t GROUP BY o_orderstatus""".stripMargin)
    d.executeDml(
      """INSERT INTO mvp_t VALUES
        |(9900301, 3, 'O', 50.25, TIMESTAMP '2031-01-01 00:00:00', '1-URGENT', 19)""".stripMargin)
    val before = d.executeSql("SELECT * FROM mvp_v").collect().map(_.toString).sorted
    val root = java.nio.file.Files.createTempDirectory("graft_mv").toString
    assert(d.saveMaterializedViews(root) == 1)

    // A fresh session-catalog: base re-registers, MV REHYDRATES from the
    // saved state (no base scan) and keeps maintaining from inserts.
    val d2 = db()
    registerOrders(d2, "mvp_t")
    assert(d2.loadMaterializedViews(root) == 1)
    val loaded = d2.executeSql("SELECT * FROM mvp_v").collect().map(_.toString).sorted
    assert(loaded.sameElements(before), "rehydrated view differs from saved state")
    d2.executeDml(
      """INSERT INTO mvp_t VALUES
        |(9900302, 4, 'P', 10.5, TIMESTAMP '2031-01-02 00:00:00', '2-HIGH', 19)""".stripMargin)
    val n = d2.executeSql("SELECT n FROM mvp_v WHERE o_orderstatus = 'P'").head().getLong(0)
    val want = d2.executeSql(
      "SELECT COUNT(*) AS n FROM mvp_t WHERE o_orderstatus = 'P'").head().getLong(0)
    assert(n == want, "maintenance did not resume after load")
  }

  // --------------------------------------------------------- column DDL

  test("column DDL: add/rename/drop are plan-level and stats-honest") {
    val d = db()
    val ds = registerOrders(d, "ddl_cols")
    val rows = ds.rowsCount

    // ADD: existing rows read NULL; no data pass, tightness survives.
    d.executeDml("ALTER TABLE ddl_cols ADD COLUMN tier STRING")
    assert(d.executeSql("SELECT COUNT(*) AS n FROM ddl_cols WHERE tier IS NULL")
      .head().getLong(0) == rows)
    // The untracked new column fails open; existing columns still answer.
    assert(ds.metaStats(Seq("o_custkey")).isDefined)
    assert(ds.metaStats(Seq("tier")).isEmpty)

    // RENAME remaps stats AND the tracked sets — zones stay SOUND through
    // a post-rename insert that widens the range.
    d.executeDml("ALTER TABLE ddl_cols RENAME COLUMN o_custkey TO cust_id")
    val preMax = ds.metaStats(Seq("cust_id")).get._2("cust_id").max
    ds.insert(Fixtures.table(spark, sf(), "orders").limit(1)
      .withColumn("o_batch", (col("o_orderkey") / 500).cast("int"))
      .withColumn("o_custkey", lit(99999999L))
      .withColumnRenamed("o_custkey", "cust_id")
      .withColumn("tier", lit("x")))
    val postMax = ds.metaStats(Seq("cust_id")).get._2("cust_id").max
    assert(preMax != postMax, "renamed column's zone did not widen (stale = unsound)")
    // Zone-pruned point read finds the new row under the new name.
    assert(ds.zonePrunedDF("cust_id", 99999999L)
      .filter(col("cust_id") === 99999999L).count() == 1L)

    // DROP removes the column and its stats; the rest stays answerable.
    d.executeDml("ALTER TABLE ddl_cols DROP COLUMN o_orderdate")
    assert(!d.executeSql("SELECT * FROM ddl_cols").columns.contains("o_orderdate"))
    assert(ds.metaStats(Seq("cust_id")).isDefined)

    // Layout axes and constraint-referenced columns refuse.
    intercept[IllegalArgumentException](
      d.executeDml("ALTER TABLE ddl_cols DROP COLUMN o_batch"))
    d.executeDml("ALTER TABLE ddl_cols ADD CONSTRAINT cp CHECK (o_totalprice >= 0)")
    val e = intercept[IllegalArgumentException](
      d.executeDml("ALTER TABLE ddl_cols DROP COLUMN o_totalprice"))
    assert(e.getMessage.contains("cp"))
    intercept[IllegalArgumentException](
      d.executeDml("ALTER TABLE ddl_cols RENAME COLUMN o_totalprice TO tp"))
  }

  // ------------------------------------------------------ ANALYZE TABLE

  test("ANALYZE restores the metadata vouch with a read pass, no rewrite") {
    val root = Files.createTempDirectory("graft_analyze").toString
    val o = Fixtures.table(spark, sf(), "orders").limit(500)
      .withColumn("o_batch", (col("o_orderkey") % 3).cast("int"))
    val ds = LakeDataset.fromDataFrame(spark, o, partitionCols = Seq("o_batch"),
      storage = Some(graft.model.StorageSpec(root)))
    ds.toStorage()
    // Simulate a foreign/legacy manifest that carries no tightness vouch.
    val m = graft.model.Manifest.read(root)
    graft.model.Manifest.write(m.copy(partRows = Map.empty, partSums = Map.empty), root)
    val loaded = LakeDataset.fromStorage(spark, root)
    assert(loaded.metaStats(Seq("o_custkey")).isEmpty, "no vouch expected")

    def fileTimes(): Map[String, Long] = {
      val rp = Paths.get(root)
      val walk = Files.walk(rp)
      try walk.iterator().asScala
        .filter(p => Files.isRegularFile(p) &&
          !p.getFileName.toString.startsWith("_"))
        .map(p => rp.relativize(p).toString -> Files.getLastModifiedTime(p).toMillis)
        .toMap
      finally walk.close()
    }
    val before = fileTimes()
    assert(loaded.analyze() > 0)
    assert(fileTimes() == before, "ANALYZE must not touch data files")
    val stats = loaded.metaStats(Seq("o_custkey"))
    assert(stats.isDefined && stats.get._1 == o.count())
    assert(loaded.metaSums(Seq("o_custkey")).isDefined)
    // Idempotent: nothing left to analyze.
    assert(loaded.analyze() == 0)
    // The restored vouch persisted: a FRESH load answers metadata-only.
    assert(LakeDataset.fromStorage(spark, root).metaStats(Seq("o_custkey")).isDefined)
  }

  test("ANALYZE after a predicate delete re-tightens only touched cells") {
    val d = db()
    val ds = registerOrders(d, "ddl_an")
    d.executeDml("DELETE FROM ddl_an WHERE o_custkey % 5 = 0")
    assert(ds.metaStats(Seq("o_custkey")).isEmpty)
    val analyzed = d.executeDml("ANALYZE TABLE ddl_an COMPUTE STATISTICS")
    assert(analyzed > 0 && analyzed <= ds.numParts)
    val expect = Fixtures.table(spark, sf(), "orders")
      .filter(!(col("o_custkey") % 5 === 0)).count()
    assert(ds.metaStats(Seq("o_custkey")).get._1 == expect)
  }

  private implicit class IterOps[A](it: java.util.Iterator[A]) {
    def asScala: Iterator[A] = scala.jdk.CollectionConverters.IteratorHasAsScala(it).asScala
  }
}
