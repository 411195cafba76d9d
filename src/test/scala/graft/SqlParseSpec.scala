package graft

import org.apache.spark.sql.functions._

import graft.lake.{Database, LakeDataset, LakeServer, TrackedLake}
import graft.model.TableName

/** The lake SQL surface reads statements with Spark's own parser: quoted
  * keywords, nested parentheses, `CASE` and string literals inside
  * conditions and SET values are the expressions they spell, never
  * statement structure. Also pins the batch read path (`selectMany`) to the
  * same surface as `select`, and the script splitter's comment and quote
  * handling.
  */
class SqlParseSpec extends SparkSpec {

  private def orders = Fixtures.table(spark, sf(), "orders")

  private def freshDb(name: String): Database = {
    val db = new Database(spark)
    db.register(name, LakeDataset.fromDataFrame(spark, orders))
    db
  }

  /** Rows of `a` not in `b` (bag difference). */
  private def changed(a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame): Long = a.exceptAll(b).count()

  test("UPDATE: a quoted WHERE and a CASE with commas stay inside the SET values") {
    val db = freshDb("sp_upd")
    val before = db.executeSql("SELECT * FROM sp_upd").localCheckpoint(true)
    db.executeDml(
      """UPDATE sp_upd SET o_orderpriority = 'a WHERE b',
        |  o_orderstatus = CASE WHEN o_totalprice > 0 THEN 'x,y' ELSE 'z' END
        |WHERE o_orderkey = 1""".stripMargin)
    val after = db.executeSql("SELECT * FROM sp_upd")
    assert(changed(after, before) == 1L && changed(before, after) == 1L)
    val row = db.executeSql(
      "SELECT o_orderpriority, o_orderstatus FROM sp_upd WHERE o_orderkey = 1").collect()
    assert(row.map(r => (r.getString(0), r.getString(1))).toSeq == Seq(("a WHERE b", "x,y")))
  }

  test("MERGE: a ')' literal in the USING query and a CASE clause condition") {
    val db = freshDb("sp_mrg")
    db.executeDml(
      """MERGE INTO sp_mrg USING (
        |  SELECT o_orderkey, concat(o_orderpriority, ')') AS o_orderpriority
        |  FROM sp_mrg WHERE o_orderkey <= 10) s
        |ON sp_mrg.o_orderkey = s.o_orderkey
        |WHEN MATCHED AND CASE WHEN s.o_orderkey % 2 = 0 THEN true ELSE false END
        |  THEN UPDATE SET *""".stripMargin)
    val want = orders.filter(col("o_orderkey") <= 10)
      .select(col("o_orderkey"), when(col("o_orderkey") % 2 === 0,
        concat(col("o_orderpriority"), lit(")"))).otherwise(col("o_orderpriority")))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = db.executeSql(
      "SELECT o_orderkey, o_orderpriority FROM sp_mrg WHERE o_orderkey <= 10")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(want.nonEmpty && got == want)
    assert(db.executeSql("SELECT COUNT(*) FROM sp_mrg").head().getLong(0) == orders.count())
  }

  test("DELETE: nested parentheses and a quoted 'x WHERE y' in the condition") {
    val db = freshDb("sp_del")
    db.executeDml(
      """DELETE FROM sp_del
        |WHERE ((o_orderkey <= 40) AND (o_orderpriority <> 'x WHERE y' OR (o_custkey < 0)))""".stripMargin)
    assert(db.executeSql("SELECT COUNT(*) FROM sp_del").head().getLong(0) ==
      orders.filter(col("o_orderkey") > 40).count())
  }

  test("VERSION AS OF inside a string literal is text, not time travel") {
    val t = TrackedLake(spark, LakeDataset.fromDataFrame(spark,
      orders.filter(col("o_orderkey") <= 100)), logBase = true)
    val mark = t.currentSeq
    t.insert(orders.filter(col("o_orderkey") > 100))
    val db = new Database(spark)
    db.registerFeed("sp_feed", t, Seq("o_orderkey"))
    val rows = db.executeSql(
      s"SELECT 'sp_feed VERSION AS OF 2' AS s FROM sp_feed VERSION AS OF $mark").collect()
    assert(rows.length == orders.filter(col("o_orderkey") <= 100).count())
    assert(rows.map(_.getString(0)).toSet == Set("sp_feed VERSION AS OF 2"))
  }

  test("a backquoted MV base survives RENAME TABLE and a save/load cycle") {
    val db = freshDb("sp_mvb")
    db.executeDml(
      "CREATE MATERIALIZED VIEW sp_mvv AS SELECT o_orderstatus, COUNT(*) AS n " +
        "FROM `sp_mvb` GROUP BY o_orderstatus")
    db.executeDml("RENAME TABLE sp_mvb TO sp_mvb2")
    val root = java.nio.file.Files.createTempDirectory("sp_mv").toString
    assert(db.saveMaterializedViews(root) == 1)
    val db2 = new Database(spark)
    db2.register("sp_mvb2", LakeDataset.fromDataFrame(spark, orders))
    assert(db2.loadMaterializedViews(root) == 1)
    assert(db2.executeSql("SELECT SUM(n) FROM sp_mvv").head().getLong(0) == orders.count())
  }

  test("selectMany serves the lake SQL surface, as select does") {
    val srv = new LakeServer(spark)
    srv.createTable(TableName("test", "sp_srv"), Iterator(orders))
    val one = srv.select("SHOW TABLES").collect().toSeq
    val many = srv.selectMany(Seq("SHOW TABLES"))("SHOW TABLES").toSeq
    assert(one.nonEmpty && many == one)
  }

  test("script splitting skips -- comments and respects double-quoted text") {
    val db = freshDb("sp_tx")
    db.executeTransaction(
      "BEGIN; DELETE FROM sp_tx WHERE o_orderkey = 1 -- don't keep\n; COMMIT")
    assert(db.executeSql("SELECT COUNT(*) FROM sp_tx WHERE o_orderkey = 1")
      .head().getLong(0) == 0L)
    db.executeTransaction(
      """BEGIN; UPDATE sp_tx SET o_orderpriority = "a;b" WHERE o_orderkey = 2; COMMIT""")
    assert(db.executeSql("SELECT o_orderpriority FROM sp_tx WHERE o_orderkey = 2")
      .collect().map(_.getString(0)).toSeq == Seq("a;b"))
  }
}
