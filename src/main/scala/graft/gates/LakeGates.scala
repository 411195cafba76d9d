package graft.gates

import java.nio.file.Files

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Fixtures
import graft.Fixtures.table
import graft.lake.{Database, LakeDataset}
import graft.operators.{Clustering, DataQuality, Joins, MaterializedAgg, MaterializedJoin}
import GateHelpers.{dsum, osum}

/** The lake lifecycle (SURVEY.md §2.A): upsert, insert, delete,
  * transactions, pruning, catalog statistics, storage formats,
  * materialized views, change feeds and the SQL verbs over them.
  */
private[gates] object LakeGates {
  val gates: Seq[Gate] = Seq(
    // Audit-stamped upsert with an injected deterministic clock: changed
    // rows carry changed_at > created_at, so the post-merge audit counts are
    // SQL-expressible.
    Gate("lake_audit_upsert", (s, dir) => {
      val o = table(s, dir, "orders")
      val t0 = lit("2030-01-01 00:00:00").cast("timestamp")
      val t1 = lit("2030-01-02 00:00:00").cast("timestamp")
      val clock = new java.util.concurrent.atomic.AtomicReference[Column](t0)
      val ds = LakeDataset.fromDataFrame(s, o,
        partitionCols = Seq("o_orderstatus"),
        auditColumns = true, auditClock = () => clock.get())
      clock.set(t1)
      ds.upsert(o.filter(col("o_orderkey") % 7 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 1), Seq("o_orderkey"))
      ds.toDF.groupBy("o_orderstatus")
        .agg(
          count(lit(1)).as("n"),
          count(when(col("changed_at") > col("created_at"), 1)).as("n_changed"))
        .orderBy("o_orderstatus")
    }, Sql(
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  COUNT(CASE WHEN o_orderkey % 7 = 0 THEN 1 END) AS n_changed
        |FROM orders GROUP BY o_orderstatus""".stripMargin)),

    // ZERO-SCAN retention matrix: the same pairwise-overlap dashboard
    // answered from the catalog's per-cell THETA twins alone (no Spark
    // jobs at answer time) — intersection is first-class, EXACT while
    // groups stay under nominal entries (they do here at every SF), so
    // the gate carries a full DuckDB oracle; at saturation the error is
    // ~1/√k on the smaller side, vastly tighter than the r13 HLL
    // inclusion-exclusion this replaced.
    Gate("lake_stats_overlap", (s, dir) => {
      import s.implicits._
      val ev = table(s, dir, "events")
        .select(col("event_type"), col("user_id"), col("event_id"))
      val ds = LakeDataset.fromDataFrame(s, ev,
        partitionCols = Seq("event_type"), sketchCols = Seq("user_id"))
      val m = ds.metaPartitionOverlap("user_id", "event_type")
        .getOrElse(sys.error("catalog overlap failed open — parts not tight"))
      m.toDF("g_a", "g_b", "distinct_a", "distinct_b", "both_ab")
        .orderBy("g_a", "g_b")
    }, Sql(
      """WITH d AS (SELECT DISTINCT event_type AS g, user_id AS u FROM events),
        |c AS (SELECT g, COUNT(*) AS n FROM d GROUP BY g),
        |p AS (SELECT a.g AS g_a, b.g AS g_b, COUNT(*) AS both_ab
        |      FROM d a JOIN d b ON a.u = b.u AND a.g < b.g GROUP BY 1, 2)
        |SELECT ca.g AS g_a, cb.g AS g_b,
        |  CAST(ca.n AS BIGINT) AS distinct_a, CAST(cb.n AS BIGINT) AS distinct_b,
        |  CAST(COALESCE(p.both_ab, 0) AS BIGINT) AS both_ab
        |FROM c ca JOIN c cb ON ca.g < cb.g
        |LEFT JOIN p ON p.g_a = ca.g AND p.g_b = cb.g
        |ORDER BY 1, 2""".stripMargin)),

    // MAINTAINED theta catalog family end-to-end: per-cell theta twins ride
    // the sketch family ([[HllMap.ThetaPrefix]]) through routing, APPEND
    // FOLDS (the second half lands via insert and the twins union in), the
    // manifest round-trip, and the zero-scan matrix — and because every
    // group here stays under the sketch's nominal entries, the answers are
    // EXACT and the whole path has a full DuckDB oracle (the r13 design
    // routed small intersections to a one-scan fallback; this closes it).
    Gate("lake_stats_theta_overlap", (s, dir) => {
      import s.implicits._
      val ev = table(s, dir, "events")
        .select(col("event_type"), col("user_id"), col("event_id"))
      val ds = LakeDataset.fromDataFrame(s, ev.filter(col("event_id") % 2 === 0),
        partitionCols = Seq("event_type"), sketchCols = Seq("user_id"),
        storage = Some(graft.model.StorageSpec(
          Files.createTempDirectory("graft_theta_ov").toString)))
      ds.toStorage()
      val re = LakeDataset.fromStorage(s, ds.storage.get.root)
      re.insert(ev.filter(col("event_id") % 2 === 1))
      val m = re.metaPartitionOverlap("user_id", "event_type")
        .getOrElse(sys.error("catalog overlap failed open — parts not tight"))
      m.toDF("g_a", "g_b", "distinct_a", "distinct_b", "both_ab")
        .orderBy("g_a", "g_b")
    }, Sql(
      // The catalog theta matrix is EXACT while every group stays under the
      // sketch's nominal entries (this fixture does at every SF) — so the
      // zero-scan answer has a full relational oracle, incremental appends
      // included.
      """WITH d AS (SELECT DISTINCT event_type AS g, user_id AS u FROM events),
        |c AS (SELECT g, COUNT(*) AS n FROM d GROUP BY g),
        |p AS (SELECT a.g AS g_a, b.g AS g_b, COUNT(*) AS both_ab
        |      FROM d a JOIN d b ON a.u = b.u AND a.g < b.g GROUP BY 1, 2)
        |SELECT ca.g AS g_a, cb.g AS g_b,
        |  CAST(ca.n AS BIGINT) AS distinct_a, CAST(cb.n AS BIGINT) AS distinct_b,
        |  CAST(COALESCE(p.both_ab, 0) AS BIGINT) AS both_ab
        |FROM c ca JOIN c cb ON ca.g < cb.g
        |LEFT JOIN p ON p.g_a = ca.g AND p.g_b = cb.g
        |ORDER BY 1, 2""".stripMargin)),

    // The same zero-scan matrix as a SQL verb: SHOW OVERLAP t.col BY part.
    // Refuses (never silently scans) when the contract can't be met.
    Gate("lake_sql_overlap", (s, dir) => {
      val ev = table(s, dir, "events")
        .select(col("event_type"), col("user_id"), col("event_id"))
      val db = new Database(s)
      db.register("ov_events", LakeDataset.fromDataFrame(s, ev,
        partitionCols = Seq("event_type"), sketchCols = Seq("user_id")))
      db.executeSql("SHOW OVERLAP ov_events.user_id BY event_type")
        .orderBy("value_a", "value_b")
    }, Sql(
      """WITH d AS (SELECT DISTINCT event_type AS g, user_id AS u FROM events),
        |c AS (SELECT g, COUNT(*) AS n FROM d GROUP BY g),
        |p AS (SELECT a.g AS g_a, b.g AS g_b, COUNT(*) AS both_ab
        |      FROM d a JOIN d b ON a.u = b.u AND a.g < b.g GROUP BY 1, 2)
        |SELECT ca.g AS value_a, cb.g AS value_b,
        |  CAST(ca.n AS BIGINT) AS approx_distinct_a,
        |  CAST(cb.n AS BIGINT) AS approx_distinct_b,
        |  CAST(COALESCE(p.both_ab, 0) AS BIGINT) AS approx_overlap
        |FROM c ca JOIN c cb ON ca.g < cb.g
        |LEFT JOIN p ON p.g_a = ca.g AND p.g_b = cb.g
        |ORDER BY 1, 2""".stripMargin)),

    // NET-NEW uniques per partition value from the catalog's theta twins
    // alone (A-not-B set algebra — the verb HLL could never answer):
    // zero scan jobs, EXACT in the sparse regime every SF ships, so the
    // gate carries a full DuckDB oracle (first-seen-partition counts).
    Gate("lake_sql_netnew", (s, dir) => {
      val ev = table(s, dir, "events")
        .select(col("event_type"), col("user_id"), col("event_id"))
      val db = new Database(s)
      db.register("nn_events", LakeDataset.fromDataFrame(s, ev,
        partitionCols = Seq("event_type"), sketchCols = Seq("user_id")))
      db.executeSql("SHOW NETNEW nn_events.user_id BY event_type")
        .orderBy("value")
    }, Sql(
      """WITH d AS (SELECT DISTINCT event_type AS g, user_id AS u FROM events),
        |c AS (SELECT g, COUNT(*) AS n FROM d GROUP BY g),
        |firsts AS (SELECT u, MIN(g) AS g FROM d GROUP BY u),
        |nn AS (SELECT g, COUNT(*) AS net FROM firsts GROUP BY g)
        |SELECT c.g AS value, CAST(c.n AS BIGINT) AS approx_distinct,
        |  CAST(COALESCE(nn.net, 0) AS BIGINT) AS approx_net_new
        |FROM c LEFT JOIN nn ON nn.g = c.g
        |ORDER BY c.g""".stripMargin)),

    // Curation verbs on the catalog: exact quantile binning as
    // `QCUT t.col INTO k TIE BY id` — same engine path as text_qcut (the
    // range-partitioned distributed rank), surfaced through Database so
    // the stratify step needs no Scala.
    Gate("lake_sql_qcut", (s, dir) => {
      val db = new Database(s)
      db.register("graft_docs",
        LakeDataset.fromDataFrame(s, table(s, dir, "documents")))
      db.executeSql("QCUT graft_docs.n_chars INTO 10 TIE BY doc_id")
        .groupBy("bin")
        .agg(count(lit(1)).as("n_docs"),
          min(col("n_chars")).as("lo_chars"),
          max(col("n_chars")).as("hi_chars"))
        .orderBy("bin")
    }, Sql(
      // The QCUT verb routes through the same exact ntile assignment.
      """WITH b AS (SELECT doc_id, n_chars,
        |  NTILE(10) OVER (ORDER BY n_chars, doc_id) AS bin FROM documents)
        |SELECT bin, COUNT(*) AS n_docs,
        |  MIN(n_chars) AS lo_chars, MAX(n_chars) AS hi_chars
        |FROM b GROUP BY bin""".stripMargin)),

    // `TOPK k PER t.group ORDER BY col DESC TIE BY id` — the per-group
    // curation cap as a verb (WindowGroupLimit-shaped underneath).
    Gate("lake_sql_topk", (s, dir) => {
      val db = new Database(s)
      db.register("graft_orders",
        LakeDataset.fromDataFrame(s, table(s, dir, "orders")))
      db.executeSql(
          "TOPK 3 PER graft_orders.o_orderstatus ORDER BY o_totalprice DESC TIE BY o_orderkey")
        .select(col("o_orderstatus"), col("o_orderkey"), col("o_totalprice"))
        .orderBy("o_orderstatus", "o_orderkey")
    }, Sql(
      """WITH r AS (SELECT o_orderstatus, o_orderkey, o_totalprice,
        |  ROW_NUMBER() OVER (PARTITION BY o_orderstatus
        |       ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders)
        |SELECT o_orderstatus, o_orderkey, o_totalprice FROM r WHERE rk <= 3
        |ORDER BY o_orderstatus, o_orderkey""".stripMargin)),

    // Upsert = full outer join on keys + per-column coalesce(incoming, old);
    // incoming NULL preserves the old value (l_tax is nulled in the delta and
    // must survive). Routed per partition×bucket cell.
    Gate("lake_upsert", (s, dir) => {
      val o = table(s, dir, "orders")
      val ds = LakeDataset.fromDataFrame(s, o,
        partitionCols = Seq("o_orderstatus"), bucketCols = Seq("o_custkey"), nBuckets = 5)
      val delta = o.filter(col("o_orderkey") % 7 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 1000)
        .withColumn("o_orderpriority", lit(null).cast("string"))
      ds.upsert(delta, Seq("o_orderkey"))
      // n_priority == n proves incoming NULLs preserved the old values.
      ds.toDF.groupBy("o_orderstatus")
        .agg(
          count(lit(1)).as("n"),
          dsum(col("o_totalprice")).as("sum_price"),
          count(col("o_orderpriority")).as("n_priority"))
        .orderBy("o_orderstatus")
    }, Sql(
      s"""WITH delta AS (
         |  SELECT o_orderkey, o_totalprice + 1000 AS o_totalprice,
         |         CAST(NULL AS VARCHAR) AS o_orderpriority
         |  FROM orders WHERE o_orderkey % 7 = 0),
         |merged AS (
         |  SELECT l.o_orderstatus AS o_orderstatus,
         |         COALESCE(d.o_totalprice, l.o_totalprice) AS o_totalprice,
         |         COALESCE(d.o_orderpriority, l.o_orderpriority) AS o_orderpriority
         |  FROM orders l FULL OUTER JOIN delta d ON l.o_orderkey = d.o_orderkey)
         |SELECT o_orderstatus, COUNT(*) AS n,
         |  ${osum("o_totalprice")} AS sum_price,
         |  COUNT(o_orderpriority) AS n_priority
         |FROM merged GROUP BY o_orderstatus""".stripMargin)),

    Gate("lake_insert", (s, dir) => {
      val o = table(s, dir, "orders")
      val ds = LakeDataset.fromDataFrame(s, o)
      ds.insert(o.filter(col("o_orderkey") % 10 === 0))
      ds.toDF.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy("o_orderstatus")
    }, Sql(
      s"""SELECT o_orderstatus, COUNT(*) AS n, ${osum("o_totalprice")} AS total
         |FROM (SELECT * FROM orders
         |      UNION ALL SELECT * FROM orders WHERE o_orderkey % 10 = 0) t
         |GROUP BY o_orderstatus""".stripMargin)),

    Gate("lake_delete", (s, dir) => {
      val o = table(s, dir, "orders")
      val ds = LakeDataset.fromDataFrame(s, o)
      ds.delete(o.filter(col("o_orderkey") % 5 === 0), Seq("o_orderkey"))
      ds.toDF.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy("o_orderstatus")
    }, Sql(
      s"""SELECT o_orderstatus, COUNT(*) AS n, ${osum("o_totalprice")} AS total
         |FROM orders WHERE o_orderkey % 5 <> 0
         |GROUP BY o_orderstatus""".stripMargin)),

    // Multi-table ATOMIC transaction: a committed move of orders <=1000
    // from ledger A to ledger B, then an ABORTED move of 1000<k<=2000 —
    // the final per-side aggregate must show the committed move exactly
    // and no trace of the aborted one (the oracle reconstructs the same
    // end state relationally).
    Gate("lake_transaction", (s, dir) => {
      val o = table(s, dir, "orders")
        .withColumn("o_batch", (col("o_orderkey") / 2000).cast("int"))
      val db = new Database(s)
      val a = LakeDataset.fromDataFrame(s, o, partitionCols = Seq("o_batch"))
      val b = LakeDataset.fromDataFrame(s, o.limit(0))
      db.register("tx_ledger_a", a)
      db.register("tx_ledger_b", b)
      val moved = o.filter(col("o_orderkey") <= 1000)
      db.transaction(Seq("tx_ledger_a", "tx_ledger_b")) {
        a.delete(moved.select("o_orderkey"), Seq("o_orderkey"))
        b.insert(moved)
      }
      val aborted = o.filter(col("o_orderkey") > 1000 && col("o_orderkey") <= 2000)
      try db.transaction(Seq("tx_ledger_a", "tx_ledger_b")) {
        a.delete(aborted.select("o_orderkey"), Seq("o_orderkey"))
        b.insert(aborted)
        throw new RuntimeException("abort: simulate a mid-transaction failure")
      } catch { case e: RuntimeException if e.getMessage.startsWith("abort:") => () }
      db.executeSql(
        s"""SELECT side, o_orderstatus, COUNT(*) AS n,
           |       ${osum("o_totalprice")} AS total
           |FROM (SELECT 'a' AS side, o_orderstatus, o_totalprice FROM tx_ledger_a
           |      UNION ALL
           |      SELECT 'b' AS side, o_orderstatus, o_totalprice FROM tx_ledger_b)
           |GROUP BY side, o_orderstatus
           |ORDER BY side, o_orderstatus""".stripMargin)
    }, Sql(
      // lake_transaction: the committed move (keys <= 1000, A -> B) shows;
      // the aborted move (1000 < k <= 2000) must leave no trace.
      s"""WITH u AS (
         |  SELECT 'a' AS side, o_orderstatus, o_totalprice
         |  FROM orders WHERE o_orderkey > 1000
         |  UNION ALL
         |  SELECT 'b' AS side, o_orderstatus, o_totalprice
         |  FROM orders WHERE o_orderkey <= 1000)
         |SELECT side, o_orderstatus, COUNT(*) AS n,
         |       ${osum("o_totalprice")} AS total
         |FROM u
         |GROUP BY side, o_orderstatus
         |ORDER BY side, o_orderstatus""".stripMargin)),

    // The SQL face of the transaction above: a BEGIN/COMMIT script whose
    // three statements (move + delete + in-place tag) land atomically, then
    // an aborted script whose middle statement fails analysis (unknown
    // table) — the failing script's earlier DELETE must roll back. The
    // oracle reconstructs the committed-only end state relationally.
    Gate("lake_sql_transaction", (s, dir) => {
      val o = table(s, dir, "orders")
        .withColumn("o_batch", (col("o_orderkey") / 2000).cast("int"))
      val db = new Database(s)
      db.register("txq_a",
        LakeDataset.fromDataFrame(s, o, partitionCols = Seq("o_batch")))
      db.register("txq_b", LakeDataset.fromDataFrame(s, o.limit(0)))
      db.executeDml(
        """BEGIN;
          |INSERT INTO txq_b SELECT * FROM txq_a WHERE o_orderkey <= 1000;
          |DELETE FROM txq_a WHERE o_orderkey <= 1000;
          |UPDATE txq_b SET o_orderpriority = 'moved;kept' WHERE o_orderkey <= 500;
          |COMMIT""".stripMargin)
      try db.executeDml(
        """BEGIN;
          |DELETE FROM txq_a WHERE o_orderkey <= 3000;
          |INSERT INTO txq_b SELECT * FROM txq_no_such_table;
          |COMMIT""".stripMargin)
      catch { case _: Exception => () }
      db.executeSql(
        s"""SELECT side, o_orderstatus, COUNT(*) AS n,
           |       SUM(CASE WHEN o_orderpriority = 'moved;kept' THEN 1 ELSE 0 END) AS tagged,
           |       ${osum("o_totalprice")} AS total
           |FROM (SELECT 'a' AS side, o_orderstatus, o_totalprice, o_orderpriority FROM txq_a
           |      UNION ALL
           |      SELECT 'b' AS side, o_orderstatus, o_totalprice, o_orderpriority FROM txq_b)
           |GROUP BY side, o_orderstatus
           |ORDER BY side, o_orderstatus""".stripMargin)
    }, Sql(
      // lake_sql_transaction: the committed BEGIN/COMMIT script shows (keys
      // <= 1000 moved a->b, keys <= 500 tagged — with a ';' inside the tag
      // literal exercising the quote-aware script splitter); the aborted
      // script (its middle INSERT fails analysis) must leave no trace.
      s"""WITH u AS (
         |  SELECT 'a' AS side, o_orderstatus, o_totalprice, o_orderpriority
         |  FROM orders WHERE o_orderkey > 1000
         |  UNION ALL
         |  SELECT 'b' AS side, o_orderstatus, o_totalprice,
         |         CASE WHEN o_orderkey <= 500 THEN 'moved;kept'
         |              ELSE o_orderpriority END AS o_orderpriority
         |  FROM orders WHERE o_orderkey <= 1000)
         |SELECT side, o_orderstatus, COUNT(*) AS n,
         |       CAST(SUM(CASE WHEN o_orderpriority = 'moved;kept' THEN 1 ELSE 0 END)
         |            AS BIGINT) AS tagged,
         |       ${osum("o_totalprice")} AS total
         |FROM u
         |GROUP BY side, o_orderstatus
         |ORDER BY side, o_orderstatus""".stripMargin)),

    // SQL DML over the catalog: INSERT INTO / DELETE FROM route to engine
    // mutations (Spark's own SQL can't write a temp view). The INSERT
    // reads from the target's own view (snapshot-before-mutate), the
    // DELETE prunes through the catalog like Scala deleteWhere.
    Gate("lake_sql_dml", (s, dir) => {
      val o = table(s, dir, "orders")
        .withColumn("o_batch", (col("o_orderkey") / 6000).cast("int"))
      val db = new Database(s)
      db.register("dml_t", LakeDataset.fromDataFrame(s, o, partitionCols = Seq("o_batch")))
      db.executeDml(
        """INSERT INTO dml_t
          |SELECT o_orderkey + 1000000, o_custkey, o_orderstatus, o_totalprice,
          |       o_orderdate, o_orderpriority,
          |       CAST(FLOOR((o_orderkey + 1000000) / 6000) AS INT)
          |FROM dml_t WHERE o_orderkey <= 100""".stripMargin)
      db.executeDml(
        "UPDATE dml_t SET o_totalprice = o_totalprice + 5 WHERE o_orderkey <= 50")
      db.executeDml(
        "DELETE FROM dml_t WHERE o_orderstatus = 'O' AND o_orderkey BETWEEN 4000 AND 5000")
      db.executeSql(
        s"""SELECT COUNT(*) AS n,
           |       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS total
           |FROM dml_t""".stripMargin)
    }, Sql(
      s"""WITH t AS (
         |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
         |  UNION ALL
         |  SELECT o_orderkey + 1000000, o_orderstatus, o_totalprice
         |  FROM orders WHERE o_orderkey <= 100
         |), u AS (
         |  SELECT o_orderkey, o_orderstatus,
         |         CASE WHEN o_orderkey <= 50 THEN o_totalprice + 5
         |              ELSE o_totalprice END AS o_totalprice
         |  FROM t
         |)
         |SELECT COUNT(*) AS n, ${osum("o_totalprice")} AS total
         |FROM u
         |WHERE NOT (o_orderstatus = 'O' AND o_orderkey BETWEEN 4000 AND 5000)""".stripMargin)),

    // Keyed snapshot diff: added/removed/changed/unchanged in ONE
    // full-outer join (null-safe column compare) — the set-ordered
    // complement of the change feed for tables with no shared history.
    Gate("lake_diff", (s, dir) => {
      val o = table(s, dir, "orders")
      val mutated = o.filter(col("o_orderkey") % 7 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 5 === 0, col("o_totalprice") + 1)
            .otherwise(col("o_totalprice")))
        .unionByName(o.filter(col("o_orderkey") <= 20)
          .withColumn("o_orderkey", col("o_orderkey") + 900000))
      graft.operators.Diff.diffSummary(o, mutated, Seq("o_orderkey"))
        .orderBy("diff_status")
    }, Sql(
      """SELECT * FROM (
        |  SELECT 'added' AS diff_status, COUNT(*) AS n FROM orders WHERE o_orderkey <= 20
        |  UNION ALL
        |  SELECT 'removed', COUNT(*) FROM orders WHERE o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT 'changed', COUNT(*) FROM orders
        |  WHERE o_orderkey % 7 <> 0 AND o_orderkey % 5 = 0
        |  UNION ALL
        |  SELECT 'unchanged', COUNT(*) FROM orders
        |  WHERE o_orderkey % 7 <> 0 AND o_orderkey % 5 <> 0
        |) ORDER BY diff_status""".stripMargin)),

    // Validated ingest (the data contract at the table boundary): clean
    // rows insert, violating rows come back tagged for quarantine —
    // never silently dropped, never poisoning the table. The gate reads
    // the QUARANTINE side; DataQualitySpec pins the accepted side.
    Gate("lake_validated_ingest", (s, dir) => {
      import graft.operators.DataQuality
      val o = table(s, dir, "orders")
      val ds = LakeDataset.fromDataFrame(s, o.limit(0))
      val quarantined = DataQuality.insertValidated(ds, o, Seq(
        DataQuality.InRange("o_totalprice", 0.0, 50000.0),
        DataQuality.MatchesRegex("o_orderpriority", "^[1-3]-.*$")))
      quarantined
        .select(col("o_orderkey"), explode(col("__violations")).as("violation"))
        .orderBy("o_orderkey", "violation")
    }, Sql(
      """SELECT o_orderkey, v AS violation FROM (
        |  SELECT o_orderkey, 'in_range(o_totalprice)' AS v FROM orders
        |  WHERE o_totalprice < 0 OR o_totalprice > 50000
        |  UNION ALL
        |  SELECT o_orderkey, 'matches_regex(o_orderpriority)' FROM orders
        |  WHERE NOT regexp_matches(o_orderpriority, '^[1-3]-.*$')
        |) ORDER BY o_orderkey, violation""".stripMargin)),

    // OPTIMIZE as SQL: after an upsert the catalog cannot vouch for
    // exactness; OPTIMIZE recounts/re-tightens, and the read-back
    // count/min/max collapses to catalog metadata again — correct AFTER
    // the mutation (the oracle computes the merged state).
    Gate("lake_sql_optimize", (s, dir) => {
      val db = new Database(s)
      val o = table(s, dir, "orders")
        .withColumn("o_batch", (col("o_orderkey") / 6000).cast("int"))
      db.register("opt_t", LakeDataset.fromDataFrame(s, o, partitionCols = Seq("o_batch")))
      db.executeDml(
        """UPDATE opt_t SET o_totalprice = o_totalprice + 25
          |WHERE o_orderkey BETWEEN 100 AND 200""".stripMargin)
      db.executeDml("OPTIMIZE opt_t")
      db.executeSql(
        """SELECT COUNT(*) AS cnt, MIN(o_totalprice) AS min_price,
          |       MAX(o_totalprice) AS max_price
          |FROM opt_t""".stripMargin)
    }, Sql(
      """SELECT COUNT(*) AS cnt,
        |       MIN(CASE WHEN o_orderkey BETWEEN 100 AND 200
        |                THEN o_totalprice + 25 ELSE o_totalprice END) AS min_price,
        |       MAX(CASE WHEN o_orderkey BETWEEN 100 AND 200
        |                THEN o_totalprice + 25 ELSE o_totalprice END) AS max_price
        |FROM orders""".stripMargin)),

    // Selective compaction: OPTIMIZE ... WHERE collapses ONLY the cells
    // the predicate prunes to (the petabyte move — compact the churned
    // partitions, never the whole table); contents must be untouched and
    // the compacted region's metadata answers return.
    Gate("lake_sql_optimize_where", (s, dir) => {
      val db = new Database(s)
      val o = table(s, dir, "orders")
        .withColumn("o_batch", (col("o_orderkey") / 6000).cast("int"))
      db.register("optw_t", LakeDataset.fromDataFrame(s, o, partitionCols = Seq("o_batch")))
      db.executeDml(
        """UPDATE optw_t SET o_totalprice = o_totalprice + 25
          |WHERE o_orderkey BETWEEN 100 AND 200""".stripMargin)
      db.executeDml("OPTIMIZE optw_t WHERE o_batch = 0")
      db.executeSql(
        """SELECT o_batch, COUNT(*) AS cnt, MIN(o_totalprice) AS min_price,
          |       MAX(o_totalprice) AS max_price
          |FROM optw_t GROUP BY o_batch ORDER BY o_batch""".stripMargin)
    }, Sql(
      // lake_sql_optimize_where: selective compaction must not change
      // contents — the oracle reproduces the post-UPDATE state per batch.
      """SELECT CAST(FLOOR(o_orderkey / 6000.0) AS INT) AS o_batch,
        |       COUNT(*) AS cnt,
        |       MIN(CASE WHEN o_orderkey BETWEEN 100 AND 200
        |                THEN o_totalprice + 25 ELSE o_totalprice END) AS min_price,
        |       MAX(CASE WHEN o_orderkey BETWEEN 100 AND 200
        |                THEN o_totalprice + 25 ELSE o_totalprice END) AS max_price
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Layout evolution: ALTER TABLE rebuilds the table under a new
    // partition axis (one pass) and swaps the SQL registration — the
    // read-back here is a grouped+filtered aggregate the NEW layout
    // answers from the catalog (cells fold by the new partition values).
    Gate("lake_relayout", (s, dir) => {
      val db = new Database(s)
      db.register("rel_t", LakeDataset.fromDataFrame(
        s, table(s, dir, "orders")
          .withColumn("o_batch", (col("o_orderkey") / 6000).cast("int")),
        partitionCols = Seq("o_batch")))
      db.executeDml("ALTER TABLE rel_t PARTITIONED BY (o_orderstatus)")
      db.executeSql(
        """SELECT o_orderstatus, COUNT(*) AS n, MIN(o_orderkey) AS min_key
          |FROM rel_t WHERE o_orderstatus IN ('F', 'O')
          |GROUP BY o_orderstatus""".stripMargin)
    }, Sql(
      """SELECT o_orderstatus, COUNT(*) AS n, MIN(o_orderkey) AS min_key
        |FROM orders WHERE o_orderstatus IN ('F', 'O')
        |GROUP BY o_orderstatus""".stripMargin)),

    // MERGE INTO as the SQL verb for the engine upsert (incoming wins per
    // column on the key join; unmatched rows insert) — the reference's
    // core mutation reachable from SQL.
    Gate("lake_sql_merge", (s, dir) => {
      val db = new Database(s)
      db.register("merge_t",
        LakeDataset.fromDataFrame(s, table(s, dir, "orders")))
      db.executeDml(
        """MERGE INTO merge_t USING (
          |  SELECT o_orderkey, o_custkey, o_orderstatus,
          |         o_totalprice + 50 AS o_totalprice, o_orderdate, o_orderpriority
          |  FROM merge_t WHERE o_orderkey % 17 = 0) s
          |ON merge_t.o_orderkey = s.o_orderkey
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      db.executeSql(
        """SELECT COUNT(*) AS n,
          |       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS total
          |FROM merge_t""".stripMargin)
    }, Sql(
      s"""SELECT COUNT(*) AS n,
         |       ${osum("o_totalprice + CASE WHEN o_orderkey % 17 = 0 THEN 50 ELSE 0 END")} AS total
         |FROM orders""".stripMargin)),

    // MERGE as CDC-apply: conditional clauses route each source row to the
    // FIRST clause (statement order) whose condition holds — delete-flagged
    // matched rows drop, other matched rows update, unflagged unmatched
    // rows insert. One statement applies a whole CDC batch.
    Gate("lake_sql_merge_cdc", (s, dir) => {
      import org.apache.spark.sql.functions.col
      val db = new Database(s)
      val orders = table(s, dir, "orders")
      db.register("cdc_t", LakeDataset.fromDataFrame(
        s, orders.filter(col("o_orderkey") % 4 =!= 3),
        partitionCols = Seq("o_orderstatus")))
      orders.createOrReplaceTempView("cdc_all")
      db.executeDml(
        """MERGE INTO cdc_t USING (
          |  SELECT o_orderkey, o_custkey, o_orderstatus,
          |         o_totalprice + 1000 AS o_totalprice, o_orderdate, o_orderpriority,
          |         CASE WHEN o_orderkey % 5 = 0 THEN 'D' ELSE 'U' END AS op
          |  FROM cdc_all WHERE o_orderkey % 2 = 0) s
          |ON cdc_t.o_orderkey = s.o_orderkey
          |WHEN MATCHED AND s.op = 'D' THEN DELETE
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED AND s.op <> 'D' THEN INSERT *""".stripMargin)
      db.executeSql(
        """SELECT COUNT(*) AS n,
          |       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS total
          |FROM cdc_t""".stripMargin)
    }, Sql(
      """WITH base AS (SELECT o_orderkey, o_totalprice FROM orders
        |              WHERE o_orderkey % 4 <> 3),
        |     src AS (SELECT o_orderkey, o_totalprice + 1000 AS p,
        |                    CASE WHEN o_orderkey % 5 = 0 THEN 'D' ELSE 'U' END AS op
        |             FROM orders WHERE o_orderkey % 2 = 0),
        |     fin AS (
        |       SELECT CASE WHEN s.o_orderkey IS NOT NULL THEN s.p
        |                   ELSE b.o_totalprice END AS price
        |       FROM base b LEFT JOIN src s ON b.o_orderkey = s.o_orderkey
        |       WHERE s.o_orderkey IS NULL OR s.op <> 'D'
        |       UNION ALL
        |       SELECT s.p AS price FROM src s
        |       WHERE s.op <> 'D'
        |         AND s.o_orderkey NOT IN (SELECT o_orderkey FROM base))
        |SELECT COUNT(*) AS n,
        |       CAST(SUM(CAST(price AS DECIMAL(38,2))) AS DOUBLE) AS total
        |FROM fin""".stripMargin)),

    // COPY INTO: bulk file ingest into a registered (here: empty) table.
    Gate("lake_sql_copy", (s, dir) => {
      val db = new Database(s)
      db.register("copy_t", LakeDataset.fromDataFrame(
        s, table(s, dir, "orders").limit(0)))
      db.executeDml(s"COPY INTO copy_t FROM '$dir/orders.parquet'")
      db.executeSql(
        """SELECT COUNT(*) AS n,
          |       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS total
          |FROM copy_t""".stripMargin)
    }, Sql(
      s"""SELECT COUNT(*) AS n, ${osum("o_totalprice")} AS total
         |FROM orders""".stripMargin)),

    // Predicate update (SQL `UPDATE ... SET ... WHERE`): assignment RHS
    // sees the OLD row, the predicate prunes to catalog-overlapping
    // cells, row counts (and every unassigned column's stats) stay exact.
    Gate("lake_update_where", (s, dir) => {
      val o = table(s, dir, "orders")
        .withColumn("o_batch", (col("o_orderkey") / 6000).cast("int"))
      val ds = LakeDataset.fromDataFrame(s, o, partitionCols = Seq("o_batch"))
      ds.updateWhere(col("o_orderkey").between(2000L, 3000L),
        Seq("o_totalprice" -> (col("o_totalprice") + 100)))
      ds.toDF.agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
    }, Sql(
      s"""SELECT COUNT(*) AS n,
         |       ${osum("CASE WHEN o_orderkey BETWEEN 2000 AND 3000 THEN o_totalprice + 100 ELSE o_totalprice END")} AS total
         |FROM orders""".stripMargin)),

    // Predicate delete (SQL `DELETE WHERE`): the predicate's conjuncts
    // prune through the catalog (zones here — the key range hits a few
    // range cells), so untouched cells keep their plans and tight stats;
    // rows where the predicate is NULL survive per SQL semantics
    // (DeleteWhereSpec pins that and the cell-touch count).
    Gate("lake_delete_where", (s, dir) => {
      val o = table(s, dir, "orders")
        .withColumn("o_batch", (col("o_orderkey") / 6000).cast("int"))
      val ds = LakeDataset.fromDataFrame(s, o, partitionCols = Seq("o_batch"))
      ds.deleteWhere(col("o_orderkey").between(2000L, 3000L) &&
        col("o_orderstatus") === "F")
      ds.toDF.agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
    }, Sql(
      s"""SELECT COUNT(*) AS n, ${osum("o_totalprice")} AS total
         |FROM orders
         |WHERE NOT (o_orderkey BETWEEN 2000 AND 3000 AND o_orderstatus = 'F')""".stripMargin)),

    // A delta that CHANGES the partition value of existing keys: per-cell
    // routing alone would duplicate those keys (the old row would survive in
    // its old cell). The migration probe detects it and the merge takes the
    // global join; n stays constant and every moved key lands exactly once.
    Gate("lake_migrating_upsert", (s, dir) => {
      val o = table(s, dir, "orders")
      val ds = LakeDataset.fromDataFrame(s, o, partitionCols = Seq("o_orderstatus"))
      val delta = o.filter(col("o_orderkey") % 17 === 0)
        .withColumn("o_orderstatus", lit("F"))
        .withColumn("o_totalprice", col("o_totalprice") + 50)
      ds.upsert(delta, Seq("o_orderkey"))
      ds.toDF.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy("o_orderstatus")
    }, Sql(
      s"""SELECT o_orderstatus, COUNT(*) AS n, ${osum("o_totalprice")} AS total
         |FROM (
         |  SELECT CASE WHEN o_orderkey % 17 = 0 THEN 'F' ELSE o_orderstatus END
         |           AS o_orderstatus,
         |         o_totalprice + CASE WHEN o_orderkey % 17 = 0 THEN 50 ELSE 0 END
         |           AS o_totalprice
         |  FROM orders) t
         |GROUP BY o_orderstatus""".stripMargin)),

    // Located delete on a table with per-part key BLOOM filters: the keys
    // are hash-scattered across partitions, so zone ranges cannot skip any
    // part — the bloom membership probe is what narrows the located-delete
    // scan. The oracle proves the pruned probe deletes exactly the right
    // rows (a false "provably absent" would leave survivors and mismatch).
    Gate("lake_bloom_pruning", (s, dir) => {
      val o = table(s, dir, "orders")
      val ds = LakeDataset.fromDataFrame(s, o,
        partitionCols = Seq("o_orderstatus"), bloomCols = Seq("o_orderkey"))
      ds.delete(o.filter(col("o_orderkey") % 1000 === 0).select("o_orderkey"),
        Seq("o_orderkey"))
      ds.toDF.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy("o_orderstatus")
    }, Sql(
      s"""SELECT o_orderstatus, COUNT(*) AS n, ${osum("o_totalprice")} AS total
         |FROM orders WHERE o_orderkey % 1000 <> 0
         |GROUP BY o_orderstatus""".stripMargin)),

    // Delete by bare keys on a partitioned+bucketed table: the key rows name
    // neither partition nor bucket, so the engine first LOCATES the cells
    // holding the keys (projected key+cell scan) and anti-joins only those.
    Gate("lake_located_delete", (s, dir) => {
      val o = table(s, dir, "orders")
      val ds = LakeDataset.fromDataFrame(s, o,
        partitionCols = Seq("o_orderstatus"), bucketCols = Seq("o_custkey"), nBuckets = 5)
      ds.delete(o.filter(col("o_orderkey") % 6 === 0).select("o_orderkey"), Seq("o_orderkey"))
      ds.toDF.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy("o_orderstatus")
    }, Sql(
      s"""SELECT o_orderstatus, COUNT(*) AS n, ${osum("o_totalprice")} AS total
         |FROM orders WHERE o_orderkey % 6 <> 0
         |GROUP BY o_orderstatus""".stripMargin)),

    Gate("lake_storage_roundtrip", (s, dir) => {
      val li = table(s, dir, "lineitem")
      val root = Files.createTempDirectory("graft_rt").toString
      val ds = LakeDataset.fromDataFrame(s, li,
        partitionCols = Seq("l_returnflag"), bucketCols = Seq("l_partkey"),
        nBuckets = 5, storage = Some(graft.model.StorageSpec(root)))
      ds.toStorage()
      val back = LakeDataset.fromStorage(s, root)
      back.toDF.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("total"))
        .orderBy("l_returnflag")
    }, Sql(
      s"""SELECT l_returnflag, COUNT(*) AS n, ${osum("l_extendedprice")} AS total
         |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    // VACUUM: a crashed writer's leftover cell would be walked back into
    // the table by the next load (discovery trusts the layout) — the
    // writer's catalog deletes it. The oracle is the CLEAN aggregate, so
    // an unvacuumed (or over-vacuumed) root fails the hash.
    Gate("lake_vacuum_orphans", (s, dir) => {
      val o = table(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val root = Files.createTempDirectory("graft_vac_gate").toString
      val ds = LakeDataset.fromDataFrame(s, o,
        partitionCols = Seq("o_orderstatus"),
        storage = Some(graft.model.StorageSpec(root)))
      ds.toStorage()
      o.limit(100).drop("o_orderstatus")
        .withColumn("o_totalprice", col("o_totalprice") * 1000)
        .write.parquet(java.nio.file.Paths.get(root, "o_orderstatus=CRASHED").toString)
      ds.vacuumOrphans()
      LakeDataset.fromStorage(s, root).toDF
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy("o_orderstatus")
    }, Sql(
      s"""SELECT o_orderstatus, COUNT(*) AS n, ${osum("o_totalprice")} AS total
         |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // Same lifecycle through the Arrow IPC FILE format (reference
    // storage.rs Format::Ipc) — the graft `arrowipc` FileFormat writes
    // zstd-compressed .arrow stream files per part (pyarrow-readable;
    // ArrowIpcFormatSpec round-trips them cross-tool).
    Gate("lake_ipc_roundtrip", (s, dir) => {
      val li = table(s, dir, "lineitem")
      val root = Files.createTempDirectory("graft_rt_ipc").toString
      val ds = LakeDataset.fromDataFrame(s, li,
        partitionCols = Seq("l_returnflag"), bucketCols = Seq("l_partkey"),
        nBuckets = 5,
        storage = Some(graft.model.StorageSpec(root, format = "arrowipc",
          compression = "zstd")))
      ds.toStorage()
      val back = LakeDataset.fromStorage(s, root)
      back.toDF.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("total"))
        .orderBy("l_returnflag")
    }, Sql(
      s"""SELECT l_returnflag, COUNT(*) AS n, ${osum("l_extendedprice")} AS total
         |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    Gate("lake_part_pruning", (s, dir) => {
      Fixtures.lineitemLake(s, dir)
        .prunedDF(Map("l_returnflag" -> "R"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
    }, Sql(
      s"""SELECT COUNT(*) AS n, ${osum("l_quantity")} AS sum_qty
         |FROM lineitem WHERE l_returnflag = 'R'""".stripMargin)),

    Gate("lake_materialize", (s, dir) => {
      val ev = table(s, dir, "events")
      val ds = LakeDataset.fromDataFrame(s, ev, partitionCols = Seq("event_type"))
      ds.insert(ev.filter(col("event_id") % 13 === 0))
      ds.materialize() // collapse plans; counters refresh (reference collect)
      ds.toDF.groupBy("event_type")
        .agg(count(lit(1)).as("n"), dsum(col("value"), 4).as("total_value"))
        .orderBy("event_type")
    }, Sql(
      s"""SELECT event_type, COUNT(*) AS n, ${osum("value", 4)} AS total_value
         |FROM (SELECT * FROM events
         |      UNION ALL SELECT * FROM events WHERE event_id % 13 = 0) t
         |GROUP BY event_type""".stripMargin)),

    // End-to-end through the service verbs (reference proto/db.proto:20-35):
    // CreateTable -> UpsertTable (chunked) -> MaterializeTable -> SelectIpc.
    Gate("lake_server_flow", (s, dir) => {
      import graft.lake.LakeServer
      import graft.model.TableName
      val srv = new LakeServer(s)
      val o = table(s, dir, "orders")
      val t = TableName("public", "graft_srv_orders")
      srv.createTable(t, Iterator(o),
        partitions = Seq("o_orderstatus"), buckets = Seq("o_custkey"))
      val delta = o.filter(col("o_orderkey") % 9 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 500)
      // two chunks exercise the micro-batcher buffering + final flush
      srv.upsertTable(t, Seq("o_orderkey"),
        Iterator(delta.filter(col("o_orderkey") % 2 === 0),
          delta.filter(col("o_orderkey") % 2 =!= 0)))
      srv.materializeTable(t)
      srv.select(
        """SELECT o_orderstatus, COUNT(*) AS n,
          |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS total
          |FROM graft_srv_orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
    }, Sql(
      s"""WITH delta AS (
         |  SELECT o_orderkey, o_totalprice + 500 AS o_totalprice
         |  FROM orders WHERE o_orderkey % 9 = 0),
         |merged AS (
         |  SELECT l.o_orderstatus AS o_orderstatus,
         |         COALESCE(d.o_totalprice, l.o_totalprice) AS o_totalprice
         |  FROM orders l FULL OUTER JOIN delta d ON l.o_orderkey = d.o_orderkey)
         |SELECT o_orderstatus, COUNT(*) AS n, ${osum("o_totalprice")} AS total
         |FROM merged GROUP BY o_orderstatus""".stripMargin)),

    // Co-located bucket join (SURVEY §4 "bucketed layout" row): lineitem and
    // part are hash-bucketed on the join key with the same bucket count, so
    // the join runs bucket-by-bucket — each sub-join sees 1/5 of either side.
    Gate("lake_colocated_join", (s, dir) => {
      import graft.operators.Joins
      Joins.coLocatedJoin(
          Fixtures.lineitemLake(s, dir), Fixtures.partLake(s, dir),
          "l_partkey", "p_partkey")
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("revenue"))
        .orderBy("p_brand")
    }, Sql(
      s"""SELECT p_brand, COUNT(*) AS n, ${osum("l_extendedprice")} AS revenue
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |GROUP BY p_brand""".stripMargin)),

    // Zone-map data skipping (engine extension beyond SURVEY §4's manual
    // partition layout): per-part [min,max] catalog statistics answer which
    // cells a range predicate can touch BEFORE planning — only those parts
    // are scanned; the rest never enter the plan.
    Gate("lake_zone_pruning", (s, dir) => {
      Fixtures.ordersZoneLake(s, dir)
        .zoneRangePrunedDF("o_orderkey", 1000L, 2000L)
        .filter(col("o_orderkey").between(1000L, 2000L))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
    }, Sql(
      s"""SELECT COUNT(*) AS n, ${osum("o_totalprice")} AS total
         |FROM orders WHERE o_orderkey BETWEEN 1000 AND 2000""".stripMargin)),

    // Deterministic shard export: documents written as shard=K parquet
    // dirs (assignment + intra-shard order are pure functions of the
    // data), summarized from the RE-READ files — the oracle checks the
    // persisted assignment, not the pre-write plan. Residue mode here
    // (SQL-recomputable); ExportSpec covers the hashed mode.
    Gate("export_shards", (s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_export").toString
      graft.operators.Export
        .shardedWrite(table(s, dir, "documents"), "doc_id", 8, root, hashed = false)
        // partition-dir values read back as int; the oracle's % is bigint
        .groupBy(col("shard").cast("long").as("shard"))
        .agg(count(lit(1)).as("docs"), sum(col("n_chars")).as("chars"))
    }, Sql(
      """SELECT doc_id % 8 AS shard, COUNT(*) AS docs,
        |       CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM documents GROUP BY 1""".stripMargin)),

    // The same deterministic shard layout as JSONL (format("json") writes
    // one object per line) — the standard training-data interchange shape;
    // the aggregate over the RE-READ files proves the export lossless.
    Gate("export_shards_jsonl", (s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_export_jl").toString
      graft.operators.Export
        .shardedWrite(table(s, dir, "documents"), "doc_id", 8, root,
          hashed = false, format = "json")
        .groupBy(col("shard").cast("long").as("shard"))
        .agg(count(lit(1)).as("docs"), sum(col("n_chars")).as("chars"))
    }, Sql(
      """SELECT doc_id % 8 AS shard, COUNT(*) AS docs,
        |       CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM documents GROUP BY 1""".stripMargin)),

    // WebDataset tar shards — the sequential-archive layout streaming
    // training loaders consume. The manifest's byte counts are exact USTAR
    // framing arithmetic (512-byte header + payload padded to 512 per
    // member + 1024 trailer), so DuckDB reproduces them from LENGTH(text)
    // alone (the synthetic corpus is ASCII: chars == bytes); ExportSpec
    // parses the archives back byte-for-byte.
    Gate("export_webdataset", (s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_export_wd").toString
      graft.operators.Export
        .webdatasetWrite(table(s, dir, "documents"), "doc_id", "text", 8, root)
        .select("shard", "n_samples", "n_bytes")
        .orderBy("shard")
    }, Sql(
      // export_webdataset: exact USTAR framing — 512-byte header + payload
      // padded to a 512 multiple per member, 1024-byte end-of-archive.
      """SELECT doc_id % 8 AS shard,
        |  CAST(COUNT(*) AS BIGINT) AS n_samples,
        |  CAST(SUM(512 + LENGTH(text) + (512 - LENGTH(text) % 512) % 512)
        |       + 1024 AS BIGINT) AS n_bytes
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)),

    // WebDataset round trip: export multimodal tar shards (every 3rd doc
    // carries a paired binary member), stream-parse them back, and report
    // per shard — counts, id sums, text chars, paired-bin counts and
    // bytes. The oracle recomputes all five from the corpus and the
    // portable residue shard, so the gate proves the READER inverts the
    // writer byte-for-byte, not just that files appeared.
    Gate("import_webdataset", (s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_import_wd").toString
      val docs = table(s, dir, "documents")
        .withColumn("bin",
          when(col("doc_id") % 3 === 0, encode(substring(col("text"), 1, 16), "UTF-8")))
      graft.operators.Export.webdatasetWrite(docs, "doc_id", "text", 8, root,
        binCol = Some("bin"))
      graft.operators.Export.webdatasetRead(s, root)
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("sum_ids"),
          sum(length(col("text"))).as("sum_chars"),
          count(col("bin")).as("n_bins"),
          coalesce(sum(length(col("bin"))), lit(0L)).as("sum_bin_bytes"))
        .orderBy("shard")
    }, Sql(
      """SELECT doc_id % 8 AS shard,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
        |  CAST(SUM(LENGTH(text)) AS BIGINT) AS sum_chars,
        |  CAST(SUM(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_bins,
        |  CAST(SUM(CASE WHEN doc_id % 3 = 0
        |           THEN LENGTH(SUBSTRING(text, 1, 16)) ELSE 0 END) AS BIGINT)
        |    AS sum_bin_bytes
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Catalog-driven dynamic partition pruning: the dimension's filtered
    // key set prunes FACT cells (zones+blooms+bucket routing) before any
    // fact byte is read, then the join broadcasts the driver-small dim.
    // Spark's native DPP needs the join column to be the Hive partition
    // column; the engine prunes on any tracked key column.
    Gate("lake_dpp_join", (s, dir) => {
      val dim = table(s, dir, "orders").filter(
        col("o_orderkey").between(3000L, 4800L) &&
          col("o_orderpriority") === "1-URGENT")
      graft.operators.Joins.dppJoin(
        Fixtures.lineitemRangeLake(s, dir), "l_orderkey", dim, "o_orderkey")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue"))
    }, Sql(
      s"""SELECT o_orderpriority, COUNT(*) AS n,
         |       ${osum("l_extendedprice * (1 - l_discount)", 4)} AS revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |WHERE o_orderkey BETWEEN 3000 AND 4800 AND o_orderpriority = '1-URGENT'
         |GROUP BY o_orderpriority""".stripMargin)),

    // Metadata-only aggregates: COUNT(*)/MIN/MAX answered from the catalog
    // (per-part row counters + tight zone maps) with ZERO file scans — the
    // lakehouse metadata-query property. The same call degrades to one real
    // aggregation scan whenever exactness can't be vouched (StatsSpec pins
    // both paths; this fixture's pure-insert history keeps it tight).
    Gate("lake_stats_meta", (s, dir) => {
      graft.operators.Stats.tableStats(s, Fixtures.ordersZoneLake(s, dir),
        Seq("o_orderkey", "o_totalprice", "o_orderdate"))
    }, Sql(
      """SELECT COUNT(*) AS cnt,
        |       MIN(o_orderkey) AS min_o_orderkey, MAX(o_orderkey) AS max_o_orderkey,
        |       MIN(o_totalprice) AS min_o_totalprice, MAX(o_totalprice) AS max_o_totalprice,
        |       MIN(o_orderdate) AS min_o_orderdate, MAX(o_orderdate) AS max_o_orderdate
        |FROM orders""".stripMargin)),

    // Grouped metadata aggregates: GROUP BY a partition column folds the
    // per-cell counters/zones by catalog key — per-group counts and
    // bounds with zero scans (the fallback is the real grouped agg).
    Gate("lake_stats_meta_grouped", (s, dir) => {
      graft.operators.Stats.tableStatsBy(s, Fixtures.ordersZoneLake(s, dir),
        Seq("o_batch"), Seq("o_orderkey")).orderBy("o_batch")
    }, Sql(
      """SELECT CAST(FLOOR(o_orderkey / 6000.0) AS INT) AS o_batch,
        |       COUNT(*) AS cnt,
        |       MIN(o_orderkey) AS min_o_orderkey, MAX(o_orderkey) AS max_o_orderkey
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Filtered metadata: a WHERE of partition-column equalities selects
    // WHOLE cells, so the catalog fold stays exact — COUNT/MIN/MAX with a
    // partition filter still collapses to a LocalRelation (the most common
    // lakehouse metadata query: count of one date partition).
    Gate("lake_sql_stats_meta_filtered", (s, dir) => {
      val db = new Database(s)
      db.register("orders_meta_f", Fixtures.ordersZoneLake(s, dir))
      db.executeSql(
        """SELECT COUNT(*) AS cnt,
          |       MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
          |FROM orders_meta_f WHERE o_batch = 1""".stripMargin)
    }, Sql(
      """SELECT COUNT(*) AS cnt,
        |       MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
        |FROM orders WHERE CAST(FLOOR(o_orderkey / 6000.0) AS INT) = 1""".stripMargin)),

    // The same property on the SQL surface: LakePruneRule collapses the
    // whole aggregate over the LakeScan view into a LocalRelation.
    Gate("lake_sql_stats_meta", (s, dir) => {
      val db = new Database(s)
      db.register("orders_meta", Fixtures.ordersZoneLake(s, dir))
      db.executeSql(
        """SELECT COUNT(*) AS cnt,
          |       MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key,
          |       MIN(o_orderdate) AS min_date, MAX(o_orderdate) AS max_date
          |FROM orders_meta""".stripMargin)
    }, Sql(
      """SELECT COUNT(*) AS cnt,
        |       MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key,
        |       MIN(o_orderdate) AS min_date, MAX(o_orderdate) AS max_date
        |FROM orders""".stripMargin)),

    // Metadata-only SUM: `count(*) + sum(bigint)` folds from the catalog's
    // exact per-part decimal sums (LakeDataset.metaSums) — the single most
    // common dashboard query served with ZERO file reads. Doubles never
    // take this path (order-dependent sums can't match a scan by contract).
    Gate("lake_stats_sum", (s, dir) => {
      graft.operators.Stats.tableSumStats(s, Fixtures.ordersZoneLake(s, dir),
        Seq("o_custkey", "o_orderkey"))
    }, Sql(
      """SELECT COUNT(*) AS cnt,
        |       CAST(SUM(o_custkey) AS BIGINT) AS sum_o_custkey,
        |       CAST(SUM(o_orderkey) AS BIGINT) AS sum_o_orderkey
        |FROM orders""".stripMargin)),

    // Zero-scan drift between two lake snapshots: the "after" lake drops
    // every 4th order and ingests every 10th re-keyed — counts, exact
    // sums, and net change per column fold from BOTH manifests' SumMap
    // state; no scan task reads either table's rows.
    Gate("lake_stats_drift", (s, dir) => {
      val before = Fixtures.ordersZoneLake(s, dir)
      val o = table(s, dir, "orders")
        .withColumn("o_batch", (col("o_orderkey") / 6000).cast("int"))
      val mutated = o.filter(col("o_orderkey") % 4 =!= 0)
        .unionByName(o.filter(col("o_orderkey") % 10 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + 3000000)
          .withColumn("o_custkey", col("o_custkey") + 1000))
      val after = LakeDataset.fromDataFrame(s, mutated,
        partitionCols = Seq("o_batch"))
      graft.operators.Stats.driftStats(s, before, after,
          Seq("o_custkey", "o_orderkey"))
        .orderBy("col_name")
    }, Sql(
      """WITH after_t AS (
        |  SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey % 4 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 3000000, o_custkey + 1000 FROM orders
        |  WHERE o_orderkey % 10 = 0),
        |b AS (SELECT COUNT(*) AS cb, SUM(o_custkey) AS sbc,
        |             SUM(o_orderkey) AS sbo FROM orders),
        |a AS (SELECT COUNT(*) AS ca, SUM(o_custkey) AS sac,
        |             SUM(o_orderkey) AS sao FROM after_t)
        |SELECT * FROM (
        |  SELECT 'o_custkey' AS col_name, cb AS cnt_before, ca AS cnt_after,
        |    CAST(sbc AS DOUBLE) AS sum_before, CAST(sac AS DOUBLE) AS sum_after,
        |    CAST(sac - sbc AS DOUBLE) AS net_sum FROM b, a
        |  UNION ALL
        |  SELECT 'o_orderkey', cb, ca, CAST(sbo AS DOUBLE),
        |    CAST(sao AS DOUBLE), CAST(sao - sbo AS DOUBLE) FROM b, a)
        |ORDER BY col_name""".stripMargin)),

    // The same zero-scan drift monitor as a catalog SQL verb:
    // `SHOW DRIFT before VS after (cols)` — dashboards ask in SQL, the
    // answer still folds from the two manifests.
    Gate("lake_sql_drift", (s, dir) => {
      val db = new Database(s)
      db.register("drift_before", Fixtures.ordersZoneLake(s, dir))
      val o = table(s, dir, "orders")
        .withColumn("o_batch", (col("o_orderkey") / 6000).cast("int"))
      val mutated = o.filter(col("o_orderkey") % 4 =!= 0)
        .unionByName(o.filter(col("o_orderkey") % 10 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + 3000000)
          .withColumn("o_custkey", col("o_custkey") + 1000))
      db.register("drift_after", LakeDataset.fromDataFrame(s, mutated,
        partitionCols = Seq("o_batch")))
      db.executeSql("SHOW DRIFT drift_before VS drift_after (o_custkey, o_orderkey)")
        .orderBy("col_name")
    }, Sql(
      """WITH after_t AS (
        |  SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey % 4 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 3000000, o_custkey + 1000 FROM orders
        |  WHERE o_orderkey % 10 = 0),
        |b AS (SELECT COUNT(*) AS cb, SUM(o_custkey) AS sbc,
        |             SUM(o_orderkey) AS sbo FROM orders),
        |a AS (SELECT COUNT(*) AS ca, SUM(o_custkey) AS sac,
        |             SUM(o_orderkey) AS sao FROM after_t)
        |SELECT * FROM (
        |  SELECT 'o_custkey' AS col_name, cb AS cnt_before, ca AS cnt_after,
        |    CAST(sbc AS DOUBLE) AS sum_before, CAST(sac AS DOUBLE) AS sum_after,
        |    CAST(sac - sbc AS DOUBLE) AS net_sum FROM b, a
        |  UNION ALL
        |  SELECT 'o_orderkey', cb, ca, CAST(sbo AS DOUBLE),
        |    CAST(sao AS DOUBLE), CAST(sao - sbo AS DOUBLE) FROM b, a)
        |ORDER BY col_name""".stripMargin)),

    // Approx-distinct from the catalog: hll_sketch_estimate(hll_sketch_agg)
    // over a sketch-tracked column collapses to a LocalRelation — the
    // metadata estimate is bit-identical to the scan's (union of per-part
    // sketches == one sketch over everything). Rows-only gate (DuckDB's
    // HLL is a different sketch); q09_distinct_agg is the exact twin.
    Gate("lake_stats_approx_distinct", (s, dir) => {
      val db = new Database(s)
      db.register("orders_sketch", Fixtures.ordersSketchLake(s, dir))
      db.executeSql(
        """SELECT COUNT(*) AS cnt,
          |       hll_sketch_estimate(hll_sketch_agg(o_custkey)) AS approx_cust
          |FROM orders_sketch""".stripMargin)
    }, RowsOnly("HLL sketch estimate (DuckDB's HLL is a different sketch)",
      twin = "q09_distinct_agg")),

    // GK quantile summaries (QuantileMap): approx median/p95 answered from
    // the CATALOG alone (zero scan jobs), verified two ways in one gate —
    // the exact discrete quantile (the k-th smallest value, k=ceil(q*n);
    // identical relational definition on the DuckDB side, so bit-exact)
    // plus a within_bound boolean holding the catalog answer's RANK to the
    // GK bound (GK summaries answer within ~2eps of the true rank but never
    // bit-identically across merge orders — the deterministic facts go in
    // the output, the approximate value is asserted, not printed).
    Gate("lake_stats_quantile", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val o = table(s, dir, "orders")
        .withColumn("o_batch", (col("o_orderkey") / 3000).cast("int"))
      val ds = LakeDataset.fromDataFrame(s, o, partitionCols = Seq("o_batch"),
        quantileCols = Seq("o_totalprice"))
      val qs = Seq(0.25, 0.50, 0.75, 0.95)
      val approx = ds.metaApproxQuantile(Seq("o_totalprice"), qs)
        .getOrElse(throw new IllegalStateException(
          "catalog must answer quantiles on a pure-append table"))("o_totalprice")
      val n = o.count()
      // one scan: the exact rank of each catalog answer
      val rankAggs = qs.zip(approx).map { case (q, v) =>
        (sum(when(col("o_totalprice") <= lit(v), 1L).otherwise(0L))
          .cast("double") / lit(n.toDouble)).as(s"r${(q * 100).toInt}")
      }
      val ranks = o.agg(rankAggs.head, rankAggs.tail: _*).head()
      val bnd = 2 * graft.lake.QuantileMap.Eps + 2.0 / n
      // gate-scale oracle-shaped exact quantiles (the exact rank pass is
      // the ORACLE's cost, not the operator's — the catalog answer above
      // ran zero jobs). Exact k-th smallest WITHOUT a single-partition
      // global-rank window (row_number().over(Window.orderBy(v)) moves the
      // whole table to ONE task — the textbook scale-killer): the qcut
      // two-phase rank — range partition, partition-local record numbers,
      // P-row offsets frame joined back over the SAME materialized range
      // exchange (reuse guard below, same as Sampling.qcut's). The value
      // at rank k is tie-insensitive, so the result is identical to the
      // window form at any scale.
      require(s.conf.get("spark.sql.exchange.reuse", "true").toBoolean,
        "lake_stats_quantile's two-phase rank requires exchange reuse: the " +
          "rank and offset passes must read one materialized range shuffle")
      val p = math.max(1, s.conf.get("spark.sql.shuffle.partitions", "32").toInt)
      val ranged = o.select(col("o_totalprice").as("v"))
        .repartitionByRange(p, col("v"))
      val withRn = ranged.sortWithinPartitions("v")
        .withColumn("__mid", monotonically_increasing_id())
        .withColumn("__pid", shiftright(col("__mid"), 33).cast("int"))
        .withColumn("__rn", col("__mid").bitwiseAND(lit((1L << 33) - 1)) + lit(1L))
      // ≤ P aggregated rows under the running-sum window — bounded at any
      // scale, never the table.
      val offs = ranged.select(spark_partition_id().as("__pid"))
        .groupBy("__pid").agg(count(lit(1)).as("__cnt"))
        .withColumn("__off", coalesce(sum("__cnt").over(
          Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
        .select("__pid", "__off")
      val ks = qs.map(q => math.ceil(q * n).toLong)
      val kth = withRn.join(broadcast(offs), "__pid")
        .withColumn("__r", col("__off") + col("__rn"))
        .filter(col("__r").isin(ks: _*))
        .select("__r", "v")
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      import s.implicits._
      qs.zipWithIndex.map { case (q, i) =>
        ((q * 100).toInt, kth(ks(i)), math.abs(ranks.getDouble(i) - q) <= bnd)
      }.toDF("q_pct", "exact_disc", "within_bound").orderBy("q_pct")
    }, Sql(
      // lake_stats_quantile: exact_disc is the k-th smallest (k=ceil(q*n)) —
      // a value from the data, so bit-exact across engines; within_bound
      // pins the catalog's GK answers to their rank bound on the Spark side.
      """WITH ranked AS (
        |  SELECT o_totalprice AS v,
        |         ROW_NUMBER() OVER (ORDER BY o_totalprice) AS rn,
        |         (SELECT COUNT(*) FROM orders) AS n
        |  FROM orders)
        |SELECT q_pct, MIN(v) AS exact_disc, TRUE AS within_bound
        |FROM (VALUES (25), (50), (75), (95)) AS qs(q_pct), ranked
        |WHERE rn = CAST(CEIL(q_pct * n / 100.0) AS BIGINT)
        |GROUP BY q_pct
        |ORDER BY q_pct""".stripMargin)),

    // Catalog-approximate quantile BINNING (qcut's 100 TB path): decile
    // boundaries fold from the manifest's GK sketches with zero scan jobs;
    // binning is one chained-CASE narrow pass. The gate certifies every
    // bin's population share against the GK rank bound (2·(2ε+2/n) per
    // share — each share is a difference of two rank-bounded boundaries);
    // the oracle pins the certified outcome per bin.
    Gate("lake_qcut_approx", (s, dir) => {
      val o = table(s, dir, "orders")
        .withColumn("o_batch", (col("o_orderkey") / 3000).cast("int"))
      val ds = LakeDataset.fromDataFrame(s, o, partitionCols = Seq("o_batch"),
        quantileCols = Seq("o_totalprice"))
      val binned = graft.operators.DataQuality.qcutApprox(ds, "o_totalprice", 10)
      val n = o.count()
      val bnd = 2 * (2 * graft.lake.QuantileMap.Eps + 2.0 / n)
      binned.groupBy("bin").agg(count(lit(1)).as("nb"))
        .select(col("bin").cast("long").as("bin"),
          (abs(col("nb").cast("double") / lit(n.toDouble) - 0.1) <= lit(bnd))
            .as("within_bound"))
        .orderBy("bin")
    }, Sql(
      // lake_qcut_approx: the engine emits a CERTIFIED verdict per bin (share
      // within the GK rank bound); the oracle pins all ten verdicts true.
      """SELECT CAST(UNNEST(generate_series(1, 10)) AS BIGINT) AS bin,
        |  TRUE AS within_bound ORDER BY 1""".stripMargin)),

    // Metadata-only TOP-K: per-part Misra–Gries sketches folded from the
    // CATALOG (zero scan jobs) across a create + an append (the merge
    // path). o_orderstatus has 3 distinct values << the 64-counter budget,
    // so the sketches are in the EXACT regime: counts are exact corpus
    // counts, the fold is order-independent, and the certification column
    // (exact = lower==upper bound) must read true — all DuckDB-checkable.
    // The approx regime (cardinality > budget) is bound-pinned in
    // FreqStatsSpec instead, since its stored set is merge-order dependent.
    Gate("lake_stats_topk", (s, dir) => {
      val o = table(s, dir, "orders")
        .withColumn("o_batch", (col("o_orderkey") / 3000).cast("int"))
      val first = o.filter(col("o_orderkey") % 2 === 0)
      val second = o.filter(col("o_orderkey") % 2 === 1)
      val ds = LakeDataset.fromDataFrame(s, first,
        partitionCols = Seq("o_batch"), freqCols = Seq("o_orderstatus"))
      ds.insert(second) // appends MERGE sketches — still exact under ≤k card.
      val top = ds.metaTopK(Seq("o_orderstatus"), 3)
        .getOrElse(throw new IllegalStateException(
          "catalog must answer top-k on a pure-append table"))("o_orderstatus")
      import s.implicits._
      top.map { case (v, lo, hi, exact) => (v, lo, exact) }
        .toDF("value", "cnt", "exact")
        .orderBy(desc("cnt"), col("value"))
    }, Sql(
      // lake_stats_topk: the catalog's MG top values in the exact regime are
      // plain group-by counts; the certification column must be true.
      """SELECT o_orderstatus AS value, COUNT(*) AS cnt, TRUE AS exact
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY cnt DESC, value LIMIT 3""".stripMargin)),

    // The SQL surface of the frequent-items family: GROUP BY a tracked
    // low-cardinality column + COUNT collapses to a LocalRelation (zero
    // scan tasks) — sound only in the certified-exact regime, which this
    // 3-value column is in. SqlPruneSpec pins the plan shape (no scan) and
    // the fail-open above budget.
    Gate("lake_sql_stats_topk", (s, dir) => {
      val o = table(s, dir, "orders")
        .withColumn("o_batch", (col("o_orderkey") / 3000).cast("int"))
      val db = new Database(s)
      db.register("freq_sql", LakeDataset.fromDataFrame(s, o,
        partitionCols = Seq("o_batch"), freqCols = Seq("o_orderstatus")))
      db.executeSql(
        """SELECT o_orderstatus, COUNT(*) AS cnt FROM freq_sql
          |GROUP BY o_orderstatus ORDER BY cnt DESC, o_orderstatus LIMIT 3""".stripMargin)
    }, Sql(
      """SELECT o_orderstatus, COUNT(*) AS cnt FROM orders
        |GROUP BY o_orderstatus ORDER BY cnt DESC, o_orderstatus LIMIT 3""".stripMargin)),

    // The two-dimensional collapse: GROUP BY (partition col, freq col) +
    // COUNT plans as a LocalRelation — per-group certified-exact value
    // counts from the catalog, zero scan tasks ("status counts per day").
    Gate("lake_sql_stats_group_counts", (s, dir) => {
      val o = table(s, dir, "orders")
        .withColumn("o_batch", (col("o_orderkey") / 3000).cast("int"))
      val db = new Database(s)
      db.register("freq_sql2", LakeDataset.fromDataFrame(s, o,
        partitionCols = Seq("o_batch"), freqCols = Seq("o_orderstatus")))
      db.executeSql(
        """SELECT o_batch, o_orderstatus, COUNT(*) AS cnt FROM freq_sql2
          |GROUP BY o_batch, o_orderstatus
          |ORDER BY o_batch, o_orderstatus""".stripMargin)
    }, Sql(
      """SELECT CAST(FLOOR(o_orderkey / 3000.0) AS INT) AS o_batch,
        |       o_orderstatus, COUNT(*) AS cnt
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Grouped metadata top-k: the per-PARTITION-GROUP top value, folded
    // from each group's member parts only — still zero scan jobs; exact
    // regime makes it DuckDB-checkable like lake_stats_topk.
    Gate("lake_stats_topk_grouped", (s, dir) => {
      val o = table(s, dir, "orders")
        .withColumn("o_batch", (col("o_orderkey") / 3000).cast("int"))
      val ds = LakeDataset.fromDataFrame(s, o,
        partitionCols = Seq("o_batch"), freqCols = Seq("o_orderstatus"))
      val grouped = ds.metaTopKGrouped(Seq("o_batch"), Seq("o_orderstatus"), 1)
        .getOrElse(throw new IllegalStateException(
          "catalog must answer grouped top-k on a pure-append table"))
      import s.implicits._
      grouped.flatMap { case (vals, m) =>
        m("o_orderstatus").map { case (v, lo, _, exact) =>
          (vals.head.asInstanceOf[Int], v, lo, exact)
        }
      }.toDF("o_batch", "value", "cnt", "exact").orderBy("o_batch")
    }, Sql(
      """WITH counts AS (
        |  SELECT CAST(FLOOR(o_orderkey / 3000.0) AS INT) AS o_batch, o_orderstatus AS value,
        |         COUNT(*) AS cnt
        |  FROM orders GROUP BY 1, 2),
        |ranked AS (
        |  SELECT o_batch, value, cnt, TRUE AS exact,
        |         ROW_NUMBER() OVER (PARTITION BY o_batch
        |                            ORDER BY cnt DESC, value) AS rk
        |  FROM counts)
        |SELECT o_batch, value, cnt, exact FROM ranked WHERE rk = 1
        |ORDER BY o_batch""".stripMargin)),

    // SHOW STATS: every maintained stat family folded from the catalog in
    // one verb — zero scan jobs. The gate projects the EXACT families
    // (counts, zones, sums; deterministic and DuckDB-reproducible); the
    // approx families (HLL distinct, GK quantiles) are bound-asserted in
    // QuantileStatsSpec instead, since no oracle can reproduce their bits.
    Gate("lake_sql_show_stats", (s, dir) => {
      val o = table(s, dir, "orders")
        .withColumn("o_batch", (col("o_orderkey") / 3000).cast("int"))
      val db = new Database(s)
      db.register("stats_show", LakeDataset.fromDataFrame(s, o,
        partitionCols = Seq("o_batch"),
        sketchCols = Seq("o_custkey"), quantileCols = Seq("o_totalprice")))
      db.executeSql("SHOW STATS stats_show")
        .filter(col("column").isin("o_orderkey", "o_custkey", "o_totalprice"))
        .select(col("column"), col("n_rows"), col("non_nulls"),
          col("min_value").cast("double").as("min_d"),
          col("max_value").cast("double").as("max_d"),
          col("sum_value").cast("double").as("sum_d"))
        .orderBy("column")
    }, Sql(
      // lake_sql_show_stats: the exact stat families per column. The double
      // column (o_totalprice) has no sum family BY CONTRACT (float sums are
      // never metadata-answered) — its non_nulls/sum_d are NULL.
      """SELECT * FROM (
        |  SELECT 'o_custkey' AS "column", COUNT(*) AS n_rows,
        |         COUNT(o_custkey) AS non_nulls,
        |         CAST(MIN(o_custkey) AS DOUBLE) AS min_d,
        |         CAST(MAX(o_custkey) AS DOUBLE) AS max_d,
        |         CAST(SUM(CAST(o_custkey AS DECIMAL(38,0))) AS DOUBLE) AS sum_d
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_orderkey', COUNT(*), COUNT(o_orderkey),
        |         CAST(MIN(o_orderkey) AS DOUBLE), CAST(MAX(o_orderkey) AS DOUBLE),
        |         CAST(SUM(CAST(o_orderkey AS DECIMAL(38,0))) AS DOUBLE)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_totalprice', COUNT(*), CAST(NULL AS BIGINT),
        |         CAST(MIN(o_totalprice) AS DOUBLE), CAST(MAX(o_totalprice) AS DOUBLE),
        |         CAST(NULL AS DOUBLE)
        |  FROM orders)
        |ORDER BY "column"""".stripMargin)),

    // The same on the SQL surface: LakePruneRule collapses COUNT/SUM/MIN
    // mixes over the view into a LocalRelation.
    Gate("lake_sql_stats_sum", (s, dir) => {
      val db = new Database(s)
      db.register("orders_sum", Fixtures.ordersZoneLake(s, dir))
      db.executeSql(
        """SELECT COUNT(*) AS cnt, SUM(o_custkey) AS sum_cust,
          |       MIN(o_orderkey) AS min_key
          |FROM orders_sum""".stripMargin)
    }, Sql(
      """SELECT COUNT(*) AS cnt, CAST(SUM(o_custkey) AS BIGINT) AS sum_cust,
        |       MIN(o_orderkey) AS min_key
        |FROM orders""".stripMargin)),

    // Grouped by the partition column + partition-IN filter: per-group
    // sums fold per cell, still scan-free.
    Gate("lake_sql_stats_sum_grouped", (s, dir) => {
      val db = new Database(s)
      db.register("orders_sum_g", Fixtures.ordersZoneLake(s, dir))
      db.executeSql(
        """SELECT o_batch, COUNT(*) AS cnt, SUM(o_custkey) AS sum_cust
          |FROM orders_sum_g WHERE o_batch IN (0, 1)
          |GROUP BY o_batch ORDER BY o_batch""".stripMargin)
    }, Sql(
      """SELECT CAST(FLOOR(o_orderkey / 6000.0) AS INT) AS o_batch,
        |       COUNT(*) AS cnt, CAST(SUM(o_custkey) AS BIGINT) AS sum_cust
        |FROM orders WHERE CAST(FLOOR(o_orderkey / 6000.0) AS INT) IN (0, 1)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // HYBRID metadata aggregation: the upsert dirties a few cells — the
    // vouched cells still fold from the catalog and ONE scan covers only
    // the dirtied rest (all-or-nothing metadata answering would rescan the
    // whole table for a single dirty cell). Identical to the full
    // aggregation by construction; StatsSpec pins the one-cell scan.
    Gate("lake_stats_hybrid", (s, dir) => {
      val o = table(s, dir, "orders")
        .withColumn("o_batch", (col("o_orderkey") / 6000).cast("int"))
      val ds = LakeDataset.fromDataFrame(s, o, partitionCols = Seq("o_batch"))
      ds.upsert(o.filter(col("o_orderkey") < 32)
        .withColumn("o_totalprice", lit(0.125)), Seq("o_orderkey"))
      graft.operators.Stats.tableStats(s, ds, Seq("o_orderkey", "o_totalprice"))
    }, Sql(
      """SELECT COUNT(*) AS cnt,
        |       MIN(o_orderkey) AS min_o_orderkey, MAX(o_orderkey) AS max_o_orderkey,
        |       MIN(CASE WHEN o_orderkey < 32 THEN 0.125 ELSE o_totalprice END) AS min_o_totalprice,
        |       MAX(CASE WHEN o_orderkey < 32 THEN 0.125 ELSE o_totalprice END) AS max_o_totalprice
        |FROM orders""".stripMargin)),

    // The SUM flavor of the hybrid: catalog-exact decimal sums over the
    // vouched cells + the same exact accumulation over the scanned rest.
    Gate("lake_stats_hybrid_sum", (s, dir) => {
      val o = table(s, dir, "orders")
        .withColumn("o_batch", (col("o_orderkey") / 6000).cast("int"))
      val ds = LakeDataset.fromDataFrame(s, o, partitionCols = Seq("o_batch"))
      ds.upsert(o.filter(col("o_orderkey") < 32)
        .withColumn("o_custkey", col("o_custkey") + 1000000L), Seq("o_orderkey"))
      graft.operators.Stats.tableSumStats(s, ds, Seq("o_custkey"))
    }, Sql(
      """SELECT COUNT(*) AS cnt,
        |       CAST(SUM(CASE WHEN o_orderkey < 32
        |                     THEN o_custkey + 1000000 ELSE o_custkey END) AS BIGINT)
        |         AS sum_o_custkey
        |FROM orders""".stripMargin)),

    // The hybrid on the SQL surface: LakePruneRule folds the vouched cells
    // into a LocalRelation of PARTIAL aggregates, scans ONLY the dirty
    // cell, and re-aggregates the union — `SELECT count(*), sum(x)` after
    // one upsert costs one cell's scan, not the table's.
    Gate("lake_sql_stats_hybrid", (s, dir) => {
      val o = table(s, dir, "orders")
        .withColumn("o_batch", (col("o_orderkey") / 6000).cast("int"))
      val ds = LakeDataset.fromDataFrame(s, o, partitionCols = Seq("o_batch"))
      ds.upsert(o.filter(col("o_orderkey") < 32)
        .withColumn("o_custkey", col("o_custkey") + 1000000L), Seq("o_orderkey"))
      val db = new Database(s)
      db.register("orders_sql_hy", ds)
      db.executeSql(
        """SELECT COUNT(*) AS cnt, SUM(o_custkey) AS sum_cust,
          |       MIN(o_orderkey) AS min_key, COUNT(o_custkey) AS n_cust
          |FROM orders_sql_hy""".stripMargin)
    }, Sql(
      """SELECT COUNT(*) AS cnt,
        |       CAST(SUM(CASE WHEN o_orderkey < 32
        |                     THEN o_custkey + 1000000 ELSE o_custkey END) AS BIGINT)
        |         AS sum_cust,
        |       MIN(o_orderkey) AS min_key, COUNT(o_custkey) AS n_cust
        |FROM orders""".stripMargin)),

    // Grouped hybrid: vouched groups fold from the catalog; only the dirty
    // cell's group re-aggregates from its one-cell scan, merged group-wise.
    Gate("lake_sql_stats_hybrid_grouped", (s, dir) => {
      val o = table(s, dir, "orders")
        .withColumn("o_batch", (col("o_orderkey") / 6000).cast("int"))
      val ds = LakeDataset.fromDataFrame(s, o, partitionCols = Seq("o_batch"))
      ds.upsert(o.filter(col("o_orderkey") < 32)
        .withColumn("o_custkey", col("o_custkey") + 1000000L), Seq("o_orderkey"))
      val db = new Database(s)
      db.register("orders_sql_hyg", ds)
      db.executeSql(
        """SELECT o_batch, COUNT(*) AS cnt, SUM(o_custkey) AS sum_cust
          |FROM orders_sql_hyg GROUP BY o_batch ORDER BY o_batch""".stripMargin)
    }, Sql(
      """SELECT CAST(FLOOR(o_orderkey / 6000.0) AS INT) AS o_batch,
        |       COUNT(*) AS cnt,
        |       CAST(SUM(CASE WHEN o_orderkey < 32
        |                     THEN o_custkey + 1000000 ELSE o_custkey END) AS BIGINT)
        |         AS sum_cust
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Metadata-only AVG: exact catalog sum / non-null count, behind the
    // sign-uniform + 2^53 exactness guard (bit-identical to the scan's
    // double accumulation under it) — integral columns only.
    Gate("lake_sql_stats_avg", (s, dir) => {
      val db = new Database(s)
      db.register("orders_avg", Fixtures.ordersZoneLake(s, dir))
      db.executeSql(
        "SELECT COUNT(*) AS cnt, AVG(o_custkey) AS avg_cust FROM orders_avg")
    }, Sql(
      """SELECT COUNT(*) AS cnt, AVG(o_custkey) AS avg_cust
        |FROM orders""".stripMargin)),

    // DISTINCT over a partition column: the catalog's live (non-empty)
    // cell listing IS the answer — zero scans (dirty cells fall to the
    // grouped hybrid: vouched values + a distinct over only those cells).
    Gate("lake_sql_distinct_cells", (s, dir) => {
      val db = new Database(s)
      db.register("orders_dist", Fixtures.ordersZoneLake(s, dir))
      db.executeSql("SELECT DISTINCT o_batch FROM orders_dist ORDER BY o_batch")
    }, Sql(
      """SELECT DISTINCT CAST(FLOOR(o_orderkey / 6000.0) AS INT) AS o_batch
        |FROM orders ORDER BY o_batch""".stripMargin)),

    // COUNT(DISTINCT partition_col): the distinct values are catalog keys
    // — answered with the count family in one scan-free plan.
    Gate("lake_sql_count_distinct", (s, dir) => {
      val db = new Database(s)
      db.register("orders_cd", Fixtures.ordersZoneLake(s, dir))
      db.executeSql(
        "SELECT COUNT(DISTINCT o_batch) AS n_batches, COUNT(*) AS cnt FROM orders_cd")
    }, Sql(
      """SELECT COUNT(DISTINCT CAST(FLOOR(o_orderkey / 6000.0) AS INT))
        |         AS n_batches,
        |       COUNT(*) AS cnt
        |FROM orders""".stripMargin)),

    // Grouped by the partition column: per-group catalog AVG.
    Gate("lake_sql_stats_avg_grouped", (s, dir) => {
      val db = new Database(s)
      db.register("orders_avg_g", Fixtures.ordersZoneLake(s, dir))
      db.executeSql(
        """SELECT o_batch, COUNT(*) AS cnt, AVG(o_custkey) AS avg_cust
          |FROM orders_avg_g GROUP BY o_batch ORDER BY o_batch""".stripMargin)
    }, Sql(
      """SELECT CAST(FLOOR(o_orderkey / 6000.0) AS INT) AS o_batch,
        |       COUNT(*) AS cnt, AVG(o_custkey) AS avg_cust
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Zone-seeded top-k: ORDER BY + LIMIT that reads only the cells whose
    // zone interval can reach the k-th value — "latest N" over a
    // range-partitioned table seeds from the extreme cell and prunes the
    // rest pre-scan (Spark's TakeOrderedAndProject scans every file).
    Gate("lake_topk", (s, dir) => {
      Fixtures.ordersZoneLake(s, dir).topK("o_orderkey", 20)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    }, Sql(
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders ORDER BY o_orderkey DESC LIMIT 20""".stripMargin)),

    // Top-k on a DATA column with a deterministic tie-break — zones on the
    // ranking column prune whatever they can; the answer is the plain
    // ordered limit either way.
    Gate("lake_topk_price", (s, dir) => {
      Fixtures.ordersZoneLake(s, dir)
        .topK("o_totalprice", 15, asc = false, tieBreak = Seq("o_orderkey"))
        .select(col("o_orderkey"), col("o_totalprice"))
    }, Sql(
      """SELECT o_orderkey, o_totalprice
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey DESC LIMIT 15""".stripMargin)),

    Gate("lake_bucket_pruning", (s, dir) => {
      val ds = Fixtures.lineitemLake(s, dir)
      ds.bucketPrunedDF(1042L)
        .filter(col("l_partkey") === 1042L)
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("total"))
    }, Sql(
      s"""SELECT COUNT(*) AS n, ${osum("l_extendedprice")} AS total
         |FROM lineitem WHERE l_partkey = 1042""".stripMargin)),

    // SQL-surface pruning: the SAME skipping the Scala API gets, but driven
    // entirely by `spark.sql` over a registered view. The view's plan is one
    // LakeScan leaf; LakePruneRule (SparkSessionExtensions) sees the pushed
    // WHERE during optimization and plans only the parts whose zone
    // intervals overlap the range — PlanSpec asserts the leaf count.
    Gate("lake_sql_zone_pruning", (s, dir) => {
      val db = new Database(s)
      db.register("orders_zoned", Fixtures.ordersZoneLake(s, dir))
      db.executeSql(
        """SELECT COUNT(*) AS n,
          |       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS total
          |FROM orders_zoned WHERE o_orderkey BETWEEN 1000 AND 2000""".stripMargin)
    }, Sql(
      s"""SELECT COUNT(*) AS n, ${osum("o_totalprice")} AS total
         |FROM orders WHERE o_orderkey BETWEEN 1000 AND 2000""".stripMargin)),

    // Partition-value + bucket-id equality through the SQL surface: the rule
    // prunes on BOTH axes from the catalog (no I/O) before Catalyst plans.
    Gate("lake_sql_part_pruning", (s, dir) => {
      val db = new Database(s)
      db.register("lineitem_lake", Fixtures.lineitemLake(s, dir))
      db.executeSql(
        """SELECT COUNT(*) AS n,
          |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,2))) AS DOUBLE) AS total
          |FROM lineitem_lake
          |WHERE l_returnflag = 'R' AND l_partkey = 1042""".stripMargin)
    }, Sql(
      s"""SELECT COUNT(*) AS n, ${osum("l_extendedprice")} AS total
         |FROM lineitem WHERE l_returnflag = 'R' AND l_partkey = 1042""".stripMargin)),

    // IN-list pruning through the SQL surface: the rule prunes per listed
    // VALUE (disjunction over all axes), so the parts between the two listed
    // batches are skipped — a covering interval would scan them.
    Gate("lake_sql_in_pruning", (s, dir) => {
      val db = new Database(s)
      db.register("orders_zoned_in", Fixtures.ordersZoneLake4(s, dir))
      db.executeSql(
        """SELECT COUNT(*) AS n,
          |       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS total
          |FROM orders_zoned_in WHERE o_batch IN (0, 3)""".stripMargin)
    }, Sql(
      // o_batch = trunc(o_orderkey / 4000) — orderkeys are positive, so FLOOR
      // mirrors Spark's double-division + int cast truncation exactly.
      s"""SELECT COUNT(*) AS n, ${osum("o_totalprice")} AS total
         |FROM orders
         |WHERE CAST(FLOOR(o_orderkey / 4000.0) AS INT) IN (0, 3)""".stripMargin)),

    // OR-predicate pruning through the SQL surface: the rule expands the
    // disjunction into DNF branches and unions the per-branch kept part
    // sets, so only the two named batches' cells plan — the parts between
    // them are skipped (a conjunctive-only extraction would fall back to the
    // full union on any OR). PlanSpec asserts the leaf count.
    Gate("lake_sql_or_pruning", (s, dir) => {
      val db = new Database(s)
      db.register("orders_zoned_or", Fixtures.ordersZoneLake4(s, dir))
      db.executeSql(
        """SELECT COUNT(*) AS n,
          |       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS total
          |FROM orders_zoned_or WHERE o_batch = 0 OR o_batch = 3""".stripMargin)
    }, Sql(
      s"""SELECT COUNT(*) AS n, ${osum("o_totalprice")} AS total
         |FROM orders
         |WHERE CAST(FLOOR(o_orderkey / 4000.0) AS INT) = 0
         |   OR CAST(FLOOR(o_orderkey / 4000.0) AS INT) = 3""".stripMargin)),

    // Same lifecycle through Spark's built-in ORC writer/reader — the
    // format axis of StorageSpec is generic (parquet / csv / arrowipc /
    // orc), so a lake can live in whichever columnar format the estate
    // standardizes on; the oracle checks content fidelity against the
    // parquet original.
    Gate("lake_orc_roundtrip", (s, dir) => {
      val li = table(s, dir, "lineitem")
      val root = Files.createTempDirectory("graft_rt_orc").toString
      val ds = LakeDataset.fromDataFrame(s, li,
        partitionCols = Seq("l_returnflag"), bucketCols = Seq("l_partkey"),
        nBuckets = 5,
        storage = Some(graft.model.StorageSpec(root, format = "orc",
          compression = "zstd")))
      ds.toStorage()
      val back = LakeDataset.fromStorage(s, root)
      back.toDF.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("total"))
        .orderBy("l_returnflag")
    }, Sql(
      s"""SELECT l_returnflag, COUNT(*) AS n, ${osum("l_extendedprice")} AS total
         |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    // CSV lake: the remaining format axis (parquet/orc/arrowipc have their
    // own gates). Text format round-trips through the manifest DDL schema
    // (shortest-repr doubles reparse exactly; quoting covers embedded
    // delimiters); compression is per-file gzip.
    Gate("lake_csv_roundtrip", (s, dir) => {
      val li = table(s, dir, "lineitem")
      val root = Files.createTempDirectory("graft_rt_csv").toString
      val ds = LakeDataset.fromDataFrame(s, li,
        partitionCols = Seq("l_returnflag"), bucketCols = Seq("l_partkey"),
        nBuckets = 5,
        storage = Some(graft.model.StorageSpec(root, format = "csv",
          compression = "gzip")))
      ds.toStorage()
      val back = LakeDataset.fromStorage(s, root)
      back.toDF.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("total"))
        .orderBy("l_returnflag")
    }, Sql(
      s"""SELECT l_returnflag, COUNT(*) AS n, ${osum("l_extendedprice")} AS total
         |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    // Z-order clustering: orders binned by the interleaved quantile-rank
    // bits of (o_custkey, o_totalprice) — the catalog's per-bin zone
    // intervals are then tight on BOTH columns, so this 2-D range query
    // plans only the Z-curve regions the rectangle intersects (a layout
    // sorted by either column alone prunes only that column's dimension).
    // ClusteringSpec asserts the planned-cell counts per dimension.
    Gate("lake_zorder_pruning", (s, dir) => {
      val o = table(s, dir, "orders")
      val ds = Clustering.zorderLake(s, o,
        Seq("o_custkey", "o_totalprice"), bits = 6, nBins = 16).dataset
      ds.prunedByConstraints(Map.empty, Map(
          "o_custkey" -> (Some(100L), Some(500L)),
          "o_totalprice" -> (Some(50000.0), Some(150000.0))))
        .filter(col("o_custkey").between(100L, 500L) &&
          col("o_totalprice").between(50000.0, 150000.0))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
    }, Sql(
      s"""SELECT COUNT(*) AS n, ${osum("o_totalprice")} AS total
         |FROM orders
         |WHERE o_custkey BETWEEN 100 AND 500
         |  AND o_totalprice BETWEEN 50000 AND 150000""".stripMargin)),

    // Incrementally-maintained aggregate view: after the initial build the
    // base table is never rescanned — each insert folds a group-keyed
    // partial into the |groups|-sized state (decimal sums, so the merged
    // totals are bit-equal to the oracle's one-shot aggregate over the same
    // final contents regardless of batching).
    Gate("lake_mat_view", (s, dir) => {
      val o = table(s, dir, "orders")
      val base = o.filter(col("o_orderkey") % 3 === 0)
      val ds = LakeDataset.fromDataFrame(s, base, partitionCols = Seq("o_orderstatus"))
      val mv = MaterializedAgg.build(base, Seq("o_orderstatus"), Seq(
        MaterializedAgg.count("n"),
        MaterializedAgg.sumDecimal("o_totalprice", "total"),
        MaterializedAgg.min("o_totalprice", "mn"),
        MaterializedAgg.max("o_totalprice", "mx")))
      val d1 = o.filter(col("o_orderkey") % 3 === 1)
      ds.insert(d1); mv.applyInsert(d1)
      val d2 = o.filter(col("o_orderkey") % 3 === 2 && col("o_custkey") % 2 === 0)
      ds.insert(d2); mv.applyInsert(d2)
      mv.state
        .select(col("o_orderstatus"), col("n"),
          col("total").cast(DoubleType).as("total"), col("mn"), col("mx"))
        .orderBy("o_orderstatus")
    }, Sql(
      // Final view contents = base (%3=0) plus the two inserted deltas.
      s"""SELECT o_orderstatus, COUNT(*) AS n, ${osum("o_totalprice")} AS total,
         |       MIN(o_totalprice) AS mn, MAX(o_totalprice) AS mx
         |FROM orders
         |WHERE o_orderkey % 3 = 0 OR o_orderkey % 3 = 1
         |   OR (o_orderkey % 3 = 2 AND o_custkey % 2 = 0)
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // Incrementally-maintained equi-JOIN view (the join complement to
    // lake_mat_view's aggregate state): orders ⋈ customer kept current
    // through a fact-side insert, a dimension-side update, a delete, and a
    // join-key REASSIGNMENT — each folded from the touched-key delta alone:
    // stale output rows anti-join out by primary key, the touched rows
    // re-derive against the CURRENT other side, and neither base is ever
    // rescanned (rebuildCount stays 0). The oracle replays the same
    // mutation script as SQL CTEs and joins the final tables, so a missed
    // stale row, a double fold, or mishandled key movement hash-mismatches.
    Gate("mv_join_incremental", (s, dir) => {
      val o = table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey").as("custkey"),
          col("o_totalprice"))
      val c = table(s, dir, "customer")
        .select(col("c_custkey").as("custkey"), col("c_name"), col("c_acctbal"))
      var aCur = o.filter(col("o_orderkey") % 7 < 3)
      var bCur = c
      val view = MaterializedJoin.build(aCur, bCur,
        Seq("custkey"), Seq("o_orderkey"), Seq("custkey"))
      // fact-side insert
      val ins = o.filter(col("o_orderkey") % 7 === 3)
      aCur = aCur.unionByName(ins)
      view.refreshA(aCur, ins.select("o_orderkey"), bCur)
      // dimension-side update: every 10th customer's balance moves, and
      // every joined output row for those customers must follow
      val bTouched = bCur.filter(col("custkey") % 10 === 0).select("custkey")
      bCur = bCur.withColumn("c_acctbal",
        when(col("custkey") % 10 === 0, col("c_acctbal") + 100)
          .otherwise(col("c_acctbal")))
      view.refreshB(bCur, bTouched, aCur)
      // fact-side delete
      val del = aCur.filter(col("o_orderkey") % 5 === 0).select("o_orderkey")
      aCur = aCur.filter(col("o_orderkey") % 5 =!= 0)
      view.refreshA(aCur, del, bCur)
      // join-key reassignment: the old output row dies under the old
      // customer, the new one is born under custkey+1 (or vanishes if no
      // such customer exists — inner-join semantics, same as the oracle)
      val moved = aCur.filter(col("o_orderkey") % 11 === 3).select("o_orderkey")
      aCur = aCur.withColumn("custkey",
        when(col("o_orderkey") % 11 === 3, col("custkey") + 1)
          .otherwise(col("custkey")))
      view.refreshA(aCur, moved, bCur)
      assert(view.rebuildCount == 0, "mv_join_incremental must never rebuild")
      view.state
    }, Sql(
      // The final tables after the gate's whole mutation script (insert,
      // dimension update, delete, key reassignment), joined one-shot — the
      // incremental view must land on exactly this multiset.
      """WITH a0 AS (
        |  SELECT o_orderkey, o_custkey AS custkey, o_totalprice
        |  FROM orders WHERE o_orderkey % 7 < 3),
        |a1 AS (
        |  SELECT * FROM a0
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey AS custkey, o_totalprice
        |  FROM orders WHERE o_orderkey % 7 = 3),
        |a2 AS (SELECT * FROM a1 WHERE o_orderkey % 5 <> 0),
        |a3 AS (SELECT o_orderkey,
        |              CASE WHEN o_orderkey % 11 = 3 THEN custkey + 1
        |                   ELSE custkey END AS custkey,
        |              o_totalprice
        |       FROM a2),
        |b1 AS (SELECT c_custkey AS custkey, c_name,
        |              CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 100
        |                   ELSE c_acctbal END AS c_acctbal
        |       FROM customer)
        |SELECT custkey, o_orderkey, o_totalprice, c_name, c_acctbal
        |FROM a3 JOIN b1 USING (custkey)""".stripMargin)),

    // Row-level change feed: every mutation logs stamped image batches
    // (insert rows incl. the base commit, upsert PRE- and POST-images,
    // delete pre-images) into a log that is itself a lake table — one cell
    // per mutation, seq zones make tail reads incremental. The whole feed
    // content is SQL-derivable from orders.
    Gate("lake_change_feed", (s, dir) => {
      import graft.lake.TrackedLake
      val (t, _) = Fixtures.trackedOrders(s, dir)
      t.changesSince(0L)
        .groupBy(col(TrackedLake.OpCol).as("op"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy("op")
    }, Sql(
      // The feed's images, reconstructed relationally: I = the inserted
      // slice; U- = the matched (existing) upsert keys as they were; U+ =
      // every upsert key after the merge (+100); D = the deleted keys'
      // post-insert rows. Op codes sort in binary ('+' < '-') in both
      // engines.
      s"""WITH ch AS (
         |  SELECT 'I' AS op, o_totalprice FROM orders
         |  WHERE o_orderkey % 4 = 0 OR o_orderkey % 4 = 1
         |  UNION ALL
         |  SELECT 'U-', o_totalprice FROM orders
         |  WHERE o_orderkey % 4 = 0 AND o_custkey % 3 = 0
         |  UNION ALL
         |  SELECT 'U+', o_totalprice + 100 FROM orders
         |  WHERE o_custkey % 3 = 0 AND (o_orderkey % 4 = 0 OR o_orderkey % 4 = 2)
         |  UNION ALL
         |  SELECT 'D', o_totalprice FROM orders
         |  WHERE o_orderkey % 4 = 1 AND o_custkey % 5 = 0)
         |SELECT op, COUNT(*) AS n, ${osum("o_totalprice")} AS total
         |FROM ch GROUP BY op ORDER BY op""".stripMargin),
      prewarm = Some((s, dir) => { Fixtures.trackedOrders(s, dir); () })),

    // Time travel via the feed: the table AS OF the post-insert mark —
    // the later upsert (+100) and delete must NOT appear, which is exactly
    // what the oracle (original prices, no deletions) checks.
    Gate("lake_time_travel", (s, dir) => {
      val (t, mark) = Fixtures.trackedOrders(s, dir)
      t.tableAsOf(mark, Seq("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy("o_orderstatus")
    }, Sql(
      // As of the post-insert mark: base + insert, ORIGINAL prices, nothing
      // deleted.
      s"""SELECT o_orderstatus, COUNT(*) AS n, ${osum("o_totalprice")} AS total
         |FROM orders
         |WHERE o_orderkey % 4 = 0 OR o_orderkey % 4 = 1
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
      prewarm = Some((s, dir) => { Fixtures.trackedOrders(s, dir); () })),

    // Delta-style SQL time travel: a registered feed serves `FROM t
    // VERSION AS OF n` — the same reconstruction as lake_time_travel,
    // through the SQL surface.
    Gate("lake_sql_time_travel", (s, dir) => {
      val (t, mark) = Fixtures.trackedOrders(s, dir)
      val db = new Database(s)
      db.registerFeed("orders_feed", t, Seq("o_orderkey"))
      db.executeSql(
        s"""SELECT o_orderstatus, COUNT(*) AS n,
           |       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS total
           |FROM orders_feed VERSION AS OF $mark
           |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
    }, Sql(
      s"""SELECT o_orderstatus, COUNT(*) AS n, ${osum("o_totalprice")} AS total
         |FROM orders
         |WHERE o_orderkey % 4 = 0 OR o_orderkey % 4 = 1
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // DESCRIBE HISTORY: the feed's per-version audit summary through SQL
    // (operation kind + affected-row counts, newest first).
    Gate("lake_sql_history", (s, dir) => {
      val (t, _) = Fixtures.trackedOrders(s, dir)
      val db = new Database(s)
      db.registerFeed("orders_hist", t, Seq("o_orderkey"))
      db.executeSql("DESCRIBE HISTORY orders_hist")
    }, Sql(
      // The trackedOrders recipe's four versions, recomputed relationally:
      // base INSERT (%4=0), insert (%4=1), upsert (custkey%3=0 over %4 in
      // {0,2} — U+ counts include the new %4=2 keys), delete (%4=1 and
      // custkey%5=0).
      """SELECT CAST(1 AS BIGINT) AS version, 'INSERT' AS operation,
        |       (SELECT COUNT(*) FROM orders WHERE o_orderkey % 4 = 0) AS inserted,
        |       CAST(0 AS BIGINT) AS upserted, CAST(0 AS BIGINT) AS deleted
        |UNION ALL SELECT 2, 'INSERT',
        |       (SELECT COUNT(*) FROM orders WHERE o_orderkey % 4 = 1), 0, 0
        |UNION ALL SELECT 3, 'UPSERT', 0,
        |       (SELECT COUNT(*) FROM orders
        |        WHERE o_custkey % 3 = 0 AND (o_orderkey % 4 = 0 OR o_orderkey % 4 = 2)), 0
        |UNION ALL SELECT 4, 'DELETE', 0, 0,
        |       (SELECT COUNT(*) FROM orders
        |        WHERE o_orderkey % 4 = 1 AND o_custkey % 5 = 0)
        |ORDER BY version DESC""".stripMargin)),

    // RESTORE TABLE ... VERSION AS OF: audit-grade rollback through
    // logged mutations — the restored TABLE (not a reconstruction view)
    // must match the mark's state. Builds its own feed (the shared
    // trackedOrders fixture must stay unmutated).
    Gate("lake_sql_restore", (s, dir) => {
      val o = table(s, dir, "orders")
      val t = graft.lake.TrackedLake(s,
        LakeDataset.fromDataFrame(s, o.filter(col("o_orderkey") % 4 === 0),
          partitionCols = Seq("o_orderstatus")),
        logBase = true)
      val mark = t.insert(o.filter(col("o_orderkey") % 4 === 1))
      t.upsert(o.filter(col("o_custkey") % 3 === 0 &&
          (col("o_orderkey") % 4 === 0 || col("o_orderkey") % 4 === 2))
        .withColumn("o_totalprice", col("o_totalprice") + 100), Seq("o_orderkey"))
      t.delete(o.filter(col("o_orderkey") % 4 === 1 && col("o_custkey") % 5 === 0)
        .select("o_orderkey"), Seq("o_orderkey"))
      val db = new Database(s)
      db.registerFeed("orders_restore", t, Seq("o_orderkey"))
      db.executeDml(s"RESTORE TABLE orders_restore VERSION AS OF $mark")
      db.executeSql(
        """SELECT o_orderstatus, COUNT(*) AS n,
          |       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS total
          |FROM orders_restore
          |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
    }, Sql(
      s"""SELECT o_orderstatus, COUNT(*) AS n, ${osum("o_totalprice")} AS total
         |FROM orders
         |WHERE o_orderkey % 4 = 0 OR o_orderkey % 4 = 1
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // CTAS: CREATE TABLE ... PARTITIONED/BUCKETED ... AS <query> lays the
    // result out as a lake table and registers it — the layout axes are
    // live immediately (partition pruning on the very next query).
    Gate("lake_sql_ctas", (s, dir) => {
      val db = new Database(s)
      db.register("ctas_src",
        LakeDataset.fromDataFrame(s, table(s, dir, "orders")))
      db.executeDml(
        """CREATE TABLE ctas_t PARTITIONED BY (o_orderstatus)
          |BUCKETED BY (o_custkey, 4)
          |AS SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
          |   FROM ctas_src WHERE o_totalprice > 50000""".stripMargin)
      db.executeSql(
        """SELECT o_orderstatus, COUNT(*) AS n,
          |       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS total
          |FROM ctas_t GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
    }, Sql(
      s"""SELECT o_orderstatus, COUNT(*) AS n, ${osum("o_totalprice")} AS total
         |FROM orders WHERE o_totalprice > 50000
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // SHALLOW CLONE: an independent table over the SAME bytes (hard-linked
    // files, O(files) metadata ops, zero data copied — CatalogDdlSpec pins
    // shared inodes). Mutating the clone must not touch the source.
    Gate("lake_sql_clone", (s, dir) => {
      val srcRoot = Files.createTempDirectory("graft_clone_gate_src").toString
      val dstRoot = Files.createTempDirectory("graft_clone_gate_dst").toString
      val src = LakeDataset.fromDataFrame(s, table(s, dir, "orders"),
        partitionCols = Seq("o_orderstatus"),
        storage = Some(graft.model.StorageSpec(srcRoot)))
      src.toStorage()
      val db = new Database(s)
      db.register("clone_src_t", src)
      db.executeDml(s"CREATE TABLE clone_t SHALLOW CLONE clone_src_t LOCATION '$dstRoot'")
      db.executeDml("DELETE FROM clone_t WHERE o_orderkey % 3 = 0")
      db.executeSql(
        """SELECT 'clone' AS side, COUNT(*) AS n,
          |       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS total
          |FROM clone_t
          |UNION ALL
          |SELECT 'source' AS side, COUNT(*) AS n,
          |       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS total
          |FROM clone_src_t
          |ORDER BY side""".stripMargin)
    }, Sql(
      s"""SELECT 'clone' AS side, COUNT(*) AS n, ${osum("o_totalprice")} AS total
         |FROM orders WHERE o_orderkey % 3 <> 0
         |UNION ALL
         |SELECT 'source' AS side, COUNT(*) AS n, ${osum("o_totalprice")} AS total
         |FROM orders
         |ORDER BY side""".stripMargin)),

    // CHECK constraints: ALTER TABLE ADD CONSTRAINT validates existing
    // rows, then every ingest enforces at the write boundary — the
    // violating INSERT is rejected atomically (table unchanged), the
    // clean one lands.
    Gate("lake_sql_constraint", (s, dir) => {
      val db = new Database(s)
      db.register("chk_t",
        LakeDataset.fromDataFrame(s, table(s, dir, "orders")))
      db.executeDml(
        "ALTER TABLE chk_t ADD CONSTRAINT price_pos CHECK (o_totalprice >= 0)")
      try db.executeDml(
        """INSERT INTO chk_t VALUES
          |(9900001, 3, 'O', -10.0, TIMESTAMP '2031-01-01 00:00:00', '1-URGENT')""".stripMargin)
      catch { case _: IllegalArgumentException => () } // rejected by design
      db.executeDml(
        """INSERT INTO chk_t VALUES
          |(9900001, 3, 'O', 10.5, TIMESTAMP '2031-01-01 00:00:00', '1-URGENT')""".stripMargin)
      db.executeSql(
        """SELECT COUNT(*) AS n,
          |       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS total
          |FROM chk_t""".stripMargin)
    }, Sql(
      s"""SELECT COUNT(*) AS n, ${osum("o_totalprice")} AS total
         |FROM (SELECT o_totalprice FROM orders
         |      UNION ALL SELECT 10.5) t""".stripMargin)),

    // DESCRIBE DETAIL: one-row catalog metadata (layout axes, cell count,
    // exact row count) with ZERO file reads — the cell count and row count
    // come from the engine catalog, oracle-recomputed from the data.
    Gate("lake_sql_detail", (s, dir) => {
      val db = new Database(s)
      db.register("detail_t", LakeDataset.fromDataFrame(
        s, table(s, dir, "orders"), partitionCols = Seq("o_orderstatus")))
      db.executeSql("DESCRIBE DETAIL detail_t")
        .selectExpr("table_name", "format", "partition_columns",
          "num_cells", "num_rows")
    }, Sql(
      """SELECT 'detail_t' AS table_name, 'memory' AS format,
        |       'o_orderstatus' AS partition_columns,
        |       COUNT(DISTINCT o_orderstatus) AS num_cells,
        |       COUNT(*) AS num_rows
        |FROM orders""".stripMargin)),

    // SQL-managed materialized view: built once, maintained from each SQL
    // INSERT's batch alone (O(batch)+O(groups)), rebuilt on non-insert
    // mutations by the operator contract; the oracle recomputes the final
    // view relationally (base + inserted rows, minus the deleted slice).
    Gate("lake_sql_matview", (s, dir) => {
      val db = new Database(s)
      db.register("mv_base", LakeDataset.fromDataFrame(
        s, table(s, dir, "orders"), partitionCols = Seq("o_orderstatus")))
      db.executeDml(
        """CREATE MATERIALIZED VIEW mv_rev AS
          |SELECT o_orderstatus, COUNT(*) AS n, SUM(o_totalprice) AS total,
          |       MAX(o_custkey) AS max_cust, AVG(o_totalprice) AS mean
          |FROM mv_base GROUP BY o_orderstatus""".stripMargin)
      db.executeDml(
        """INSERT INTO mv_base VALUES
          |(9900101, 42, 'O', 1000.5, TIMESTAMP '2031-01-01 00:00:00', '1-URGENT')""".stripMargin)
      db.executeDml("DELETE FROM mv_base WHERE o_custkey % 9 = 0")
      db.executeSql(
        """SELECT o_orderstatus, n, CAST(total AS DOUBLE) AS total, max_cust, mean
          |FROM mv_rev ORDER BY o_orderstatus""".stripMargin)
    }, Sql(
      s"""SELECT o_orderstatus, COUNT(*) AS n,
         |       ${osum("o_totalprice")} AS total,
         |       MAX(o_custkey) AS max_cust,
         |       ${osum("o_totalprice")} / COUNT(o_totalprice) AS mean
         |FROM (SELECT o_orderstatus, o_totalprice, o_custkey FROM orders
         |      UNION ALL
         |      SELECT 'O', 1000.5, 42) t
         |WHERE o_custkey % 9 <> 0
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // SQL-managed incremental JOIN view: `CREATE MATERIALIZED VIEW ... AS
    // SELECT ... FROM f JOIN d USING (k)` maintained by the catalog through
    // every DML verb — INSERT appends its join output, predicate UPDATE /
    // DELETE recompute only the touched JOIN KEYS (riding the same
    // pre-state pin as the aggregate MVs), including a fact-side UPDATE
    // that MOVES rows to another key. rebuildCount is pinned 0 — the
    // incremental paths, not the escape hatch, do all the maintenance; the
    // oracle replays the script as CTEs and joins the final tables.
    Gate("lake_sql_matview_join", (s, dir) => {
      val db = new Database(s)
      val ordSlim = table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey").as("custkey"),
          col("o_totalprice"))
      db.register("mvj_f", LakeDataset.fromDataFrame(
        s, ordSlim.filter(col("o_orderkey") % 4 < 2)))
      db.register("mvj_d", LakeDataset.fromDataFrame(
        s, table(s, dir, "customer")
          .select(col("c_custkey").as("custkey"), col("c_name"),
            col("c_acctbal"))))
      db.register("mvj_src", LakeDataset.fromDataFrame(
        s, ordSlim.filter(col("o_orderkey") % 4 === 2)))
      db.executeDml(
        """CREATE MATERIALIZED VIEW mvj AS
          |SELECT custkey, o_orderkey, o_totalprice, c_name, c_acctbal
          |FROM mvj_f JOIN mvj_d USING (custkey)""".stripMargin)
      db.executeDml("INSERT INTO mvj_f SELECT * FROM mvj_src")
      db.executeDml(
        "UPDATE mvj_d SET c_acctbal = c_acctbal + 100 WHERE custkey % 10 = 0")
      db.executeDml("DELETE FROM mvj_f WHERE o_orderkey % 5 = 0")
      db.executeDml(
        "UPDATE mvj_f SET custkey = custkey + 1 WHERE o_orderkey % 11 = 3")
      assert(db.mvRebuildCount("mvj") == 0,
        "lake_sql_matview_join: maintenance must stay incremental")
      db.executeSql("SELECT * FROM mvj")
    }, Sql(
      // Same replay shape as mv_join_incremental, but over the SQL verbs'
      // script (base slice %4<2, insert %4=2).
      """WITH f0 AS (
        |  SELECT o_orderkey, o_custkey AS custkey, o_totalprice
        |  FROM orders WHERE o_orderkey % 4 < 2),
        |f1 AS (
        |  SELECT * FROM f0
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey AS custkey, o_totalprice
        |  FROM orders WHERE o_orderkey % 4 = 2),
        |f2 AS (SELECT * FROM f1 WHERE o_orderkey % 5 <> 0),
        |f3 AS (SELECT o_orderkey,
        |              CASE WHEN o_orderkey % 11 = 3 THEN custkey + 1
        |                   ELSE custkey END AS custkey,
        |              o_totalprice
        |       FROM f2),
        |d1 AS (SELECT c_custkey AS custkey, c_name,
        |              CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 100
        |                   ELSE c_acctbal END AS c_acctbal
        |       FROM customer)
        |SELECT custkey, o_orderkey, o_totalprice, c_name, c_acctbal
        |FROM f3 JOIN d1 USING (custkey)""".stripMargin)),

    // Column DDL: ADD COLUMN (plan-level, existing rows read NULL) →
    // populate via UPDATE → RENAME COLUMN → DROP COLUMN, then aggregate
    // through the evolved schema; the oracle recomputes relationally over
    // the original table.
    Gate("lake_sql_alter_columns", (s, dir) => {
      val db = new Database(s)
      db.register("alt_t", LakeDataset.fromDataFrame(
        s, table(s, dir, "orders"), partitionCols = Seq("o_orderstatus")))
      db.executeDml("ALTER TABLE alt_t ADD COLUMN price_tier STRING")
      db.executeDml(
        "UPDATE alt_t SET price_tier = CASE WHEN o_totalprice > 100000 " +
          "THEN 'high' ELSE 'low' END")
      db.executeDml("ALTER TABLE alt_t RENAME COLUMN o_orderpriority TO priority")
      db.executeDml("ALTER TABLE alt_t DROP COLUMN o_orderdate")
      db.executeSql(
        """SELECT price_tier, COUNT(*) AS n, MIN(priority) AS min_prio
          |FROM alt_t GROUP BY price_tier ORDER BY price_tier""".stripMargin)
    }, Sql(
      """SELECT CASE WHEN o_totalprice > 100000 THEN 'high' ELSE 'low' END
        |         AS price_tier,
        |       COUNT(*) AS n, MIN(o_orderpriority) AS min_prio
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),

    // SHOW PARTITIONS: the cell listing straight from the catalog — one row
    // per cell with its maintained row counter, zero jobs, zero file reads;
    // the oracle recomputes the same listing relationally.
    Gate("lake_sql_show_partitions", (s, dir) => {
      val db = new Database(s)
      db.register("sp_t", LakeDataset.fromDataFrame(
        s, table(s, dir, "orders"), partitionCols = Seq("o_orderstatus")))
      db.executeSql("SHOW PARTITIONS sp_t").orderBy("o_orderstatus")
    }, Sql(
      """SELECT o_orderstatus, COUNT(*) AS num_rows
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // ANALYZE TABLE: a predicate delete leaves the touched cells unable to
    // vouch for tight stats (metadata aggregates fail open to a scan);
    // ANALYZE recomputes them with a read pass — no rewrite — and the
    // count/min/max family collapses to the catalog again (StatsSpec pins
    // the plan; here the values are oracle-checked).
    Gate("lake_sql_analyze", (s, dir) => {
      val db = new Database(s)
      db.register("an_t", LakeDataset.fromDataFrame(
        s, table(s, dir, "orders"), partitionCols = Seq("o_orderstatus")))
      db.executeDml("DELETE FROM an_t WHERE o_custkey % 7 = 0")
      db.executeDml("ANALYZE TABLE an_t COMPUTE STATISTICS")
      db.executeSql(
        """SELECT COUNT(*) AS n, MIN(o_custkey) AS mn, MAX(o_custkey) AS mx
          |FROM an_t""".stripMargin)
    }, Sql(
      """SELECT COUNT(*) AS n, MIN(o_custkey) AS mn, MAX(o_custkey) AS mx
        |FROM orders WHERE o_custkey % 7 <> 0""".stripMargin)),

    // OPTIMIZE t ZORDER BY (...): the clustering layout as a SQL verb —
    // rebuild, re-register, and answer a range aggregate that the new
    // layout serves with multi-dimension pruning (plan pinned in DmlSpec).
    Gate("lake_sql_zorder", (s, dir) => {
      val db = new Database(s)
      db.register("orders_zo",
        LakeDataset.fromDataFrame(s, table(s, dir, "orders")))
      db.executeDml("OPTIMIZE orders_zo ZORDER BY (o_custkey, o_totalprice)")
      db.executeSql(
        """SELECT COUNT(*) AS n,
          |       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS total
          |FROM orders_zo
          |WHERE o_custkey BETWEEN 100 AND 300""".stripMargin)
    }, Sql(
      s"""SELECT COUNT(*) AS n, ${osum("o_totalprice")} AS total
         |FROM orders WHERE o_custkey BETWEEN 100 AND 300""".stripMargin)),

    // SCD Type-2 dimension history from the feed: one interval row per
    // state, one window pass over the log. The report aggregates interval
    // counts + the CURRENT slice's prices per status; the oracle derives
    // both from orders and the fixture's known mutation recipe.
    Gate("lake_scd2", (s, dir) => {
      val (t, _) = Fixtures.trackedOrders(s, dir)
      val h = t.scdHistory(Seq("o_orderkey"))
      h.groupBy("o_orderstatus")
        .agg(
          count(lit(1)).as("n_hist"),
          sum(when(col("_current"), 1L).otherwise(0L)).as("n_current"),
          dsum(when(col("_current"), col("o_totalprice"))).as("total_current"))
        .orderBy("o_orderstatus")
    }, Sql(
      // SCD2 intervals from the fixture recipe: base %4=0 images (closed
      // where the upsert re-imaged them), the upsert's post-images (all
      // current), inserted %4=1 rows (closed where the delete hit).
      s"""WITH hist AS (
         |  SELECT o_orderstatus, o_totalprice AS p,
         |         CASE WHEN o_custkey % 3 = 0 THEN 0 ELSE 1 END AS cur
         |  FROM orders WHERE o_orderkey % 4 = 0
         |  UNION ALL
         |  SELECT o_orderstatus, o_totalprice + 100, 1
         |  FROM orders
         |  WHERE o_custkey % 3 = 0 AND (o_orderkey % 4 = 0 OR o_orderkey % 4 = 2)
         |  UNION ALL
         |  SELECT o_orderstatus, o_totalprice,
         |         CASE WHEN o_custkey % 5 = 0 THEN 0 ELSE 1 END
         |  FROM orders WHERE o_orderkey % 4 = 1)
         |SELECT o_orderstatus, COUNT(*) AS n_hist,
         |       CAST(SUM(cur) AS BIGINT) AS n_current,
         |       ${osum("CASE WHEN cur = 1 THEN p END")} AS total_current
         |FROM hist GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
      prewarm = Some((s, dir) => { Fixtures.trackedOrders(s, dir); () })),

    // Streaming feed consumer: a Structured Streaming file source tails
    // the DURABLE feed's log root (each mutation = one new cell
    // directory), delivering every image row through a real streaming
    // query — the same feed content the batch reader sees, so the
    // lake_change_feed oracle applies verbatim.
    Gate("feed_stream_read", (s, dir) => {
      import graft.lake.TrackedLake
      val t = Fixtures.streamedOrders(s, dir)
      s.catalog.dropTempView("graft_feed_stream")
      val q = t.streamChanges().writeStream
        .format("memory").queryName("graft_feed_stream")
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      s.table("graft_feed_stream")
        .groupBy(col(TrackedLake.OpCol).as("op"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy("op")
    }, Sql(
      // The streaming tail delivers the same feed content as the batch
      // reader — the lake_change_feed reconstruction applies verbatim.
      s"""WITH ch AS (
         |  SELECT 'I' AS op, o_totalprice FROM orders
         |  WHERE o_orderkey % 4 = 0 OR o_orderkey % 4 = 1
         |  UNION ALL
         |  SELECT 'U-', o_totalprice FROM orders
         |  WHERE o_orderkey % 4 = 0 AND o_custkey % 3 = 0
         |  UNION ALL
         |  SELECT 'U+', o_totalprice + 100 FROM orders
         |  WHERE o_custkey % 3 = 0 AND (o_orderkey % 4 = 0 OR o_orderkey % 4 = 2)
         |  UNION ALL
         |  SELECT 'D', o_totalprice FROM orders
         |  WHERE o_orderkey % 4 = 1 AND o_custkey % 5 = 0)
         |SELECT op, COUNT(*) AS n, ${osum("o_totalprice")} AS total
         |FROM ch GROUP BY op ORDER BY op""".stripMargin),
      prewarm = Some((s, dir) => { Fixtures.streamedOrders(s, dir); () })),

    // CDC replication: a streaming query applies the feed to an initially
    // EMPTY replica lake (inserts/post-images merge by key, deletes
    // anti-join out, in seq order) — the replica must equal the source
    // table's final state, which the oracle derives from orders directly.
    Gate("feed_replicate", (s, dir) => {
      val t = Fixtures.streamedOrders(s, dir)
      val replica = LakeDataset.fromDataFrame(s,
        table(s, dir, "orders").limit(0),
        partitionCols = Seq("o_orderstatus"))
      val q = t.streamChanges().writeStream
        .foreachBatch(graft.streaming.StreamingIngest
          .applyFeedBatches(replica, Seq("o_orderkey")))
        .start()
      try q.processAllAvailable() finally q.stop()
      replica.toDF.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy("o_orderstatus")
    }, Sql(
      // The replica equals the source's final state: %4=0 base rows (+100
      // where the upsert matched), %4=1 inserted rows minus the deleted
      // slice, %4=2 rows the upsert created (+100).
      s"""WITH st AS (
         |  SELECT o_orderstatus,
         |         o_totalprice + CASE WHEN o_custkey % 3 = 0 THEN 100 ELSE 0 END AS p
         |  FROM orders WHERE o_orderkey % 4 = 0
         |  UNION ALL
         |  SELECT o_orderstatus, o_totalprice FROM orders
         |  WHERE o_orderkey % 4 = 1 AND o_custkey % 5 <> 0
         |  UNION ALL
         |  SELECT o_orderstatus, o_totalprice + 100 FROM orders
         |  WHERE o_orderkey % 4 = 2 AND o_custkey % 3 = 0)
         |SELECT o_orderstatus, COUNT(*) AS n, ${osum("p")} AS total
         |FROM st GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
      prewarm = Some((s, dir) => { Fixtures.streamedOrders(s, dir); () })),

    // Log checkpoint: the prefix (base commit + insert) collapsed into ONE
    // base cell BEFORE the upsert/delete landed; reconstructing the final
    // state composes the base cell with the post-checkpoint tail across
    // the boundary. The oracle derives the same final state from orders
    // directly — matched upsert keys (+100), new upsert keys inserted
    // (+100), deleted keys absent.
    Gate("lake_feed_checkpoint", (s, dir) => {
      val t = Fixtures.checkpointedOrders(s, dir)
      t.tableAsOf(t.currentSeq, Seq("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy("o_orderstatus")
    }, Sql(
      // Final state across the checkpoint boundary: %4=0 base rows (+100
      // where the upsert matched), %4=1 inserted rows minus the deleted
      // slice, %4=2 rows the upsert created (+100).
      s"""WITH st AS (
         |  SELECT o_orderstatus,
         |         o_totalprice + CASE WHEN o_custkey % 3 = 0 THEN 100 ELSE 0 END AS p
         |  FROM orders WHERE o_orderkey % 4 = 0
         |  UNION ALL
         |  SELECT o_orderstatus, o_totalprice FROM orders
         |  WHERE o_orderkey % 4 = 1 AND o_custkey % 5 <> 0
         |  UNION ALL
         |  SELECT o_orderstatus, o_totalprice + 100 FROM orders
         |  WHERE o_orderkey % 4 = 2 AND o_custkey % 3 = 0)
         |SELECT o_orderstatus, COUNT(*) AS n, ${osum("p")} AS total
         |FROM st GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
      prewarm = Some((s, dir) => { Fixtures.checkpointedOrders(s, dir); () }))
  )
}
