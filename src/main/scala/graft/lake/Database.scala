package graft.lake

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{EliminateSubqueryAliases, RelationTimeTravel,
  UnresolvedAttribute, UnresolvedFunction, UnresolvedIdentifier, UnresolvedRelation,
  UnresolvedStar, UnresolvedTable, UnresolvedTableOrView}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, ConstraintCharacteristic, EqualTo,
  Expression, Literal}
import org.apache.spark.sql.catalyst.parser.ParseException
import org.apache.spark.sql.catalyst.plans.{Inner, UsingJoin}
import org.apache.spark.sql.catalyst.plans.logical.{AddCheckConstraint, AddColumns,
  Aggregate, AlterTableCommand, AnalyzeTable, Assignment, CreateMaterializedViewAsSelect,
  CreateTableAsSelect, DeleteAction, DeleteFromTable, DropColumns, DropConstraint, DropTable,
  InsertIntoStatement, InsertStarAction, Join, LogicalPlan, MergeIntoTable, Project,
  RenameColumn, RenameTable, SubqueryAlias, TruncateTable, UnresolvedWith, UpdateStarAction,
  UpdateTable}
import org.apache.spark.sql.graftbridge.Bridge

import graft.model.TableName

/** Named-table catalog + SQL execution — the Spark re-expression of the
  * reference's `Database` (reference: src/database.rs:27-63).
  *
  * The reference rebuilds a fresh SQLContext per query, re-registering every
  * table's union view (src/database.rs:42-48). That is O(tables) per query;
  * we instead refresh a table's temp view when the table MUTATES (register /
  * insert / upsert / materialize all call [[refresh]]), so query planning
  * pays nothing extra.
  */
final class Database(val spark: SparkSession) {

  private val tables = TrieMap[String, LakeDataset]()
  private val feeds = TrieMap[String, (TrackedLake, Seq[String])]()

  /** Register a dataset under a name and expose it to SQL
    * (reference `Database::register`, src/database.rs:37-40).
    */
  def register(name: TableName, ds: LakeDataset): Unit = {
    tables.put(name.handle, ds)
    refresh(name.handle)
  }

  def register(name: String, ds: LakeDataset): Unit =
    register(TableName("public", name), ds)

  def get(name: String): Option[LakeDataset] = tables.get(name)

  /** Register a change-feed-tracked table: the CURRENT state is queryable
    * under `name` like any registered table, and the SQL surface
    * additionally serves Delta-style time travel — `FROM name VERSION AS
    * OF <seq>` reconstructs the state at that mark from the feed's log
    * ([[TrackedLake.tableAsOf]]; exact under its full-history contract).
    * `keys` are the feed's mutation keys.
    */
  def registerFeed(name: String, feed: TrackedLake, keys: Seq[String]): Unit = {
    feeds.put(name, (feed, keys))
    register(name, feed.table)
  }

  /** Spark's own SQL parser: a statement becomes a typed plan, so quoted
    * text, comments and nested parentheses never confuse its structure.
    */
  private def parse(sql: String): LogicalPlan =
    spark.sessionState.sqlParser.parsePlan(sql)

  /** A parsed query as a DataFrame. `name VERSION AS OF n` over a
    * registered feed reads the feed's reconstruction at mark n under the
    * feed's name; other names pass through (Spark then reports them as it
    * would any time travel it cannot serve). Plan-only — the
    * reconstruction runs when the query does, pruned to the log cells at
    * or below the mark.
    */
  private def planDf(plan: LogicalPlan): DataFrame =
    Bridge.ofRows(spark, if (feeds.isEmpty) plan else timeTravel(plan))

  private def timeTravel(plan: LogicalPlan): LogicalPlan = plan.transformUpWithSubqueries {
    case RelationTimeTravel(UnresolvedRelation(Seq(n), _, _), None, Some(v))
        if feeds.contains(n) =>
      val (feed, keys) = feeds(n)
      SubqueryAlias(n, feed.tableAsOf(v.toLong, keys).queryExecution.analyzed)
    // CTE bodies are not children of their WITH node.
    case w: UnresolvedWith => w.copy(cteRelations = w.cteRelations.map {
      case (n, q, depth) => (n, timeTravel(q).asInstanceOf[SubqueryAlias], depth)
    })
  }

  /** A read statement: exactly `spark.sql` while no feed is registered. */
  private def readSql(sql: String): DataFrame =
    if (feeds.isEmpty) spark.sql(sql) else planDf(parse(sql))

  /** (Re-)register the table's SQL view. The view plan is ONE
    * `graft.plans.LakeScan` leaf that `LakePruneRule` resolves to the
    * engine-pruned, always-CURRENT scan at each query's optimization — so
    * `spark.sql` sees every mutation without per-mutation refresh calls, and
    * a `WHERE` on partition/bucket/zone columns plans only the parts that
    * can match (the fixed union-of-parts plan the view used to capture gave
    * SQL none of the engine's pruning). Re-registration is only needed when
    * the table's SCHEMA changes (the leaf's attributes are fixed at
    * registration); mutation paths keep calling it — it is plan-only, no
    * jobs.
    */
  def refresh(name: String): Unit =
    tables.get(name).foreach(_.scanDF.createOrReplaceTempView(name))

  private val DescribeHistoryRe =
    """(?is)^\s*DESCRIBE\s+HISTORY\s+([A-Za-z_][\w]*)\s*;?\s*$""".r
  private val ShowTablesRe = """(?is)^\s*SHOW\s+TABLES\s*;?\s*$""".r
  private val ShowPartitionsRe =
    """(?is)^\s*SHOW\s+PARTITIONS\s+([A-Za-z_][\w]*)\s*;?\s*$""".r
  private val DescribeDetailRe =
    """(?is)^\s*DESCRIBE\s+DETAIL\s+([A-Za-z_][\w]*)\s*;?\s*$""".r
  private val ShowStatsRe =
    """(?is)^\s*SHOW\s+STATS\s+(?:FOR\s+)?([A-Za-z_][\w]*)\s*;?\s*$""".r
  private val ShowOverlapRe =
    """(?is)^\s*SHOW\s+OVERLAP\s+([A-Za-z_][\w]*)\s*\.\s*([A-Za-z_][\w]*)\s+BY\s+([A-Za-z_][\w]*)\s*;?\s*$""".r
  private val ShowNetNewRe =
    """(?is)^\s*SHOW\s+NETNEW\s+([A-Za-z_][\w]*)\s*\.\s*([A-Za-z_][\w]*)\s+BY\s+([A-Za-z_][\w]*)\s*;?\s*$""".r
  private val ShowDriftRe =
    """(?is)^\s*SHOW\s+DRIFT\s+([A-Za-z_][\w]*)\s+VS\s+([A-Za-z_][\w]*)\s*\(\s*([A-Za-z_][\w]*(?:\s*,\s*[A-Za-z_][\w]*)*)\s*\)\s*;?\s*$""".r
  private val QcutRe =
    """(?is)^\s*QCUT\s+([A-Za-z_][\w]*)\s*\.\s*([A-Za-z_][\w]*)\s+INTO\s+(\d+)\s+TIE\s+BY\s+([A-Za-z_][\w]*)\s*;?\s*$""".r
  private val TopkRe =
    """(?is)^\s*TOPK\s+(\d+)\s+PER\s+([A-Za-z_][\w]*)\s*\.\s*([A-Za-z_][\w]*)\s+ORDER\s+BY\s+([A-Za-z_][\w]*)\s*(DESC)?\s*(?:TIE\s+BY\s+([A-Za-z_][\w]*))?\s*;?\s*$""".r

  /** Catalog listing: every registered table, its layout axes and cell
    * count — all driver-side metadata, zero jobs.
    */
  private def showTables: DataFrame = {
    import spark.implicits._
    tables.toSeq.sortBy(_._1).map { case (name, d) =>
      (name, feeds.contains(name), d.numParts.toLong)
    }.toDF("table_name", "is_feed", "num_cells")
  }

  /** Cell listing from the CATALOG: one row per partition×bucket cell with
    * its maintained row counter (NULL when the counter is unknown — never
    * a stale number, and never a triggered recount: listing 10k cells must
    * stay a driver-side metadata walk, zero jobs).
    */
  private def showPartitions(name: String): DataFrame = {
    import org.apache.spark.sql.types._
    val d = tables.getOrElse(name,
      throw new IllegalArgumentException(s"unknown lake table '$name'"))
    require(d.partitionCols.nonEmpty || d.bucketCols.nonEmpty,
      s"table '$name' has no partition or bucket layout")
    val pCols = d.partitionCols.sorted
    val bucketed = d.bucketCols.nonEmpty
    val schema = StructType(
      pCols.map(c => StructField(c, StringType)) ++
        (if (bucketed) Seq(StructField("bucket", IntegerType)) else Nil) :+
        StructField("num_rows", LongType))
    val rows = d.partKeys.map { k =>
      val pv = k.partValues.toMap
      val n = d.part(k).map(_.rows.get).getOrElse(-1L)
      org.apache.spark.sql.Row.fromSeq(
        pCols.map(pv.getOrElse(_, null)) ++
          (if (bucketed) Seq(k.bucketNr.map(Int.box).orNull) else Nil) :+
          (if (n >= 0L) java.lang.Long.valueOf(n) else null))
    }
    spark.createDataFrame(new java.util.ArrayList(rows.asJava), schema)
  }

  /** One-row table detail (Delta's DESCRIBE DETAIL shape): layout axes,
    * format, cell count, exact row count when the catalog can vouch for it
    * (NULL otherwise — never a stale number), constraint count. Metadata
    * only — zero file reads.
    */
  private def describeDetail(name: String): DataFrame = {
    import spark.implicits._
    val d = tables.getOrElse(name,
      throw new IllegalArgumentException(s"unknown lake table '$name'"))
    Seq((name,
      d.storage.map(_.format).getOrElse("memory"),
      d.storage.map(_.root).orNull,
      d.partitionCols.mkString(","),
      d.bucketCols.mkString(","),
      d.nBuckets.toLong,
      d.numParts.toLong,
      d.knownRowsOption.map(java.lang.Long.valueOf).orNull,
      d.checks.size.toLong,
      feeds.contains(name)))
      .toDF("table_name", "format", "location", "partition_columns",
        "bucket_columns", "num_buckets", "num_cells", "num_rows",
        "num_constraints", "is_feed")
  }

  /** `SHOW OVERLAP t.col BY partitionCol` — the zero-scan segment-overlap
    * matrix ([[LakeDataset.metaPartitionOverlap]]) as a SQL verb: one row
    * per unordered partition-value pair with HLL distinct counts and the
    * inclusion-exclusion overlap estimate, folded from the catalog with
    * no Spark jobs. Refuses loudly (rather than answering from a scan)
    * when the column is untracked or the stats are untight — the verb's
    * contract IS the zero-scan answer.
    */
  private def showOverlap(name: String, c: String, partitionCol: String): DataFrame = {
    val d = tables.getOrElse(name,
      throw new IllegalArgumentException(s"unknown lake table '$name'"))
    val m = d.metaPartitionOverlap(c, partitionCol).getOrElse(
      throw new IllegalArgumentException(
        s"SHOW OVERLAP needs '$c' sketch-tracked, '$partitionCol' a partition " +
          s"column, and tight stats on every part of '$name' (run ANALYZE)"))
    import spark.implicits._
    m.toDF("value_a", "value_b", "approx_distinct_a", "approx_distinct_b",
      "approx_overlap")
  }

  /** `SHOW NETNEW t.col BY partitionCol` — net-new uniques per partition
    * value in value order ([[LakeDataset.metaPartitionNetNew]]): the
    * "how many users did each day ADD" dashboard from the catalog's theta
    * twins alone (A-not-B set algebra, no Spark jobs). Refuses loudly when
    * the column is untracked, stats are untight, or the manifest predates
    * the theta twins — the verb's contract IS the zero-scan answer.
    */
  private def showNetNew(name: String, c: String, partitionCol: String): DataFrame = {
    val d = tables.getOrElse(name,
      throw new IllegalArgumentException(s"unknown lake table '$name'"))
    val m = d.metaPartitionNetNew(c, partitionCol).getOrElse(
      throw new IllegalArgumentException(
        s"SHOW NETNEW needs '$c' sketch-tracked with theta twins, " +
          s"'$partitionCol' a partition column, and tight stats on every " +
          s"part of '$name' (run ANALYZE)"))
    import spark.implicits._
    m.toDF("value", "approx_distinct", "approx_net_new")
  }

  /** `SHOW STATS [FOR] t` — one row per table column, every maintained
    * statistic family folded from the CATALOG alone (zero scan jobs, zero
    * file reads): exact row/non-null counts, min/max (zones), exact sums,
    * HLL approx-distinct, GK approx p50/p95, MG top values (rendered
    * `v:count` when certified exact, `v:lo..hi` otherwise). A cell is NULL
    * when its
    * family cannot vouch — untracked column, untight part, inapplicable
    * type — never stale or approximate-without-saying-so (the two approx
    * families are named approx_*). min/max/sum render as strings: one
    * output schema across column types.
    */
  private def showStats(name: String): DataFrame = {
    import org.apache.spark.sql.types._
    val d = tables.getOrElse(name,
      throw new IllegalArgumentException(s"unknown lake table '$name'"))
    val schema = d.tableSchema
    import StatFamily._
    // ONE catalog snapshot for every family, so a concurrent write cannot
    // mix two table versions into the output.
    val whole = d.fold().map(_.whole)
    def answer[T](f: StatFamily[_, _], keep: String => Boolean = _ => true)(
        q: (CellGroup, Seq[String]) => Option[T]): Option[T] = {
      val cs = f.cols(d, schema).filter(keep)
      if (cs.isEmpty) None else whole.flatMap(q(_, cs))
    }
    val zones = answer(Zones)(_.zones(_))
    // Exact sums only: a floating column's exact decimal is not its SUM.
    val sums = answer(Sums, c => SumMap.exact(schema(c).dataType))(_.sums(_))
    val dist = answer(Sketches)(_.approxDistinct(_))
    val quants = answer(Quantiles)(_.quantiles(_, Seq(0.5, 0.95)))
    val tops = answer(Freqs)(_.topK(_, 5))
    val nRows: java.lang.Long =
      zones.map(z => Long.box(z._1))
        .orElse(d.knownRowsOption.map(Long.box)).orNull
    val out = schema.fields.toSeq.map { f =>
      val c = f.name
      val z = zones.flatMap(_._2.get(c))
      val cs = sums.flatMap(_._2.get(c))
      val qv = quants.flatMap(_.get(c))
      org.apache.spark.sql.Row(
        c, nRows,
        cs.map(x => Long.box(x.nonNulls)).orNull,
        z.flatMap(_.min).map(_.toString).orNull,
        z.flatMap(_.max).map(_.toString).orNull,
        cs.map(_.sum.toPlainString).orNull,
        dist.flatMap(_.get(c)).map(Long.box).orNull,
        qv.map(v => Double.box(v.head)).orNull,
        qv.map(v => Double.box(v(1))).orNull,
        tops.flatMap(_.get(c)).map(_.map {
          // exact counts render bare; certified ranges show their bound
          case (v, lo, hi, true) => s"$v:$lo"
          case (v, lo, hi, false) => s"$v:$lo..$hi"
        }.mkString(", ")).orNull)
    }
    val outSchema = StructType(Seq(
      StructField("column", StringType, nullable = false),
      StructField("n_rows", LongType),
      StructField("non_nulls", LongType),
      StructField("min_value", StringType),
      StructField("max_value", StringType),
      StructField("sum_value", StringType),
      StructField("approx_distinct", LongType),
      StructField("approx_p50", DoubleType),
      StructField("approx_p95", DoubleType),
      StructField("top_values", StringType)))
    spark.createDataFrame(new java.util.ArrayList(out.asJava), outSchema)
  }

  /** `EXPLAIN PRUNING <select>` — did the engine's catalog actually prune
    * this query? One row per referenced lake table: its total catalog
    * parts, plus the query-level leaf count AFTER optimization (the pruned
    * part union, pushed-filter file scans, or a single LocalRelation when
    * a metadata rewrite collapsed the whole aggregate — `collapsed` true).
    * Plan-only: nothing executes, no jobs run. The operational check for
    * "my WHERE should touch 3 partitions, why is this slow" — at 10k parts
    * the difference between `leaves_planned = 3` and `= 10000` IS the
    * incident.
    */
  private def explainPruning(sql: String): DataFrame = {
    import org.apache.spark.sql.types._
    val df = readSql(sql)
    val scans = df.queryExecution.analyzed.collect {
      case s: graft.plans.LakeScan => s.ds
    }.distinct
    val leaves = df.queryExecution.optimizedPlan.collectLeaves()
    val planned = leaves.size.toLong
    val collapsed = leaves.nonEmpty && leaves.forall(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    val rows = scans.map { ds =>
      val name = tables.collectFirst { case (n, d) if d eq ds => n }.orNull
      org.apache.spark.sql.Row(name, Long.box(ds.numParts.toLong),
        Long.box(planned), Boolean.box(collapsed))
    } match {
      case Nil => // no lake table referenced: one query-level row
        Seq(org.apache.spark.sql.Row(null, null, Long.box(planned),
          Boolean.box(collapsed)))
      case rs => rs
    }
    val schema = StructType(Seq(
      StructField("table", StringType),
      StructField("parts_total", LongType),
      StructField("leaves_planned", LongType),
      StructField("collapsed", BooleanType, nullable = false)))
    spark.createDataFrame(
      new java.util.ArrayList(scala.jdk.CollectionConverters
        .SeqHasAsJava(rows.toSeq).asJava), schema)
  }

  private val ExplainPruningRe = """(?is)\s*EXPLAIN\s+PRUNING\s+(.+)""".r

  /** Execute one SQL statement (reference `Database::execute_sql`,
    * src/database.rs:50-56). Lazy — returns the planned DataFrame.
    * Registered feeds additionally serve `FROM t VERSION AS OF n` and
    * `DESCRIBE HISTORY t` ([[registerFeed]]).
    */
  def executeSql(sql: String): DataFrame = sql match {
    case ExplainPruningRe(inner) => explainPruning(inner)
    case DescribeHistoryRe(t) if feeds.contains(t) => feeds(t)._1.history
    case ShowTablesRe() => showTables
    case ShowPartitionsRe(t) if tables.contains(t) => showPartitions(t)
    case DescribeDetailRe(t) if tables.contains(t) => describeDetail(t)
    case ShowStatsRe(t) if tables.contains(t) => showStats(t)
    case ShowOverlapRe(t, c, p) if tables.contains(t) => showOverlap(t, c, p)
    case ShowNetNewRe(t, c, p) if tables.contains(t) => showNetNew(t, c, p)
    case ShowDriftRe(a, b, cs) if tables.contains(a) && tables.contains(b) =>
      graft.operators.Stats.driftStats(spark, tables(a), tables(b),
        cs.split(",").map(_.trim).toSeq)
    // `QCUT t.col INTO k TIE BY id` — exact equal-count quantile binning
    // (the curation stratifier) as a catalog verb: the table's rows plus a
    // `bin` column 1..k, computed by the range-partitioned distributed
    // rank (never a single-partition ntile sort).
    case QcutRe(t, c, k, tie) if tables.contains(t) =>
      graft.operators.DataQuality.qcut(tables(t).toDF, c, k.toInt, Seq(tie))
    // `TOPK k PER t.group ORDER BY col [DESC] [TIE BY id]` — the per-group
    // curation cap as a verb; WindowGroupLimit pushes the k-bound into the
    // shuffle, so map tasks ship k rows per group, never the group.
    case TopkRe(k, t, g, o, desc, tie) if tables.contains(t) =>
      import org.apache.spark.sql.functions.col
      val ord0 = if (desc == null) col(o) else col(o).desc
      val ord = if (tie == null) Seq(ord0) else Seq(ord0, col(tie))
      graft.operators.Sampling.topKPerGroup(tables(t).toDF, Seq(g), ord, k.toInt)
    case _ => readSql(sql)
  }

  /** Execute a batch of SQL statements: dedupe identical strings, run the
    * distinct ones concurrently on the shared session (reference
    * `Database::execute_sqls` + polars `collect_all` CSE,
    * src/database.rs:58-63), each through [[executeSql]] — the batch
    * serves the same SQL surface as one statement. Spark's scheduler
    * interleaves the jobs; with `spark.scheduler.mode=FAIR` they
    * time-share the cluster.
    */
  def executeSqls(sqls: Seq[String])(implicit ec: ExecutionContext): Map[String, Array[org.apache.spark.sql.Row]] = {
    val distinct = sqls.distinct
    val futures = distinct.map(s => s -> Future(executeSql(s).collect()))
    futures.map { case (s, f) => s -> Await.result(f, Duration.Inf) }.toMap
  }

  /** Multi-table ATOMIC transaction: every engine mutation the body
    * performs on the named tables either fully applies or — on any
    * exception out of the body — fully rolls back, across ALL of them.
    * This is the cross-table atomicity mainstream lakehouse formats stop
    * short of (their commit protocols are single-table): a debit-credit
    * pair, a fact+dimension co-ingest, or a delete-then-reinsert migration
    * lands as one unit or not at all.
    *
    * Mechanics: each named dataset's monitor is acquired in CREATION-RANK
    * order (one global order even under aliasing — concurrent transactions
    * cannot deadlock)
    * and held for the whole body, giving the touched tables serializable
    * isolation: readers and writers of those tables wait, exactly like any
    * single-table mutation already does. State capture is driver-side
    * metadata (forked part handles + catalog maps — no data job runs to
    * begin or commit); superseded snapshot generations are deferred until
    * commit so a rollback can swap pre-transaction plans back in, and a
    * rollback frees only the generations the aborted body created.
    *
    * Contract: the body mutates ONLY the tables named here (mutations to
    * unnamed tables are not rolled back); tables with registered change
    * feeds or dependent materialized views are refused (their side logs
    * cannot be unwound); persistence (`toStorage`/`savePart`) inside the
    * body is refused by the datasets themselves — commit first, then
    * persist under the manifest protocol's own optimistic concurrency.
    *
    * ACTIVE STREAMING SINKS: a streaming query whose foreachBatch writes a
    * named table serializes BEHIND the transaction — its micro-batch
    * blocks at the dataset monitor the body holds and lands after commit
    * or rollback, and is never unwound by a rollback (pinned in
    * TransactionStreamSpec). Do NOT await stream progress
    * (`processAllAvailable`) inside the body: the micro-batch cannot
    * acquire the monitor the body holds, so the await deadlocks.
    */
  def transaction[A](names: Seq[String])(body: => A): A = {
    val resolved = names.distinct.sorted.map { n =>
      n -> tables.getOrElse(n,
        throw new IllegalArgumentException(s"unknown table: $n"))
    }
    resolved.foreach { case (n, _) =>
      if (feeds.contains(n)) throw new IllegalArgumentException(
        s"table $n has a change feed — its log cannot be unwound by a rollback")
      if (mviews.values.exists(_.base == n) ||
          mvJoins.values.exists(e => e.baseA == n || e.baseB == n))
        throw new IllegalArgumentException(
          s"table $n has dependent materialized views — their maintained state " +
            "cannot be unwound by a rollback")
    }
    // Two names may alias ONE dataset (register allows it): begin/commit/
    // rollback must run once per DATASET, so dedupe by reference (LakeDataset
    // does not override equals — List.distinct is identity here). Monitors
    // acquire in CREATION-RANK order — the one total order over datasets —
    // because sorted-NAME order is not global under aliasing (two
    // transactions naming the same two datasets through different aliases
    // could otherwise lock them in opposite orders and deadlock).
    val distinctDs = resolved.map(_._2).distinct.sortBy(_.lockRank).toList
    def locked[B](ds: List[LakeDataset])(f: => B): B = ds match {
      case Nil => f
      case h :: t => h.synchronized(locked(t)(f))
    }
    locked(distinctDs) {
      // Begin fan-out is exception-safe: a mid-list txBegin failure (e.g. a
      // dataset already inside another Database's transaction) unwinds the
      // datasets already begun — none may be left in-transaction forever.
      val begun = scala.collection.mutable.ListBuffer
        .empty[(LakeDataset, LakeDataset#TxState)]
      try distinctDs.foreach { ds => begun += ((ds, ds.txBegin())) }
      catch {
        case t: Throwable =>
          begun.toList.reverse.foreach { case (ds, st) =>
            ds.txRollback(st.asInstanceOf[ds.TxState])
          }
          throw t
      }
      val out =
        // ANY exit without completing the body aborts — including a
        // non-local `return` out of the enclosing method (its
        // ControlThrowable lands here): the mutations roll back and the
        // control flow proceeds; don't `return` from inside a transaction
        // you don't mean to abort.
        try body
        catch {
          case t: Throwable =>
            begun.toList.reverse.foreach { case (ds, st) =>
              ds.txRollback(st.asInstanceOf[ds.TxState])
            }
            resolved.foreach { case (n, _) => refresh(n) }
            throw t
        }
      // Commit phase runs OUTSIDE the rollback scope: once any dataset has
      // committed (released its superseded generations), rolling others
      // back to plans referencing freed checkpoints would corrupt them.
      // txCommit itself cannot throw (releases are best-effort by
      // construction — SnapRef.release swallows IO failures).
      begun.foreach(_._1.txCommit())
      resolved.foreach { case (n, _) => refresh(n) }
      out
    }
  }

  /** Split an SQL script into statements on TOP-LEVEL semicolons only. A
    * `;` inside quoted text — a '…' or "…" string literal (a backslash
    * escapes the next character; SQL's doubled quote reads here as close +
    * open and stays balanced) or a `…` identifier — never splits, and a
    * `--` line comment is dropped up to its newline, so neither its quotes
    * nor its semicolons count.
    */
  private[lake] def splitSqlScript(script: String): List[String] = {
    val out = scala.collection.mutable.ListBuffer.empty[String]
    val cur = new StringBuilder
    var quote: Char = 0 // the open quote, 0 outside quoted text
    var i = 0
    while (i < script.length) {
      val c = script.charAt(i)
      if (quote != 0) {
        cur += c
        if (c == '\\' && quote != '`' && i + 1 < script.length) {
          i += 1; cur += script.charAt(i)
        } else if (c == quote) quote = 0
      } else if (script.startsWith("--", i)) {
        val eol = script.indexOf('\n', i)
        i = (if (eol < 0) script.length else eol) - 1 // keep the newline
      } else if (c == ';') {
        out += cur.toString; cur.clear()
      } else {
        if (c == '\'' || c == '"' || c == '`') quote = c
        cur += c
      }
      i += 1
    }
    out += cur.toString
    out.map(_.trim).filter(_.nonEmpty).toList
  }

  /** The lake table a mutation-DML statement targets — the lock set of an
    * atomic script is the union of its statements' targets. Mutation DML
    * only: DDL and maintenance verbs (CREATE/DROP/ALTER/OPTIMIZE/RESTORE/
    * VACUUM/RENAME) restructure catalog state the transaction seam does
    * not fork, so a script containing one refuses up front — before any
    * lock is taken or any statement runs.
    */
  private def dmlTarget(sql: String): String = (sql match {
    case CopyRe(t, _, _) => Some(t)
    case _ => scala.util.Try(parseDml(sql)).toOption.collect {
      case DeleteFromTable(t, _) => target(t)
      case UpdateTable(t, _, _) => target(t)
      case i: InsertIntoStatement => target(i.table)
      case m: MergeIntoTable => target(EliminateSubqueryAliases(m.targetTable))
      case TruncateTable(t) => target(t)
    }
  }).getOrElse(throw new IllegalArgumentException(
    "only mutation DML (INSERT INTO / UPDATE / DELETE FROM / MERGE INTO / " +
      s"COPY INTO / TRUNCATE TABLE) can run inside a transaction; got: " +
      s"'${sql.trim.take(60)}'"))

  private val BeginRe = """(?is)^\s*BEGIN(?:\s+TRANSACTION)?\s*$""".r
  private val CommitRe = """(?is)^\s*(?:COMMIT|END)(?:\s+TRANSACTION)?\s*$""".r
  private val TxScriptRe = """(?is)^\s*BEGIN\b""".r

  /** Atomic SQL transaction script:
    * {{{ BEGIN; <dml>; <dml>; ...; COMMIT; }}}
    * Every statement's mutation lands or none does — a statement failing
    * mid-script (analysis error, arity mismatch, constraint violation,
    * unknown table) rolls every earlier statement back and rethrows. The
    * locked table set is derived from the statements themselves (each
    * mutation verb names its target), acquired in sorted order up front —
    * the SQL face of [[transaction]], sharing its refusals (feed-tracked /
    * MV-base tables) and its isolation (serializable on the named tables).
    * The BEGIN/COMMIT frame is optional: a bare statement list runs as one
    * implicit transaction. Returns the sum of the statements'
    * [[executeDml]] results.
    */
  def executeTransaction(script: String): Long = {
    val stmts = splitSqlScript(script) match {
      case first :: rest if BeginRe.matches(first) => rest match {
        case init :+ last if CommitRe.matches(last) => init
        case _ => throw new IllegalArgumentException(
          "BEGIN without a closing COMMIT — an unterminated script would " +
            "silently drop trailing statements")
      }
      case bare => bare
    }
    require(stmts.nonEmpty, "empty transaction: no statements between BEGIN and COMMIT")
    val targets = stmts.map(dmlTarget).distinct
    transaction(targets)(stmts.map(executeDml).sum)
  }

  // The lake verbs: statements Spark's grammar rejects (or misreads), so a
  // regex dispatch reads them before the parser does.
  private val CopyRe =
    """(?is)^\s*COPY\s+INTO\s+([A-Za-z_][\w]*)\s+FROM\s+'([^']+)'(?:\s+FORMAT\s+([A-Za-z]+))?\s*;?\s*$""".r
  private val OptimizeRe =
    """(?is)^\s*OPTIMIZE\s+([A-Za-z_][\w]*)\s*;?\s*$""".r
  private val OptimizeWhereRe =
    """(?is)^\s*OPTIMIZE\s+([A-Za-z_][\w]*)\s+WHERE\s+(.+?)\s*;?\s*$""".r
  private val OptimizeZorderRe =
    """(?is)^\s*OPTIMIZE\s+([A-Za-z_][\w]*)\s+ZORDER\s+BY\s*\(\s*([^)]+?)\s*\)\s*;?\s*$""".r
  private val VacuumRe =
    """(?is)^\s*VACUUM\s+([A-Za-z_][\w]*)\s*;?\s*$""".r
  private val RestoreRe =
    """(?is)^\s*RESTORE\s+TABLE\s+([A-Za-z_][\w]*)\s+VERSION\s+AS\s+OF\s+(\d+)\s*;?\s*$""".r
  private val RenameTableRe =
    """(?is)^\s*RENAME\s+TABLE\s+([A-Za-z_][\w]*)\s+TO\s+([A-Za-z_][\w]*)\s*;?\s*$""".r
  private val CreateCloneRe =
    """(?is)^\s*CREATE\s+TABLE\s+([A-Za-z_][\w]*)\s+SHALLOW\s+CLONE\s+([A-Za-z_][\w]*)\s+LOCATION\s+'([^']+)'\s*;?\s*$""".r
  // `ALTER TABLE t` with any sequence of these two layout clauses.
  private val PartitionedBy = """(?is)PARTITIONED\s+BY\s*\(\s*([^)]+?)\s*\)"""
  private val BucketedBy = """(?is)BUCKETED\s+BY\s*\(\s*([A-Za-z_][\w]*)\s*,\s*(\d+)\s*\)"""
  private val AlterLayoutRe =
    raw"""(?is)^\s*ALTER\s+TABLE\s+([A-Za-z_][\w]*)((?:\s+(?:$PartitionedBy|$BucketedBy))+)\s*;?\s*$$""".r
  private val DropMvRe =
    """(?is)^\s*DROP\s+MATERIALIZED\s+VIEW\s+([A-Za-z_][\w]*)\s*;?\s*$""".r
  private val RefreshMvRe =
    """(?is)^\s*REFRESH\s+MATERIALIZED\s+VIEW\s+([A-Za-z_][\w]*)\s*;?\s*$""".r
  /** CTAS's `BUCKETED BY (col, n)` clause, which the grammar rejects: the
    * statement parses with the clause cut out (groups 1 and 4).
    */
  private val CtasBucketRe =
    ("""(?is)^(\s*CREATE\s+TABLE\s+[A-Za-z_][\w]*(?:\s+PARTITIONED\s+BY\s*\([^)]*\))?)""" +
      """\s+BUCKETED\s+BY\s*\(\s*([A-Za-z_][\w]*)\s*,\s*(\d+)\s*\)(.*)$""").r

  private val UnsupportedDml =
    "unsupported DML; expected DELETE FROM <t> [WHERE <cond>], " +
      "INSERT INTO <t> <query>, UPDATE <t> SET ... [WHERE <cond>], " +
      "MERGE INTO <t> USING (<query>) ON <key equalities>, " +
      "COPY INTO <t> FROM '<path>' [FORMAT <fmt>], " +
      "OPTIMIZE <t> [ZORDER BY (cols)], VACUUM <t>, " +
      "CREATE TABLE <t> [PARTITIONED BY (...)] [BUCKETED BY (col, n)] " +
      "[LOCATION '<path>'] AS <query>, " +
      "CREATE TABLE <t> SHALLOW CLONE <src> LOCATION '<path>', " +
      "DROP TABLE <t> [PURGE], " +
      "ALTER TABLE <t> ADD CONSTRAINT <c> CHECK (<expr>) | " +
      "DROP CONSTRAINT <c> | PARTITIONED BY (...) [BUCKETED BY (col, n)]"

  private def unsupported(got: String) =
    new IllegalArgumentException(s"$UnsupportedDml; got $got")

  /** Parse one DML statement. A MERGE with no WHEN clause (the grammar
    * wants one) is the native upsert: it parses again with the
    * `UPDATE SET *` / `INSERT *` pair that means. A statement the grammar
    * rejects fails as unsupported DML, with the parser's message.
    */
  private def parseDml(sql: String): LogicalPlan =
    try {
      try parse(sql)
      catch {
        case e: ParseException if e.getCondition == "MERGE_WITHOUT_WHEN" =>
          parse(sql.trim.stripSuffix(";") +
            "\nWHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
      }
    } catch {
      case e: ParseException => throw unsupported(e.getMessage)
    }

  /** The one-part lake table name a parsed statement targets. */
  private def target(p: LogicalPlan): String = (p match {
    case r: UnresolvedRelation => r.multipartIdentifier
    case r: UnresolvedTable => r.multipartIdentifier
    case r: UnresolvedTableOrView => r.multipartIdentifier
    case r: UnresolvedIdentifier => r.nameParts
    case other => throw unsupported(s"a ${other.nodeName} table reference")
  }) match {
    case Seq(name) => name
    case parts => throw unsupported(s"the multi-part name ${parts.mkString(".")}")
  }

  /** A one-part column reference's name. */
  private def columnName(e: Expression): Option[String] = e match {
    case UnresolvedAttribute(Seq(c)) => Some(c)
    case _ => None
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => conjuncts(a) ++ conjuncts(b)
    case other => Seq(other)
  }

  // ------------------------------------------------------------------
  // Materialized views — SQL-managed incremental aggregates.
  // ------------------------------------------------------------------

  /** One registered MV: base table, the DEFINING query text (the durable
    * representation — save/load re-derives everything from it), maintained
    * state, and the publish projection (derives declared columns like AVG
    * from the hidden sum/count pair and drops the hidden state columns).
    */
  private case class MvEntry(base: String, query: String,
      mag: graft.operators.MaterializedAgg, derive: DataFrame => DataFrame)

  /** Registered MVs: view name → entry. */
  private val mviews = TrieMap[String, MvEntry]()

  /** One registered JOIN MV: the two base tables, the defining query, the
    * USING keys, the maintained [[graft.operators.MaterializedJoin]] state,
    * and the publish projection. Maintenance keys the view's rows by the
    * JOIN KEY (pkA = pkB = keys): a predicate mutation's touched join-key
    * set rides the same pre-state pin the aggregate MVs use, and each
    * affected view recomputes only those keys' output rows against the
    * current other side — never a base rescan.
    */
  private case class MvJoinEntry(baseA: String, baseB: String, query: String,
      keys: Seq[String], mj: graft.operators.MaterializedJoin,
      publish: DataFrame => DataFrame)

  /** Registered join MVs: view name → entry. */
  private val mvJoins = TrieMap[String, MvJoinEntry]()

  /** Register an MV from its defining query text — one path for CREATE
    * and for reload, where `state` is the persisted state (None builds it
    * from the bases). The parsed shape picks the kind:
    *
    *  - `SELECT <group cols + aggregates> FROM <table> GROUP BY <group
    *    cols>` with COUNT(*) / SUM / MIN / MAX / AVG aggregates, every
    *    aggregate aliased. AVG decomposes into a hidden exact sum +
    *    non-null count pair (both insert-maintainable; AVG itself is not)
    *    and is re-derived at publish time.
    *  - `SELECT <*|plain cols> FROM <a> JOIN <b> USING (<keys>)` over two
    *    distinct registered tables. The USING form is the supported one BY
    *    DESIGN: it carries the one-name-per-key contract
    *    [[graft.operators.MaterializedJoin]] maintains under (an ON a.x =
    *    b.y equi-join with differently-named keys is the same view over a
    *    renamed registration).
    *
    * Anything else is rejected loudly (the incremental-maintenance contract
    * is exactly these shapes).
    */
  private def putMv(name: String, query: String, state: Option[DataFrame]): Unit =
    parse(query) match {
      case Project(items, Join(a: UnresolvedRelation, b: UnresolvedRelation,
          UsingJoin(Inner, keys), None, _)) =>
        putMvJoin(name, query, items, target(a), target(b), keys, state)
      case Aggregate(groups, items, base: UnresolvedRelation, _) =>
        putMvAgg(name, query, groups, items, target(base), state)
      case _ => throw new IllegalArgumentException(
        "materialized view query must be SELECT <cols+aggs> FROM <table> GROUP BY <cols>")
    }

  private def putMvAgg(name: String, query: String, groups: Seq[Expression],
      items: Seq[Expression], base: String, state: Option[DataFrame]): Unit = {
    import graft.operators.MaterializedAgg._
    val baseSchema = tables.getOrElse(base,
      throw new IllegalArgumentException(s"unknown lake table '$base'")).tableSchema
    val groupCols = groups.map(g => columnName(g).getOrElse(
      throw new IllegalArgumentException("GROUP BY must list plain columns")))
    def exactSum(arg: String, alias: String): AggCol =
      // Decimal accumulation for floating measures: associative, so the
      // incrementally merged total equals the one-shot aggregate.
      baseSchema.find(_.name == arg).map(_.dataType) match {
        case Some(org.apache.spark.sql.types.DoubleType |
                  org.apache.spark.sql.types.FloatType) => sumDecimal(arg, alias)
        case _ => sum(arg, alias)
      }
    val derived = scala.collection.mutable.ListBuffer[(String, Column)]()
    val hidden = scala.collection.mutable.ListBuffer[String]()
    val aggs = items.flatMap {
      case item if columnName(item).exists(groupCols.contains) => None // group col in SELECT
      case Alias(f: UnresolvedFunction, alias) if !f.isDistinct && f.filter.isEmpty &&
          f.nameParts.size == 1 =>
        // COUNT(*) parses as COUNT(1).
        (f.nameParts.head.toUpperCase, f.arguments, f.arguments.flatMap(columnName)) match {
          case ("COUNT", args, _) =>
            require(args == Seq(Literal(1)), "only COUNT(*) is maintainable incrementally")
            Seq(count(alias))
          case ("SUM", _, Seq(arg)) => Seq(exactSum(arg, alias))
          case ("MIN", _, Seq(arg)) => Seq(min(arg, alias))
          case ("MAX", _, Seq(arg)) => Seq(max(arg, alias))
          case ("AVG", _, Seq(arg)) =>
            import org.apache.spark.sql.functions.{col, lit, nullif}
            val (s, c) = (s"__${alias}_sum", s"__${alias}_cnt")
            hidden ++= Seq(s, c)
            derived += alias -> (col(s).cast("double") / nullif(col(c), lit(0L)))
            Seq(exactSum(arg, s), countNonNull(arg, c))
          case _ => throw unsupportedMvItem(f.sql)
        }
      case other => throw unsupportedMvItem(other.sql)
    }
    require(aggs.nonEmpty, "materialized view needs at least one aggregate")
    val derive: DataFrame => DataFrame = df =>
      derived.foldLeft(df) { case (d, (a, c)) => d.withColumn(a, c) }
        .drop(hidden.toSeq: _*)
    val mag = state.fold(graft.operators.MaterializedAgg.build(
      tables(base).toDF, groupCols, aggs))(
      graft.operators.MaterializedAgg.fromState(_, groupCols, aggs))
    mviews.put(name, MvEntry(base, query, mag, derive))
    publishMv(name)
  }

  private def unsupportedMvItem(item: String) = new IllegalArgumentException(
    s"unsupported MV select item '$item' (COUNT(*)/SUM/MIN/MAX/AVG AS alias, " +
      "or a GROUP BY column)")

  private def publishMv(name: String): Unit =
    mviews.get(name).foreach(e =>
      e.derive(e.mag.state).createOrReplaceTempView(name))

  private def putMvJoin(name: String, query: String, items: Seq[Expression],
      a: String, b: String, keys: Seq[String], state: Option[DataFrame]): Unit = {
    require(a != b, "self-join materialized views are not supported")
    for (t <- Seq(a, b)) require(tables.contains(t), s"unknown lake table '$t'")
    val publish: DataFrame => DataFrame = items match {
      case Seq(UnresolvedStar(None)) => identity
      case _ =>
        import org.apache.spark.sql.functions.col
        val cols = items.map(i => columnName(i).getOrElse(
          throw new IllegalArgumentException(
            "join MV SELECT items must be plain columns (or *) — aggregates " +
              "belong in an aggregate MV over this view's bases")))
        df => df.select(cols.map(col): _*)
    }
    val mj = state.fold(graft.operators.MaterializedJoin.build(
      tables(a).toDF, tables(b).toDF, keys, keys, keys))(
      graft.operators.MaterializedJoin.fromState(_, keys, keys, keys))
    mvJoins.put(name, MvJoinEntry(a, b, query, keys, mj, publish))
    publishMvJoin(name)
  }

  private def publishMvJoin(name: String): Unit =
    mvJoins.get(name).foreach(e =>
      e.publish(e.mj.state).createOrReplaceTempView(name))

  /** Times the named MV's full rebuild has run — lets tests pin WHICH
    * maintenance path a mutation took (targeted vs degenerate-case escape).
    */
  private[graft] def mvRebuildCount(name: String): Int =
    mviews.get(name).map(_.mag.rebuildCount)
      .getOrElse(mvJoins(name).mj.rebuildCount)

  /** Fold an inserted batch into every MV over `table` — `O(batch) +
    * O(touched groups)` per view, the base is never rescanned.
    */
  private def maintainInsert(table: String, batch: org.apache.spark.sql.DataFrame): Unit = {
    mviews.foreach { case (name, e) if e.base == table =>
      e.mag.applyInsert(batch); publishMv(name)
    case _ => ()
    }
    // Join MVs: an insert-only batch appends its join output directly
    // (state ∪ batch ⋈ other side) — no anti-join pass, the bag semantics
    // of INSERT make the plain append exact.
    mvJoins.foreach { case (name, e) if e.baseA == table || e.baseB == table =>
      if (e.baseA == table) e.mj.appendA(batch, tables(e.baseB).toDF)
      else e.mj.appendB(batch, tables(e.baseA).toDF)
      publishMvJoin(name)
    case _ => ()
    }
  }

  /** foreachBatch sink over a REGISTERED table: append each micro-batch,
    * fold it into every dependent materialized view (O(batch + touched
    * groups) per view — the base is never rescanned), and refresh the SQL
    * views. The streaming analogue of `INSERT INTO` through [[executeDml]]:
    * a dashboard MV over a streaming-ingested table stays current at
    * per-batch cost. At-least-once like any plain foreachBatch append — an
    * epoch replayed after a crash re-inserts AND re-folds together, so the
    * view never drifts from its base (they move in the same callback).
    */
  def streamInsertSink(table: String): (org.apache.spark.sql.DataFrame, Long) => Unit = {
    require(tables.contains(table), s"unknown lake table '$table'")
    (batch, _) => {
      tables(table).insert(batch)
      refresh(table)
      maintainInsert(table, batch)
    }
  }

  /** Rebuild every MV over `table` — the fallback for mutations whose
    * touched-group set is unknown (upsert/MERGE, RESTORE). Predicate
    * DELETE/UPDATE go through [[maintainTouched]] instead.
    */
  private def maintainRebuild(table: String): Unit = {
    mviews.foreach { case (name, e) if e.base == table =>
      e.mag.rebuild(tables(e.base).toDF); publishMv(name)
    case _ => ()
    }
    mvJoins.foreach { case (name, e) if e.baseA == table || e.baseB == table =>
      e.mj.rebuild(tables(e.baseA).toDF, tables(e.baseB).toDF)
      publishMvJoin(name)
    case _ => ()
    }
  }

  /** Targeted maintenance for a predicate DELETE/UPDATE: `preGroups(cols)`
    * must return the mutation's touched rows projected to `cols` — evaluated
    * against the PRE-state, including any group the mutation may MOVE rows
    * into (an UPDATE assigning a group column contributes both old and new
    * memberships). Each affected view then recomputes ONLY those groups
    * from the post-state via `MaterializedAgg.refreshGroups` —
    * O(touched cells) + O(touched groups), never a base rescan. This is the
    * partial-refresh design every engine with non-invertible aggregates
    * (MIN/MAX) uses: subtraction cannot maintain them, a per-touched-group
    * recompute is exact for all of them.
    */
  private def maintainTouched(table: String,
      preGroups: Seq[String] => DataFrame): Unit = {
    import org.apache.spark.sql.functions.col
    val affected = mviews.filter(_._2.base == table)
    val affectedJoins = mvJoins.filter { case (_, e) =>
      e.baseA == table || e.baseB == table }
    if (affected.isEmpty && affectedJoins.isEmpty) return
    // Join MVs: the touched JOIN-KEY set rides the same pre-state pin
    // (preGroups projects the pinned touched rows onto any requested
    // columns — key columns included, see touchedGroupsPre). Each view
    // recomputes only those keys' output rows against the current other
    // side — O(touched keys' rows), never a base rescan.
    affectedJoins.foreach { case (name, e) =>
      val touched = preGroups(e.keys).localCheckpoint(true)
      if (e.baseA == table)
        e.mj.refreshA(tables(e.baseA).toDF, touched, tables(e.baseB).toDF)
      else
        e.mj.refreshB(tables(e.baseB).toDF, touched, tables(e.baseA).toDF)
      publishMvJoin(name)
    }
    affected.foreach { case (name, e) =>
      val touched = preGroups(e.mag.groupColumns).localCheckpoint(true)
      // ONE bounded collect serves every decision: the size short-circuit,
      // the degenerate-case escape probe, and the targeted path's IN-list
      // prefilter — the common incremental delete pays exactly one job over
      // the checkpointed |groups|-sized frame. `sample` is the COMPLETE
      // touched set whenever fewer than the limit came back.
      val sample = touched.limit(1002).collect()
      val complete = sample.length < 1002
      // Degenerate-case escape: when the mutation touched ≈ all groups, the
      // targeted path costs pin + per-group recompute + anti-join/union —
      // roughly 2× the plain one-shot rebuild sitting one branch away.
      // Threshold ½: below it the targeted read (pruned to touched groups)
      // beats a full base aggregate; at or above it the prefilter reads
      // most of the base anyway and the extra merge work is pure overhead.
      // The exact touched count (a second job) is paid ONLY in the
      // truncated-sample regime where the probe actually needs it.
      val escaped = sample.length > MvRebuildMinTouched && {
        val groupsN = e.mag.state.count()
        groupsN > 0 && {
          val touchedN = if (complete) sample.length.toLong else touched.count()
          touchedN * 2 >= groupsN
        }
      }
      if (escaped) e.mag.rebuild(tables(table).toDF)
      else maintainTouchedOne(table, e, touched, if (complete) Some(sample) else None)
      publishMv(name)
    }
  }

  /** Touched-set size below which [[maintainTouched]] skips even the
    * group-cardinality probe — an incremental delete of a handful of groups
    * never pays an extra count job.
    */
  private val MvRebuildMinTouched = 32L

  private def maintainTouchedOne(table: String, e: MvEntry,
      touched: DataFrame, sample: Option[Array[org.apache.spark.sql.Row]]): Unit = {
    import org.apache.spark.sql.functions.col
    // The recompute's base read is the targeted path's only full-width
    // scan — turn a SMALL single-column touched set into a literal
    // IN-list prefilter so the engine's bucket/zone pruning can skip
    // cells entirely (a semi-join never prunes the part union; a literal
    // predicate does). Semantics unchanged: refreshGroups still
    // semi-joins on the touched groups, the prefilter only narrows what
    // it reads. NULL groups or wide sets keep the plain semi-join. The
    // values come from the caller's already-collected complete sample —
    // no second job.
    val base = (e.mag.groupColumns, sample) match {
      case (Seq(g), Some(rows)) =>
        val vals = rows.map(_.get(0))
        if (vals.length <= 1000 && !vals.contains(null))
          tables(table).toDF.filter(col(g).isin(vals: _*))
        else tables(table).toDF
      case _ => tables(table).toDF
    }
    e.mag.refreshGroups(base, touched)
  }

  /** Capture the touched GROUP memberships of a predicate DELETE/UPDATE
    * from the PRE-state — must be called BEFORE the mutation. Returns None
    * when no MV depends on `t` (zero cost). The pin is the distinct
    * projection onto the union of every affected view's group columns —
    * O(touched groups), not O(touched rows). For UPDATE, `assigns` applied
    * to the pre-image rows contribute the groups rows MOVE INTO when a
    * group column is assigned.
    */
  private def touchedGroupsPre(t: String, cond: org.apache.spark.sql.Column,
      assigns: Seq[(String, org.apache.spark.sql.Column)])
      : Option[Seq[String] => DataFrame] = {
    import org.apache.spark.sql.functions.col
    val affectedCols = (mviews.values.filter(_.base == t)
      .flatMap(_.mag.groupColumns) ++
      mvJoins.values.filter(e => e.baseA == t || e.baseB == t)
        .flatMap(_.keys)).toSeq.distinct
    if (affectedCols.isEmpty) return None
    val preRows = tables(t).toDF.filter(cond)
    val old = preRows.select(affectedCols.map(col): _*)
    val both =
      if (assigns.exists(a => affectedCols.contains(a._1)))
        old.unionByName(assigns.foldLeft(preRows) { case (d, (c, e)) =>
          d.withColumn(c, e)
        }.select(affectedCols.map(col): _*))
      else old
    val pinned = both.distinct().localCheckpoint(true)
    Some(cols => pinned.select(cols.map(col): _*).distinct())
  }

  /** foreachBatch sink for streaming CDC into a REGISTERED table: upsert
    * each micro-batch by `keys`, refresh the SQL views, and maintain every
    * dependent materialized view with the TARGETED group refresh the MERGE
    * path uses — the batch's touched group memberships pin from the
    * pre-state (two O(batch) key semi-joins), each view recomputes only
    * those groups. A streaming dashboard over a CDC-merged table stays
    * current at per-batch cost; the base is never rescanned.
    */
  def streamUpsertSink(table: String, keys: Seq[String])
      : (org.apache.spark.sql.DataFrame, Long) => Unit = {
    require(tables.contains(table), s"unknown lake table '$table'")
    (batch, _) => {
      val pre = touchedGroupsPreKeys(table, batch, keys)
      tables(table).upsert(batch, keys)
      refresh(table)
      pre.fold(maintainRebuild(table))(maintainTouched(table, _))
    }
  }

  /** Touched-group capture for a KEYED mutation (MERGE/upsert): the groups
    * of pre-state rows matching the source keys (vacated by updates and
    * deletes, pinned BEFORE the mutation) unioned with the groups of
    * post-state rows matching them (received by updates and inserts —
    * evaluated lazily by [[maintainTouched]] after the mutation). Two
    * key semi-joins, O(batch) each — never a base rescan.
    */
  private def touchedGroupsPreKeys(t: String, source: DataFrame,
      keys: Seq[String]): Option[Seq[String] => DataFrame] = {
    import org.apache.spark.sql.functions.col
    val affectedCols = (mviews.values.filter(_.base == t)
      .flatMap(_.mag.groupColumns) ++
      mvJoins.values.filter(e => e.baseA == t || e.baseB == t)
        .flatMap(_.keys)).toSeq.distinct
    if (affectedCols.isEmpty) return None
    val srcKeys = source.select(keys.map(col): _*).distinct().localCheckpoint(true)
    val preGroups = tables(t).toDF.join(srcKeys, keys, "left_semi")
      .select(affectedCols.map(col): _*).distinct().localCheckpoint(true)
    Some { cols =>
      val post = tables(t).toDF.join(srcKeys, keys, "left_semi")
        .select(cols.map(col): _*).distinct()
      preGroups.select(cols.map(col): _*).unionByName(post).distinct()
    }
  }

  /** Persist every registered MV under `root`: one directory per view with
    * the O(groups) state as parquet (hidden AVG decomposition columns
    * included — maintenance resumes exactly) and the DEFINING QUERY as
    * `_mv.json`. Cost is O(total groups), never a base scan. Returns the
    * number of views saved.
    */
  def saveMaterializedViews(root: String): Int = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    mviews.foreach { case (name, e) =>
      val dir = java.nio.file.Paths.get(root, name)
      e.mag.state.coalesce(1).write.mode("overwrite")
        .parquet(dir.resolve("state").toString)
      val node = om.createObjectNode()
      node.put("name", name); node.put("base", e.base); node.put("query", e.query)
      java.nio.file.Files.writeString(dir.resolve("_mv.json"),
        om.writerWithDefaultPrettyPrinter().writeValueAsString(node))
    }
    mvJoins.foreach { case (name, e) =>
      val dir = java.nio.file.Paths.get(root, name)
      // The state may exceed one file's worth of rows (it is a join
      // result, not a |groups| frame) — no coalesce(1) here.
      e.mj.state.write.mode("overwrite").parquet(dir.resolve("state").toString)
      val node = om.createObjectNode()
      node.put("name", name); node.put("query", e.query); node.put("join", true)
      java.nio.file.Files.writeString(dir.resolve("_mv.json"),
        om.writerWithDefaultPrettyPrinter().writeValueAsString(node))
    }
    mviews.size + mvJoins.size
  }

  /** Re-register every MV saved under `root` by [[saveMaterializedViews]].
    * The defining query re-derives the view shape; the persisted state
    * rehydrates WITHOUT scanning the base (the state is trusted as of the
    * save — if the base mutated since, run `REFRESH MATERIALIZED VIEW`).
    * Bases must already be registered. Returns the number loaded.
    */
  def loadMaterializedViews(root: String): Int = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val rootP = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.isDirectory(rootP)) return 0
    val dirs = java.nio.file.Files.list(rootP).iterator().asScala
      .filter(d => java.nio.file.Files.exists(d.resolve("_mv.json"))).toList
    dirs.foreach { d =>
      val node = om.readTree(java.nio.file.Files.readString(d.resolve("_mv.json")))
      val name = node.get("name").asText()
      val query = node.get("query").asText()
      require(!tables.contains(name), s"name '$name' already in use by a table")
      putMv(name, query, Some(spark.read.parquet(d.resolve("state").toString)))
    }
    dirs.size
  }

  /** SQL DML over the catalog — the write statements Spark temp views
    * cannot execute (`spark.sql("DELETE ...")` fails on a view; lakehouse
    * SQL needs them). Spark's own parser reads the standard statements
    * (DELETE, UPDATE, INSERT, MERGE, TRUNCATE, ANALYZE, DROP TABLE, CTAS,
    * CREATE MATERIALIZED VIEW, and ALTER TABLE's RENAME TO, ADD / DROP /
    * RENAME COLUMN and ADD / DROP CONSTRAINT), so conditions and SET values
    * are Catalyst expressions, never split text. The lake verbs the grammar
    * does not know — COPY INTO, OPTIMIZE [WHERE | ZORDER BY], VACUUM,
    * RESTORE, SHALLOW CLONE, RENAME TABLE a TO b, ALTER TABLE PARTITIONED /
    * BUCKETED BY, DROP / REFRESH MATERIALIZED VIEW and a `BEGIN; ...;
    * COMMIT` script — are read by a small regex dispatch first. The
    * mutations route to the engine:
    *
    *  - `DELETE FROM t [WHERE cond]` → [[LakeDataset.deleteWhere]] — the
    *    predicate prunes to catalog-overlapping cells; SQL NULL semantics;
    *    no WHERE deletes every row. Returns cells touched.
    *  - `INSERT INTO t <query>` → [[LakeDataset.insert]] of the query's
    *    result (any SELECT/VALUES/WITH/TABLE), matched to the table's
    *    columns BY POSITION (arity-checked) like SQL INSERT without a
    *    column list. Returns 1.
    *  - `UPDATE t SET a = e1, b = e2 [WHERE cond]` →
    *    [[LakeDataset.updateWhere]] — RHS expressions see the OLD row,
    *    pruned to catalog-overlapping cells; partition/bucket columns are
    *    not assignable (cell-migrating changes are upserts). Returns cells
    *    touched.
    *  - `MERGE INTO t USING (<query>) ON <key equalities>` (with the
    *    optional `UPDATE SET * / INSERT *` actions) →
    *    [[LakeDataset.upsert]] — the reference's own merge semantics as
    *    the SQL verb. Returns 1.
    *  - `COPY INTO t FROM '<path>' [FORMAT <fmt>]` → bulk file ingest
    *    (default parquet), positionally type-cast like INSERT. Returns 1.
    *
    * Reads stay on [[executeSql]]; anything unrecognized here throws with
    * the supported grammar (never silently executes as a read).
    */
  def executeDml(sql: String): Long = {
    import org.apache.spark.sql.functions.expr
    // A `BEGIN; ...; COMMIT` script is the atomic multi-statement form.
    if (TxScriptRe.findFirstIn(sql).isDefined) return executeTransaction(sql)
    sql match {
      case CopyRe(t, path, fmtOrNull) =>
        // COPY INTO: bulk file ingest — read with the given format
        // (default parquet) and append through the same positional
        // type-cast alignment as INSERT.
        val fmt = Option(fmtOrNull).map(_.toLowerCase).getOrElse("parquet")
        append(t, "COPY", "file has")(spark.read.format(fmt).load(path))
      case OptimizeZorderRe(t, colsList) =>
        // OPTIMIZE t ZORDER BY (c1, c2): re-layout the table under a
        // Z-order clustering — rows bin by the interleaved quantile-rank
        // key into `zbin` partition cells whose zone maps become selective
        // on EVERY named column at once. One statistics pass + one
        // exchange (never a global sort); the rebuilt table registers in
        // place, so the very next range query on any clustered column
        // prunes. Re-running with different columns re-layouts from the
        // current contents.
        val old = ds(t)
        val cols = colsList.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val schemaNames = old.tableSchema.fieldNames.toSet
        val missing = cols.filterNot(schemaNames.contains)
        require(missing.isEmpty,
          s"unknown ZORDER column(s): ${missing.mkString(", ")}")
        val base =
          if (old.tableSchema.fieldNames.contains("zbin")) old.toDF.drop("zbin")
          else old.toDF
        val z = graft.operators.Clustering.zorderLake(spark, base, cols,
          storage = old.storage)
        tables.put(t, z.dataset)
        refresh(t); 1L
      case OptimizeWhereRe(t, cond) if !cond.trim.toUpperCase.startsWith("ZORDER") =>
        // OPTIMIZE t WHERE <pred>: SELECTIVE compaction — only the cells
        // the predicate can touch (catalog-pruned exactly like DELETE
        // WHERE) collapse their plans and recompute stats tight. At
        // petabyte scale this is how compaction actually runs: over the
        // hot partitions a mutation stream churned, never the whole table.
        // Returns cells compacted.
        val n = ds(t).materializeWhere(expr(cond))
        refresh(t); n.toLong
      case OptimizeRe(t) =>
        // OPTIMIZE: compact every cell's accumulated plan and recompute
        // its statistics tight (count + zones + blooms from data) — after
        // this the table answers metadata-only aggregates again and scans
        // run over collapsed lineage. The engine's materialize, as SQL.
        ds(t).materialize()
        refresh(t); 1L
      case RestoreRe(t, seqStr) =>
        // RESTORE TABLE t VERSION AS OF n: roll a registered FEED's table
        // back to the mark via logged mutations — the feed's history stays
        // linear (the restore itself is visitable).
        val (feed, keys) = feeds.getOrElse(t,
          throw new IllegalArgumentException(
            s"RESTORE needs a feed-registered table (registerFeed); '$t' is not one"))
        val mark = feed.restore(seqStr.toLong, keys)
        refresh(t); maintainRebuild(t); mark
      case VacuumRe(t) =>
        // VACUUM: delete physical cell directories the catalog no longer
        // references (crashed writes, dropped cells, foreign junk).
        ds(t).vacuumOrphans().length.toLong
      case CreateCloneRe(t, src, loc) =>
        // CREATE TABLE c SHALLOW CLONE t LOCATION '<path>': an independent,
        // fully mutable table over the SAME data bytes — O(files) metadata
        // operations, zero data copied ([[LakeDataset.shallowCloneTo]]).
        require(!tables.contains(t), s"table '$t' already exists")
        register(t, ds(src).shallowCloneTo(loc))
        1L
      case RenameTableRe(from, to) => renameTable(from, to)
      case AlterLayoutRe(t, clauses, _, _, _) =>
        // Layout DDL: rebuild under the new partition/bucket layout (one
        // table pass) and swap the catalog registration — readers of the
        // view see the new layout on their next query.
        val old = ds(t)
        val newParts = PartitionedBy.r.findFirstMatchIn(clauses)
          .map(_.group(1).split(",").map(_.trim).toSeq).getOrElse(Nil)
        val (newBuckets, n) = BucketedBy.r.findFirstMatchIn(clauses)
          .map(m => (Seq(m.group(1)), m.group(2).toInt))
          .getOrElse((Nil, 5))
        val schemaNames = old.tableSchema.fieldNames.toSet
        tables.put(t, old.relayout(newParts, newBuckets, n,
          old.bloomCols.filter(schemaNames.contains)))
        refresh(t); 1L
      case DropMvRe(name) =>
        require(mviews.remove(name).isDefined || mvJoins.remove(name).isDefined,
          s"unknown materialized view '$name'")
        spark.catalog.dropTempView(name)
        1L
      case RefreshMvRe(name) =>
        // Manual full refresh — the escape hatch for base mutations made
        // through the ENGINE API rather than SQL (the SQL surface
        // maintains automatically).
        mviews.get(name) match {
          case Some(e) =>
            e.mag.rebuild(tables(e.base).toDF)
            publishMv(name)
          case None =>
            val e = mvJoins.getOrElse(name,
              throw new IllegalArgumentException(
                s"unknown materialized view '$name'"))
            e.mj.rebuild(tables(e.baseA).toDF, tables(e.baseB).toDF)
            publishMvJoin(name)
        }
        1L
      case CtasBucketRe(head, bCol, n, rest) => parseDml(head + rest) match {
        case c: CreateTableAsSelect => createTable(c, Seq(bCol), n.toInt)
        case other => throw unsupported(other.nodeName)
      }
      case _ => executePlan(parseDml(sql))
    }
  }

  /** Route one parsed statement. Forms the grammar accepts but the engine
    * does not serve (an INSERT column list or OVERWRITE, ANALYZE NOSCAN, a
    * TRUNCATE partition, DROP TABLE IF EXISTS, ...) fall through to the
    * unsupported-DML refusal.
    */
  private def executePlan(plan: LogicalPlan): Long = plan match {
    case DeleteFromTable(t, Literal.TrueLiteral) => truncate(target(t))
    case DeleteFromTable(t, cond) =>
      val (name, c) = (target(t), Bridge.column(cond))
      val pre = touchedGroupsPre(name, c, Nil)
      val n = ds(name).deleteWhere(c)
      refresh(name); pre.fold(maintainRebuild(name))(maintainTouched(name, _)); n.toLong
    case UpdateTable(t, assigns, cond) =>
      val name = target(t)
      val assignments = assigns.map { case Assignment(k, v) =>
        columnName(k).getOrElse(throw new IllegalArgumentException(
          s"malformed SET assignment: '${k.sql}' (expected <column> = <expression>)")) ->
          Bridge.column(v)
      }
      val c = cond.fold(org.apache.spark.sql.functions.lit(true))(Bridge.column)
      val pre = touchedGroupsPre(name, c, assignments)
      val n = ds(name).updateWhere(c, assignments)
      refresh(name); pre.fold(maintainRebuild(name))(maintainTouched(name, _)); n.toLong
    case TruncateTable(t) => truncate(target(t))
    case i: InsertIntoStatement if i.partitionSpec.isEmpty && i.userSpecifiedCols.isEmpty &&
        !i.overwrite && !i.ifPartitionNotExists && !i.byName =>
      append(target(i.table), "INSERT", "query produced")(planDf(i.query))
    case m: MergeIntoTable => merge(m)
    case RenameTable(from, Seq(to), false) => renameTable(target(from), to)
    case AnalyzeTable(t, spec, false) if spec.isEmpty =>
      // ANALYZE TABLE t COMPUTE STATISTICS: restore the catalog's
      // tightness vouch by recomputing stats for untight cells only —
      // a read pass, never a rewrite (that's OPTIMIZE). Returns cells
      // analyzed.
      ds(target(t)).analyze().toLong
    case DropTable(t, false, purge) => dropTable(target(t), purge)
    // Column DDL is plan-level schema evolution: no data pass (an added
    // column reads NULL), and the refreshed view serves the new schema.
    case AddColumns(t, Seq(c)) if c.path.isEmpty && c.nullable && c.comment.isEmpty &&
        c.position.isEmpty && c.default.isEmpty =>
      alterColumns(t)(_.addColumn(c.colName, c.dataType.sql))
    case DropColumns(t, Seq(c), false) if c.name.size == 1 =>
      alterColumns(t)(_.dropColumn(c.name.head))
    case RenameColumn(t, c, to) if c.name.size == 1 =>
      alterColumns(t)(_.renameColumn(c.name.head, to))
    case AddCheckConstraint(t, check) if check.userProvidedName != null &&
        check.userProvidedCharacteristic == ConstraintCharacteristic.empty =>
      // ALTER TABLE t ADD CONSTRAINT c CHECK (expr): existing rows must
      // already satisfy it; afterwards every ingest enforces it against
      // the incoming batch (write-boundary data contract). The table keeps
      // the predicate's own text. The parser hangs the table under a
      // `Filter NOT (check)` validation node, hence the leaf.
      ds(target(t.collectLeaves().head)).addCheck(check.userProvidedName, check.condition.trim)
      1L
    case DropConstraint(t, name, _, _) => if (ds(target(t)).dropCheck(name)) 1L else 0L
    case c: CreateTableAsSelect => createTable(c, Nil, 5)
    case c: CreateMaterializedViewAsSelect if c.columns.isEmpty && c.partitioning.isEmpty =>
      // CREATE MATERIALIZED VIEW: build the state once, then every SQL
      // mutation maintains it incrementally — aggregate MVs fold inserts
      // at O(batch)+O(groups) and refresh touched groups on predicate
      // mutations; join MVs (SELECT ... FROM a JOIN b USING (k)) append
      // insert batches' join output and recompute touched JOIN KEYS.
      val name = target(c.name)
      require(!tables.contains(name) && !mviews.contains(name) &&
        !mvJoins.contains(name), s"name '$name' already in use")
      putMv(name, c.originalText, None)
      1L
    case _: AlterTableCommand => throw new IllegalArgumentException(
      "ALTER TABLE supports PARTITIONED BY (cols) and/or BUCKETED BY (col, n), " +
        "RENAME TO <t>, ADD COLUMN <c> <type>, DROP COLUMN <c>, " +
        "RENAME COLUMN <a> TO <b>, ADD CONSTRAINT <c> CHECK (<expr>) and " +
        "DROP CONSTRAINT <c>")
    case other => throw unsupported(other.nodeName)
  }

  private def ds(name: String): LakeDataset = tables.getOrElse(name,
    throw new IllegalArgumentException(s"unknown lake table '$name'"))

  private def alterColumns(t: LogicalPlan)(change: LakeDataset => Unit): Long = {
    val name = target(t)
    change(ds(name))
    refresh(name); 1L
  }

  private def truncate(t: String): Long = {
    val n = ds(t).deleteWhere(org.apache.spark.sql.functions.lit(true))
    refresh(t); maintainRebuild(t); n.toLong
  }

  /** Append `rows` to table `t`, matched to its columns BY POSITION
    * (arity-checked) and cast to their types, as SQL INSERT does (a
    * TIMESTAMP literal lands in a TIMESTAMP_NTZ column, an int in a
    * bigint). Returns 1.
    */
  private def append(t: String, verb: String, produced: String)(rows: => DataFrame): Long = {
    import org.apache.spark.sql.functions.col
    val target = ds(t)
    val tgt = target.tableSchema
    val q = rows
    require(q.columns.length == tgt.fields.length,
      s"$verb arity mismatch: table '$t' has ${tgt.fields.length} columns, " +
        s"$produced ${q.columns.length}")
    val aligned = q.select(q.columns.zip(tgt.fields).map { case (from, f) =>
      col(s"`$from`").cast(f.dataType).as(f.name)
    }.toSeq: _*)
    target.insert(aligned)
    refresh(t); maintainInsert(t, aligned); 1L
  }

  /** `MERGE INTO t [alias] USING (<query>) [alias] ON <cond>
    * [WHEN MATCHED [AND c] THEN UPDATE SET * | DELETE]...
    * [WHEN NOT MATCHED [AND c] THEN INSERT *]` → engine upsert. The ON
    * condition must be a conjunction of same-name column equalities
    * (`a.k = b.k`) — exactly the key-join the engine upsert implements.
    * Action forms are `UPDATE SET *` / `INSERT *` / `DELETE` (the
    * CDC-apply triad); a clause's condition may reference SOURCE columns
    * (qualified by the USING alias or bare), and per-row routing picks the
    * FIRST matched clause whose condition holds, SQL's clause-order
    * semantics. Anything else is rejected loudly.
    */
  private def merge(m: MergeIntoTable): Long = {
    import org.apache.spark.sql.functions.{col, lit, when}
    if (m.notMatchedBySourceActions.nonEmpty ||
        !(m.matchedActions ++ m.notMatchedActions).forall {
          case _: UpdateStarAction | _: DeleteAction | _: InsertStarAction => true
          case _ => false
        })
      throw new IllegalArgumentException(
        "MERGE supports WHEN MATCHED [AND cond] THEN UPDATE SET * | DELETE " +
          "and WHEN NOT MATCHED [AND cond] THEN INSERT * (engine merge semantics)")
    val matchedClauses = m.matchedActions
    val insertClause = m.notMatchedActions.headOption
    require(matchedClauses.count(_.isInstanceOf[UpdateStarAction]) <= 1 &&
      matchedClauses.count(_.isInstanceOf[DeleteAction]) <= 1 &&
      m.notMatchedActions.size <= 1,
      "MERGE allows at most one UPDATE, one DELETE, and one INSERT clause")
    val keys = conjuncts(m.mergeCondition).map {
      case EqualTo(l: UnresolvedAttribute, r: UnresolvedAttribute)
          if l.nameParts.last == r.nameParts.last => l.nameParts.last
      case e => throw new IllegalArgumentException(
        s"MERGE ON must be same-name column equalities; got '${e.sql}'")
    }
    val (srcAlias, source) = m.sourceTable match {
      case SubqueryAlias(a, q) => (Some(a.name), q)
      case q => (None, q)
    }
    if (source.isInstanceOf[UnresolvedRelation])
      throw unsupported("MERGE USING <table>; expected USING (<query>)")
    val t = target(EliminateSubqueryAliases(m.targetTable))
    // MERGE INTO → engine upsert: per-column incoming-wins coalesce on
    // the key join; source columns missing from the table evolve the
    // schema. Table columns ABSENT from the source become typed NULLs —
    // engine coalesce then preserves the existing value on matched rows
    // (SQL's "UPDATE only what SET names"), and the migration probe
    // routes rows whose delta cell value differs from their current
    // cell through the global merge, so a source without the partition
    // column cannot duplicate keys across cells.
    val target0 = ds(t)
    val tgtFields = target0.tableSchema.fields
    val q = planDf(source)
    val srcCols = q.columns.toSet
    val casted = q.select(q.columns.map { c =>
      tgtFields.find(_.name == c) match {
        case Some(f) => col(s"`$c`").cast(f.dataType).as(c)
        case None => col(s"`$c`")
      }
    }.toSeq: _*)
    val filled0 = tgtFields.filterNot(f => srcCols.contains(f.name))
      .foldLeft(casted)((d, f) => d.withColumn(f.name, lit(null).cast(f.dataType)))
    // Clause conditions reference SOURCE columns — aliasing the frame
    // with the statement's USING alias makes both `s.op` and bare `op`
    // resolve (a target-column reference fails analysis loudly).
    val filled = srcAlias.fold(filled0)(filled0.alias)
    // ANSI MERGE cardinality check (shared with the engine upsert) —
    // probed ONCE here on the filled source; the upserts below pass
    // `checkKeys = false` so the batch is not aggregated twice.
    LakeDataset.requireUniqueSourceKeys(spark, filled, keys, "MERGE source")
    // Pin touched groups BEFORE mutating (targeted MV maintenance).
    val preTouched = touchedGroupsPreKeys(t, filled, keys)
    val unconditionalUpsert = matchedClauses.nonEmpty &&
      matchedClauses.forall(_ == UpdateStarAction(None)) &&
      insertClause.exists(_.condition.isEmpty)
    if (unconditionalUpsert) {
      // Fast path — UPDATE+INSERT with no conditions IS the engine's
      // native merge: one upsert, no extra key joins.
      target0.upsert(filled, keys, checkKeys = false)
    } else {
      // Per-row clause routing, SQL's first-match-in-statement-order
      // semantics. Plain (non-null-safe) join semantics match SQL's ON:
      // a NULL key never matches, so it routes as NOT MATCHED.
      val existingKeys = target0.toDF.select(keys.map(col): _*)
      val matchedSrc = filled.join(existingKeys, keys.toSeq, "left_semi")
      val unmatchedSrc = filled.join(existingKeys, keys.toSeq, "left_anti")
      val act = matchedClauses.foldLeft(Option.empty[Column]) { (acc, cl) =>
        val w = cl.condition.fold(lit(true))(Bridge.column)
        val v = lit(if (cl.isInstanceOf[DeleteAction]) "delete" else "update")
        Some(acc.fold(when(w, v))(_.when(w, v)))
      }.getOrElse(lit(null).cast("string"))
      val routed = matchedSrc.withColumn("__merge_act", act)
      val updRows = routed.filter(col("__merge_act") === "update")
        .drop("__merge_act")
      val insRows = insertClause.map(cl =>
        cl.condition.fold(unmatchedSrc)(c => unmatchedSrc.filter(Bridge.column(c))))
      val upserts = (if (matchedClauses.exists(_.isInstanceOf[UpdateStarAction]))
        Some(updRows) else None, insRows) match {
        case (Some(u), Some(i)) => Some(u.unionByName(i))
        case (u, i) => u.orElse(i)
      }
      // Routing reads the PRE-state: pin the (drift-sized) delete key
      // set eagerly before any mutation so the upsert cannot shift it.
      val delKeys =
        if (matchedClauses.exists(_.isInstanceOf[DeleteAction]))
          Some(routed.filter(col("__merge_act") === "delete")
            .select(keys.map(col): _*).localCheckpoint(true))
        else None
      upserts.foreach(target0.upsert(_, keys, checkKeys = false))
      delKeys.foreach(target0.delete(_, keys))
    }
    refresh(t)
    preTouched.fold(maintainRebuild(t))(maintainTouched(t, _))
    1L
  }

  /** CTAS: run the query, lay the result out as a lake table (partition
    * columns from `PARTITIONED BY`, the bucket axis and the storage root
    * from `LOCATION`), register it.
    */
  private def createTable(c: CreateTableAsSelect, bCols: Seq[String], nBuckets: Int): Long = {
    val t = target(c.name)
    require(!tables.contains(t), s"table '$t' already exists")
    val pCols = c.partitioning.map { tr =>
      (tr.name, tr.references.toSeq.map(_.fieldNames.toSeq)) match {
        case ("identity", Seq(Seq(col))) => col
        case _ => throw unsupported(s"the partition transform ${tr.describe}")
      }
    }
    val spec = c.tableSpec.location.map(p => graft.model.StorageSpec(p))
    val created = LakeDataset.fromDataFrame(spark, planDf(c.query),
      pCols, bCols, nBuckets, spec)
    if (spec.isDefined) created.toStorage()
    register(t, created)
    1L
  }

  /** Catalog-only rename: the engine handle, feed registration, and every
    * dependent MV's base pointer move together; zero data jobs.
    */
  private def renameTable(from: String, to: String): Long = {
    val d = tables.getOrElse(from,
      throw new IllegalArgumentException(s"unknown lake table '$from'"))
    require(!tables.contains(to) && !mviews.contains(to) &&
      !mvJoins.contains(to), s"name '$to' already in use")
    tables.remove(from); tables.put(to, d)
    feeds.remove(from).foreach(feeds.put(to, _))
    // The defining query is an MV's durable form — rewrite the renamed
    // base where it is named (FROM, or either JOIN side; bare or
    // backquoted) so a later save/load resolves it.
    def renamed(query: String) = query.replaceAll(
      s"(?i)\\b(FROM|JOIN)(\\s+)(`?)$from\\3(?!\\w)", s"$$1$$2$$3$to$$3")
    mviews.foreach { case (mv, e) if e.base == from =>
      mviews.put(mv, e.copy(base = to, query = renamed(e.query)))
    case _ => ()
    }
    mvJoins.foreach { case (mv, e) if e.baseA == from || e.baseB == from =>
      mvJoins.put(mv, e.copy(
        baseA = if (e.baseA == from) to else e.baseA,
        baseB = if (e.baseB == from) to else e.baseB,
        query = renamed(e.query)))
    case _ => ()
    }
    spark.catalog.dropTempView(from)
    refresh(to); 1L
  }

  private def dropTable(t: String, purge: Boolean): Long = {
    val dropped = tables.remove(t).getOrElse(
      throw new IllegalArgumentException(s"unknown lake table '$t'"))
    feeds.remove(t)
    spark.catalog.dropTempView(t)
    // Dependent materialized views drop with their base (a stale MV
    // over a vanished table could only serve wrong answers).
    mviews.filter(_._2.base == t).keys.foreach { mv =>
      mviews.remove(mv); spark.catalog.dropTempView(mv)
    }
    mvJoins.filter { case (_, e) => e.baseA == t || e.baseB == t }
      .keys.foreach { mv =>
        mvJoins.remove(mv); spark.catalog.dropTempView(mv)
      }
    // PURGE additionally deletes the storage root — without it the
    // files survive (an unregister, like dropping an external table).
    if (purge)
      dropped.storage.foreach(s =>
        LakeDataset.deleteRecursively(java.nio.file.Paths.get(s.root)))
    1L
  }
}
