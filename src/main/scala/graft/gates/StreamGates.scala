package graft.gates

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Fixtures
import graft.Fixtures.table
import graft.lake.{Database, LakeDataset}
import graft.operators.{ExactDedupIndex, MaterializedAgg, MinhashIndex, Similarity, TextSearch}
import GateHelpers.{dsum, osum, dailyPurchases, erasureFullOracle}

/** Structured Streaming gates: MemoryStream micro-batches through the
  * streaming operators and the catalog sinks, each checked on the state
  * it converges to.
  */
private[gates] object StreamGates {

  /** State-store count for a fixture-lifetime stateful stream. Stateful
    * operators fix `spark.sql.shuffle.partitions` STATE STORES at query
    * start and every store pays a per-epoch commit, so the count is a
    * SCALE KNOB, not a constant: derive it from the stream's expected key
    * volume — one store per [[StreamKeysPerStore]] keys, floored at 4 (the
    * measured ~2× trim for these fixture-sized streams vs 32 near-empty
    * stores) and capped at the session's shuffle-partition setting (a
    * 100 TB keyspace gets the cluster's full store count, never fewer
    * stores than the session would plan anyway... never MORE than it
    * either — store count beyond the configured parallelism only adds
    * commit overhead).
    */
  private def streamStatePartitions(s: SparkSession, expectedKeys: Long): Int = {
    val sessionParts = s.conf.get("spark.sql.shuffle.partitions", "32").toInt
    math.max(4L, math.min(sessionParts.toLong,
      (expectedKeys + StreamKeysPerStore - 1) / StreamKeysPerStore)).toInt
  }

  /** Expected stream keys per state store ([[streamStatePartitions]]). */
  private val StreamKeysPerStore = 250000L

  /** A child of `s` for one fixture-lifetime stateful stream: the gate builds
    * its MemoryStreams and its streaming query on the child and keeps its
    * `LakeDataset` and its final result query on `s`, whose conf it never
    * changes. The child carries four semantics-preserving trims:
    *
    *  - shuffle partitions → [[streamStatePartitions]] (state-store count
    *    derives from the key volume);
    *  - state-store maintenance interval → beyond the gate's lifetime: the
    *    background snapshot/cleanup thread's file ops otherwise land INSIDE
    *    the timed stream (isolated A/B: stream_outer_join 8.1 → 6.8 s,
    *    stream_session_window 4.6 → 3.6/3.9 s across two runs; a real
    *    deployment wants the default — an unbounded stream must compact its
    *    delta files — so this is scoped to the gate);
    *  - minBatchesToRetain → 2: a gate runs ≤ 4 epochs, retaining the
    *    default 100 batches of offset/commit/state history is pure
    *    bookkeeping;
    *  - noDataMicroBatches → off: after every data batch the engine
    *    schedules an EXTRA empty batch to apply the advanced watermark
    *    (eviction/emission), and each one commits every state store. All
    *    five trimmed gates advance their watermarks with explicit sentinel
    *    DATA batches (two far-future rounds: the first moves the watermark,
    *    the second — a data batch — flushes under it), so the no-data
    *    batches add commits without changing any emitted row; the DuckDB
    *    oracle re-proves the final state per gate. A deployment emitting on
    *    wall-clock watermark progress (no sentinel traffic) wants the
    *    default, which is why this is gate-scoped.
    */
  private def streamSession(s: SparkSession, expectedKeys: Long): SparkSession = {
    val child = s.newSession()
    child.conf.set("spark.sql.shuffle.partitions",
      streamStatePartitions(s, expectedKeys).toString)
    child.conf.set("spark.sql.streaming.stateStore.maintenanceInterval", "600s")
    child.conf.set("spark.sql.streaming.minBatchesToRetain", "2")
    child.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    child
  }

  /** Stop a query that ran on a [[streamSession]] child and unregister the
    * streaming listener buses its run left on the shared listener bus: the
    * child's and that of Spark's per-query clone of it.
    */
  private def stopOwned(q: org.apache.spark.sql.streaming.StreamingQuery): Unit =
    try q.stop() finally org.apache.spark.sql.graftbridge.Bridge.releaseStreamBuses(q)

  val gates: Seq[Gate] = Seq(
    // REAL Structured Streaming ingest through the correctness gate: two
    // deterministic MemoryStream micro-batches of delta keys run through a
    // Native bounded-state streaming dedup under the oracle: document ids
    // arrive with cross-batch replays and in-batch duplicates; Spark's
    // dropDuplicatesWithinWatermark (StreamingIngest.dedupWithinWatermark)
    // must pass each id exactly once into the lake, so the final content
    // joined back to documents is the plain distinct set — any leaked
    // duplicate doubles a count and fails the hash.
    Gate("stream_dedup", (s, dir) => {
      import s.implicits._
      val docs = table(s, dir, "documents")
      val root = Files.createTempDirectory("graft_sdedup").toString
      val ds = LakeDataset.forStorage(s, partitionCols = Nil, bucketCols = Nil,
        nBuckets = 1, bloomCols = Nil,
        storage = graft.model.StorageSpec(root))
      val ids = docs.select("doc_id").as[Long].collect().sorted
      require(ids.length <= 100000, s"gate fixture grew: ${ids.length} ids")
      // The stateful dedup keys by doc_id over spark.sql.shuffle.partitions
      // STATE STORES, fixed at query start; 32 stores × per-batch commit
      // dominates this small stream's wall clock (measured ~2×). The store
      // count DERIVES from the stream's key volume (streamStatePartitions —
      // 4 at this fixture's size, scaling with keys at 100 TB), set on the
      // stream's own session.
      implicit val sqlCtx: org.apache.spark.sql.SQLContext =
        streamSession(s, ids.length.toLong).sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, java.sql.Timestamp)]
      def ts(m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
      val deduped = graft.streaming.StreamingIngest.dedupWithinWatermark(
        mem.toDF().toDF("doc_id", "ts"), Seq("doc_id"), "ts", "10 minutes")
      val q = deduped.writeStream.foreachBatch(
        (b: DataFrame, _: Long) => ds.insert(b.select("doc_id"))).start()
      try {
        mem.addData(ids.filter(_ % 3 == 0).map(i => (i, ts(0))).toSeq: _*)
        q.processAllAvailable()
        // cross-batch replay of batch 1 + fresh ids
        mem.addData(ids.filter(_ % 3 <= 1).map(i => (i, ts(2))).toSeq: _*)
        q.processAllAvailable()
        // in-batch duplicates of the remaining ids
        val rest = ids.filter(_ % 3 == 2)
        mem.addData((rest ++ rest).map(i => (i, ts(4))).toSeq: _*)
        q.processAllAvailable()
      } finally stopOwned(q)
      ds.toDF.join(docs, "doc_id")
        .groupBy("lang")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
        .orderBy("lang")
    }, Sql(
      // Every id exactly once despite cross-batch replays and in-batch dups.
      """SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // STREAM-STREAM interval join (impression→click): every event streams
    // on the left; a delayed click stream (event_id % 3 == 0, delayed by
    // event_id % 7 minutes) arrives in a LATER micro-batch, so every match
    // crosses batch boundaries through the join state. Clicks delayed past
    // the 5-minute window must NOT match — the oracle recomputes the
    // interval join relationally over the same derived click table.
    Gate("stream_interval_join", (s, dir) => {
      import s.implicits._
      val ev = table(s, dir, "events")
      // The driver array is the harness's stream SOURCE, not the operator;
      // it must not grow O(table) silently. Epoch-micros longs, NOT
      // java.sql.Timestamp: Timestamp arithmetic via getTime drops the
      // sub-millisecond micros and a delay-0 click would land strictly
      // before its impression.
      val rows = ev.select(col("event_id"), unix_micros(col("ts")))
        .as[(Long, Long)].collect()
      require(rows.length <= 200000, s"gate fixture grew: ${rows.length} events")
      implicit val sqlCtx: org.apache.spark.sql.SQLContext =
        streamSession(s, rows.length.toLong).sqlContext
      val memA = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long)]
      val memB = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long)]
      val joined = graft.streaming.StreamingIngest.intervalJoin(
        memA.toDF().toDF("event_id", "us_a")
          .select(col("event_id"), timestamp_micros(col("us_a")).as("ts_a")),
        memB.toDF().toDF("evt_b", "us_b")
          .select(col("evt_b"), timestamp_micros(col("us_b")).as("ts_b")),
        "event_id", "evt_b", "ts_a", "ts_b", "5 minutes", "10 minutes")
      val root = Files.createTempDirectory("graft_ssj").toString
      val ds = LakeDataset.forStorage(s, partitionCols = Nil, bucketCols = Nil,
        nBuckets = 1, bloomCols = Nil, storage = graft.model.StorageSpec(root))
      val q = joined.writeStream.foreachBatch(
        (b: DataFrame, _: Long) =>
          ds.insert(b.select("event_id", "ts_a", "ts_b"))).start()
      try {
        memA.addData(rows.toSeq: _*)
        q.processAllAvailable()
        val clicks = rows.filter(_._1 % 3 == 0).map { case (id, us) =>
          (id, us + (id % 7) * 60000000L)
        }
        memB.addData(clicks.toSeq: _*)
        q.processAllAvailable()
      } finally stopOwned(q)
      ds.toDF.join(ev, "event_id")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(((unix_timestamp(col("ts_b")) - unix_timestamp(col("ts_a"))) / 60)
            .cast("long")).as("total_delay_min"))
        .orderBy("event_type")
    }, Sql(
      // The stream-stream interval join recomputed relationally: the click
      // table is the same deterministic derivation (event_id % 3 == 0,
      // delayed event_id % 7 minutes), and only delays <= 5 minutes match.
      """WITH b AS (
        |  SELECT event_id, event_id % 7 AS delay_min
        |  FROM events WHERE event_id % 3 = 0)
        |SELECT e.event_type, COUNT(*) AS n,
        |       CAST(SUM(delay_min) AS BIGINT) AS total_delay_min
        |FROM events e JOIN b USING (event_id)
        |WHERE delay_min <= 5
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin)),

    // STREAMING rolling anomaly flags — the stream twin of ts_anomaly:
    // same integer predicate over a per-key ring of the last 5
    // observations (flatMapGroupsWithState, state O(keys·N)), fed the same
    // series in two event-time-ordered epochs; the final flag table
    // hash-matches ts_anomaly's HUGEINT oracle bit-for-bit.
    Gate("stream_anomaly", (s, dir) => {
      import s.implicits._
      import graft.streaming.StreamingIngest
      val series = dailyPurchases(s, dir)
        .select(col("user_id"), unix_micros(col("day")), col("v_ticks"))
        .as[(Long, Long, Long)].collect().sortBy(r => (r._2, r._1))
      require(series.length <= 200000, s"gate fixture grew: ${series.length} points")
      implicit val sqlCtx: org.apache.spark.sql.SQLContext =
        streamSession(s, series.length.toLong).sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, Long)]
      val flags = StreamingIngest.anomalyFlags(
        mem.toDS().map { case (k, us, v) => StreamingIngest.SeriesPoint(k, us, v) },
        window = 5, kNum = 2, kDen = 1)
      val root = Files.createTempDirectory("graft_sanom").toString
      val ds = LakeDataset.forStorage(s, partitionCols = Nil, bucketCols = Nil,
        nBuckets = 1, bloomCols = Nil, storage = graft.model.StorageSpec(root))
      val q = flags.toDF.writeStream.outputMode("append").foreachBatch(
        (b: DataFrame, _: Long) => ds.insert(b)).start()
      try {
        // Global event-time order makes every key monotone across epochs —
        // the contract the stateful ring requires.
        val (h1, h2) = series.splitAt(series.length / 2)
        mem.addData(h1.toSeq: _*)
        q.processAllAvailable()
        mem.addData(h2.toSeq: _*)
        q.processAllAvailable()
      } finally stopOwned(q)
      ds.toDF.select(col("key").as("user_id"),
          timestamp_micros(col("ts_us")).as("day"),
          col("v").as("v_ticks"), col("anomaly"))
        .orderBy("user_id", "day")
    }, Sql(
      // The stream twin must converge to the batch flags exactly.
      """WITH obs AS (
        |  SELECT user_id, date_trunc('day', ts) AS day,
        |    CAST(SUM(CAST(value AS DECIMAL(38,4))) * 10000 AS BIGINT) AS v_ticks
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |win AS (SELECT user_id, day, v_ticks,
        |    COUNT(v_ticks) OVER w AS m,
        |    SUM(CAST(v_ticks AS HUGEINT)) OVER w AS s1,
        |    SUM(CAST(v_ticks AS HUGEINT) * CAST(v_ticks AS HUGEINT)) OVER w AS s2
        |  FROM obs
        |  WINDOW w AS (PARTITION BY user_id ORDER BY day
        |    ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING))
        |SELECT user_id, day, v_ticks,
        |  CASE WHEN v_ticks IS NULL OR m < 5 THEN NULL
        |       ELSE (5*v_ticks - s1)*(5*v_ticks - s1) > 4*(5*s2 - s1*s1) END
        |    AS anomaly
        |FROM win""".stripMargin)),

    // STREAMING SESSION WINDOWS: gap-based sessions through Spark's native
    // session_window state store, APPEND mode — a session emits only once
    // the watermark proves no event can still extend it. Two far-future
    // sentinel batches close every real session (first advances the
    // watermark, second flushes under it; the sentinels' own sessions are
    // filtered by key). The emitted set then equals the batch
    // sessionization of the final events — one DuckDB lag/cumsum oracle.
    Gate("stream_session_window", (s, dir) => {
      import s.implicits._
      val ev = table(s, dir, "events").filter(col("user_id") % 20 === 0)
      val rows = ev.select(col("user_id"), unix_micros(col("ts")), col("value"))
        .as[(Long, Long, Double)].collect().sortBy(_._2)
      require(rows.length <= 200000, s"gate fixture grew: ${rows.length} events")
      val maxUs = rows.map(_._2).max
      implicit val sqlCtx: org.apache.spark.sql.SQLContext =
        streamSession(s, rows.length.toLong).sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, Double)]
      val sess = graft.streaming.StreamingIngest.sessionWindows(
        mem.toDF().toDF("user_id", "us", "value")
          .select(col("user_id"), timestamp_micros(col("us")).as("ts"), col("value")),
        "ts", "user_id", "value", gap = "30 minutes", watermark = "1 hour")
      val root = Files.createTempDirectory("graft_ssw").toString
      val ds = LakeDataset.forStorage(s, partitionCols = Nil, bucketCols = Nil,
        nBuckets = 1, bloomCols = Nil, storage = graft.model.StorageSpec(root))
      val q = sess.writeStream.outputMode("append").foreachBatch(
        (b: DataFrame, _: Long) =>
          ds.insert(b.select("sess_start", "user_id", "n", "total_value"))).start()
      try {
        val (h1, h2) = rows.splitAt(rows.length / 2)
        mem.addData(h1.toSeq: _*)
        q.processAllAvailable()
        mem.addData(h2.toSeq: _*)
        q.processAllAvailable()
        mem.addData((-1L, maxUs + 86400000000L, 0.0))
        q.processAllAvailable()
        mem.addData((-1L, maxUs + 2 * 86400000000L, 0.0))
        q.processAllAvailable()
      } finally stopOwned(q)
      ds.toDF.filter(col("user_id") >= 0)
        .select(unix_micros(col("sess_start")).as("sess_start_us"),
          col("user_id"), col("n"), col("total_value"))
        .orderBy("user_id", "sess_start_us")
    }, Sql(
      // The streaming session windows, once every session is watermark-closed,
      // equal the batch sessionization of the final event set.
      s"""WITH e AS (SELECT * FROM events WHERE user_id % 20 = 0),
         |t AS (
         |  SELECT user_id, ts, value,
         |    CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER
         |           (PARTITION BY user_id ORDER BY ts, event_id)
         |         >= 1800000000 THEN 1 ELSE 0 END AS brk
         |  FROM e),
         |s AS (
         |  SELECT user_id, ts, value,
         |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
         |                   ROWS UNBOUNDED PRECEDING) AS sid
         |  FROM t)
         |SELECT epoch_us(MIN(ts)) AS sess_start_us, user_id,
         |  COUNT(*) AS n, ${osum("value", 4)} AS total_value
         |FROM s GROUP BY user_id, sid
         |ORDER BY user_id, sess_start_us""".stripMargin)),

    // LEFT-OUTER stream-stream join: an impression with no in-window click
    // must null-extend — but only once the watermark PROVES no match can
    // still arrive. Two far-future sentinel batches drive the watermark
    // past all data (the first advances it, the second runs a batch under
    // it so the evicted unmatched rows emit); the oracle is the relational
    // left join with matched/unmatched splits.
    Gate("stream_outer_join", (s, dir) => {
      import s.implicits._
      val ev = table(s, dir, "events")
      val rows = ev.select(col("event_id"), unix_micros(col("ts")))
        .as[(Long, Long)].collect()
      require(rows.length <= 200000, s"gate fixture grew: ${rows.length} events")
      val maxUs = rows.map(_._2).max
      implicit val sqlCtx: org.apache.spark.sql.SQLContext =
        streamSession(s, rows.length.toLong).sqlContext
      val memA = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long)]
      val memB = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long)]
      val joined = graft.streaming.StreamingIngest.intervalJoin(
        memA.toDF().toDF("event_id", "us_a")
          .select(col("event_id"), timestamp_micros(col("us_a")).as("ts_a")),
        memB.toDF().toDF("evt_b", "us_b")
          .select(col("evt_b"), timestamp_micros(col("us_b")).as("ts_b")),
        "event_id", "evt_b", "ts_a", "ts_b", "5 minutes", "10 minutes",
        joinType = "leftOuter")
      val root = Files.createTempDirectory("graft_ssoj").toString
      val ds = LakeDataset.forStorage(s, partitionCols = Nil, bucketCols = Nil,
        nBuckets = 1, bloomCols = Nil, storage = graft.model.StorageSpec(root))
      val q = joined.writeStream.foreachBatch(
        (b: DataFrame, _: Long) =>
          ds.insert(b.select("event_id", "ts_a", "ts_b"))).start()
      try {
        memA.addData(rows.toSeq: _*)
        q.processAllAvailable()
        val clicks = rows.filter(_._1 % 3 == 0).map { case (id, us) =>
          (id, us + (id % 7) * 60000000L)
        }
        memB.addData(clicks.toSeq: _*)
        q.processAllAvailable()
        val day = 86400000000L
        memA.addData((-1L, maxUs + day)); memB.addData((-1L, maxUs + day))
        q.processAllAvailable()
        memA.addData((-2L, maxUs + 2 * day)); memB.addData((-2L, maxUs + 2 * day))
        q.processAllAvailable()
      } finally stopOwned(q)
      ds.toDF.filter(col("event_id") >= 0)
        .join(ev, "event_id")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_total"),
          count(col("ts_b")).as("n_matched"),
          sum(when(col("ts_b").isNull, 1L).otherwise(0L)).as("n_unmatched"),
          sum(((unix_timestamp(col("ts_b")) - unix_timestamp(col("ts_a"))) / 60)
            .cast("long")).as("total_delay_min"))
        .orderBy("event_type")
    }, Sql(
      // The left-outer variant: every event appears once; in-window clicks
      // match, everything else null-extends after the watermark flush.
      """WITH b AS (
        |  SELECT event_id, event_id % 7 AS delay_min
        |  FROM events WHERE event_id % 3 = 0 AND event_id % 7 <= 5)
        |SELECT e.event_type,
        |  COUNT(*) AS n_total,
        |  COUNT(b.event_id) AS n_matched,
        |  CAST(SUM(CASE WHEN b.event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_unmatched,
        |  CAST(SUM(delay_min) AS BIGINT) AS total_delay_min
        |FROM events e LEFT JOIN b USING (event_id)
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin)),

    // streaming query whose foreachBatch applies the SAME upsert path the
    // batch API uses (StreamingIngest.upsertBatches shape); the merged table
    // state is SQL-expressible.
    Gate("stream_ingest_upsert", (s, dir) => {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val o = table(s, dir, "orders")
      val ds = LakeDataset.fromDataFrame(s, o, partitionCols = Seq("o_orderstatus"))
      // Delta keys for the MemoryStream: a BOUNDED, deterministic collect —
      // the driver array is the harness's stream source, not the operator,
      // and must not grow O(table). The cap is a loud FAILURE, not a silent
      // limit(): truncating would quietly diverge from the oracle's
      // unbounded %13 predicate at sf >= 1 (~115k keys/class there).
      def streamKeys(m: Int): Seq[Long] = {
        val cap = 1000000
        val keys = o.select("o_orderkey").filter(col("o_orderkey") % 13 === m)
          .orderBy("o_orderkey").limit(cap + 1).as[Long].collect().toSeq
        require(keys.length <= cap,
          s"stream_ingest_upsert fixture: > $cap delta keys at this scale " +
            "factor; the MemoryStream harness (driver-resident by design) " +
            "stops here rather than silently diverge from the oracle")
        keys
      }
      val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
      val apply: (DataFrame, Long) => Unit = (batch, _) => {
        val delta = o.join(broadcast(batch), o("o_orderkey") === col("delta_key"))
          .drop("delta_key")
          .withColumn("o_totalprice", col("o_totalprice") + 250)
        ds.upsert(delta, Seq("o_orderkey"))
      }
      val q = mem.toDF().toDF("delta_key").writeStream.foreachBatch(apply).start()
      try {
        mem.addData(streamKeys(1))
        q.processAllAvailable()
        mem.addData(streamKeys(2))
        q.processAllAvailable()
      } finally q.stop()
      ds.toDF.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy("o_orderstatus")
    }, Sql(
      s"""SELECT o_orderstatus, COUNT(*) AS n, ${osum("o_totalprice")} AS total
         |FROM (
         |  SELECT o_orderstatus,
         |         o_totalprice + CASE WHEN o_orderkey % 13 IN (1, 2)
         |                             THEN 250 ELSE 0 END AS o_totalprice
         |  FROM orders) t
         |GROUP BY o_orderstatus""".stripMargin)),

    // STREAMING materialized-view maintenance: inserts arrive as a stream
    // through the CATALOG sink (Database.streamInsertSink), and every
    // micro-batch folds into the registered MV at O(batch)+O(groups) — the
    // MV is never rebuilt and the base is never rescanned. The final answer
    // is read FROM THE MV STATE; the oracle recomputes the group-by over
    // everything the base + stream delivered, so a missed or double-folded
    // batch hash-mismatches. (The Delta-Live-Tables composition: the batch
    // MV gate is lake_sql_matview, the batch fold spec is MatViewSpec,
    // this gate is the streaming closure.)
    Gate("stream_mv_maintenance", (s, dir) => {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val o = table(s, dir, "orders")
      // Base table holds o_orderkey % 5 in {0, 3, 4}; epochs stream in
      // %5==1 then %5==2, so the final state is exactly the full table.
      val base = o.filter(col("o_orderkey") % 5 === 0 ||
        col("o_orderkey") % 5 >= 3)
      val ds = LakeDataset.fromDataFrame(s, base,
        partitionCols = Seq("o_orderstatus"))
      val db = new Database(s)
      db.register("mvs_t", ds)
      db.executeDml(
        """CREATE MATERIALIZED VIEW mvs_v AS
          |SELECT o_orderstatus, COUNT(*) AS n, SUM(o_totalprice) AS total
          |FROM mvs_t GROUP BY o_orderstatus""".stripMargin)
      // Delta keys for the MemoryStream: bounded deterministic collect —
      // the driver array is the harness's stream source, not the operator
      // (same loud-cap contract as stream_ingest_upsert).
      def streamKeys(m: Int): Seq[Long] = {
        val cap = 1000000
        val keys = o.select("o_orderkey").filter(col("o_orderkey") % 5 === m)
          .orderBy("o_orderkey").limit(cap + 1).as[Long].collect().toSeq
        require(keys.length <= cap,
          s"stream_mv_maintenance fixture: > $cap delta keys at this " +
            "scale factor; the MemoryStream harness stops here rather " +
            "than silently diverge from the oracle")
        keys
      }
      val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
      val sink = db.streamInsertSink("mvs_t")
      val apply: (DataFrame, Long) => Unit = (batch, id) =>
        sink(o.join(broadcast(batch), o("o_orderkey") === col("delta_key"))
          .drop("delta_key"), id)
      val q = mem.toDF().toDF("delta_key").writeStream.foreachBatch(apply).start()
      try {
        mem.addData(streamKeys(1))
        q.processAllAvailable()
        mem.addData(streamKeys(2))
        q.processAllAvailable()
      } finally q.stop()
      s.sql(
        """SELECT o_orderstatus, n, CAST(total AS DOUBLE) AS total
          |FROM mvs_v ORDER BY o_orderstatus""".stripMargin)
    }, Sql(
      // Final MV state == group-by over base + both streamed epochs = the
      // whole table (the %5 classes partition the keys).
      s"""SELECT o_orderstatus, COUNT(*) AS n, ${osum("o_totalprice")} AS total
         |FROM orders GROUP BY o_orderstatus""".stripMargin)),

    // STREAMING join-MV maintenance: CDC upserts stream into the FACT side
    // of a registered `a JOIN b USING (k)` materialized view through the
    // catalog's upsert sink — epoch 1 inserts new orders, epoch 2 rewrites
    // existing ones INCLUDING a join-key move (custkey+1), and every batch
    // maintains the view by recomputing only its touched join keys (the
    // same targeted path the SQL verbs use; never a rebuild, never a base
    // rescan). The answer is read FROM THE VIEW STATE, so a missed batch,
    // a double fold, or mishandled key movement hash-mismatches the
    // oracle's one-shot join over everything delivered.
    Gate("stream_mv_join", (s, dir) => {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val o = table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey").as("custkey"),
          col("o_totalprice"))
      val db = new Database(s)
      db.register("mvjs_f", LakeDataset.fromDataFrame(
        s, o.filter(col("o_orderkey") % 4 < 2)))
      db.register("mvjs_d", LakeDataset.fromDataFrame(
        s, table(s, dir, "customer")
          .select(col("c_custkey").as("custkey"), col("c_name"))))
      db.executeDml(
        """CREATE MATERIALIZED VIEW mvjs AS
          |SELECT custkey, o_orderkey, o_totalprice, c_name
          |FROM mvjs_f JOIN mvjs_d USING (custkey)""".stripMargin)
      def epochKeys(pred: Column): Seq[Long] = {
        val cap = 1000000
        val keys = o.select("o_orderkey").filter(pred)
          .orderBy("o_orderkey").limit(cap + 1).as[Long].collect().toSeq
        require(keys.length <= cap,
          s"stream_mv_join fixture: > $cap delta keys at this scale " +
            "factor; the MemoryStream harness stops here rather than " +
            "silently diverge from the oracle")
        keys
      }
      val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
      val sink = db.streamUpsertSink("mvjs_f", Seq("o_orderkey"))
      val apply: (DataFrame, Long) => Unit = (batch, id) => {
        // Epoch 2's keys (%8==1) rewrite price AND custkey — a CDC image
        // that moves rows to another join key; epoch 1's insert as-is.
        val delta = o.join(broadcast(batch), o("o_orderkey") === col("delta_key"))
          .drop("delta_key")
          .withColumn("o_totalprice",
            when(col("o_orderkey") % 8 === 1, col("o_totalprice") + 250)
              .otherwise(col("o_totalprice")))
          .withColumn("custkey",
            when(col("o_orderkey") % 8 === 1, col("custkey") + 1)
              .otherwise(col("custkey")))
          .select("o_orderkey", "custkey", "o_totalprice")
        sink(delta, id)
      }
      val q = mem.toDF().toDF("delta_key").writeStream.foreachBatch(apply).start()
      try {
        mem.addData(epochKeys(col("o_orderkey") % 4 === 2))
        q.processAllAvailable()
        mem.addData(epochKeys(col("o_orderkey") % 8 === 1))
        q.processAllAvailable()
      } finally q.stop()
      assert(db.mvRebuildCount("mvjs") == 0,
        "stream_mv_join: maintenance must stay incremental")
      s.sql("SELECT * FROM mvjs")
    }, Sql(
      // stream_mv_join: the view state after base %4<2, epoch-1 insert of
      // %4=2, epoch-2 CDC rewrite of %8=1 (price+250, custkey+1 — a key
      // move). %8=1 implies %4=1, so every epoch-2 key exists in the table.
      """WITH f1 AS (
        |  SELECT o_orderkey, o_custkey AS custkey, o_totalprice
        |  FROM orders WHERE o_orderkey % 4 < 2 OR o_orderkey % 4 = 2),
        |f2 AS (SELECT o_orderkey,
        |              CASE WHEN o_orderkey % 8 = 1 THEN custkey + 1
        |                   ELSE custkey END AS custkey,
        |              CASE WHEN o_orderkey % 8 = 1 THEN o_totalprice + 250
        |                   ELSE o_totalprice END AS o_totalprice
        |       FROM f1),
        |d AS (SELECT c_custkey AS custkey, c_name FROM customer)
        |SELECT custkey, o_orderkey, o_totalprice, c_name
        |FROM f2 JOIN d USING (custkey)""".stripMargin)),

    // STREAMING heavy hitters: the stream twin of text_heavy_terms. Each
    // micro-batch of documents explodes to terms and folds its per-term
    // counts into a MaterializedAgg keyed by term — O(batch)+O(vocab per
    // merge), the corpus is never rescanned — and the final top-15 is read
    // from the VIEW STATE with the batch operator's exact (cnt DESC, value)
    // order. The oracle is the one-shot count over the whole corpus, so a
    // dropped batch, a double fold, or a tie-order drift hash-mismatches.
    Gate("stream_heavy_terms", (s, dir) => {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val docs = table(s, dir, "documents")
      val counter = MaterializedAgg.build(
        docs.filter(lit(false))
          .select(explode(split(trim(col("text")), " ")).as("w")),
        Seq("w"), Seq(MaterializedAgg.count("cnt")))
      def epochIds(m: Long): Seq[Long] = {
        val cap = 1000000
        val ids = docs.select("doc_id").filter(col("doc_id") % 2 === m)
          .orderBy("doc_id").limit(cap + 1).as[Long].collect().toSeq
        require(ids.length <= cap,
          s"stream_heavy_terms fixture: > $cap doc ids at this scale " +
            "factor; the MemoryStream harness stops here rather than " +
            "silently diverge from the oracle")
        ids
      }
      val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
      val apply: (DataFrame, Long) => Unit = (batch, _) =>
        counter.applyInsert(
          docs.join(broadcast(batch), docs("doc_id") === col("delta_id"))
            .select(explode(split(trim(col("text")), " ")).as("w")))
      val q = mem.toDF().toDF("delta_id").writeStream.foreachBatch(apply).start()
      try {
        mem.addData(epochIds(0L))
        q.processAllAvailable()
        mem.addData(epochIds(1L))
        q.processAllAvailable()
      } finally q.stop()
      counter.state.select(col("w").as("value"), col("cnt"))
        .orderBy(desc("cnt"), asc("value")).limit(15)
    }, Sql(
      // stream_heavy_terms: the stream fold must converge on the one-shot
      // whole-corpus count — identical SQL to text_heavy_terms.
      """SELECT w AS value, COUNT(*) AS cnt FROM (
        |  SELECT unnest(string_split(TRIM(text), ' ')) AS w FROM documents) t
        |GROUP BY w ORDER BY cnt DESC, value LIMIT 15""".stripMargin)),

    // EXACTLY-ONCE streaming append: epoch-partitioned cells, overwrite on
    // replay (StreamingIngest.exactlyOnceInsert scaladoc). The query
    // re-delivers epoch 0 after the stream — the oracle (each slice once)
    // fails if the replay duplicates OR if a batch is lost.
    Gate("stream_exactly_once", (s, dir) => {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      import graft.streaming.StreamingIngest
      val o = table(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val root = Files.createTempDirectory("graft_eo_gate").toString
      val ds = LakeDataset.forStorage(s,
        partitionCols = Seq(StreamingIngest.EpochCol), bucketCols = Nil,
        nBuckets = 1, bloomCols = Nil,
        storage = graft.model.StorageSpec(root))
      val sink = StreamingIngest.exactlyOnceInsert(ds)
      def slice(m: Long) = o.filter(col("o_orderkey") % 3 === m)
      val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
      val apply: (DataFrame, Long) => Unit = (batch, e) => {
        val ms = batch.as[Long].collect()
        require(ms.length == 1)
        sink(slice(ms.head), e)
      }
      val q = mem.toDF().writeStream.foreachBatch(apply).start()
      try {
        mem.addData(0L); q.processAllAvailable()
        mem.addData(1L); q.processAllAvailable()
      } finally q.stop()
      // Redelivered epoch (crash after sink, before checkpoint commit).
      sink(slice(0L), 0L)
      LakeDataset.fromStorage(s, root).toDF
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy("o_orderstatus")
    }, Sql(
      // Each %3 slice exactly once despite the re-delivered epoch.
      s"""SELECT o_orderstatus, COUNT(*) AS n, ${osum("o_totalprice")} AS total
         |FROM orders WHERE o_orderkey % 3 <= 1
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // Drift-gated streaming ingest: the promote-or-hold admission gate as
    // a foreachBatch sink. Batch 1 is a true subsample of the corpus's
    // length distribution (TVD ~0.1) and must land in the main table;
    // batch 2 shifts every document +400 chars (TVD ~0.9) and must be
    // quarantined WHOLE. The oracle hardcodes those two outcomes, so an
    // engine that admits the drifted batch (or holds the conforming one)
    // hash-mismatches — the DECISION is what's under test.
    Gate("stream_drift_gate", (s, dir) => {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val d = table(s, dir, "documents").select("doc_id", "n_chars")
      val main = LakeDataset.fromDataFrame(s, d)
      val quarantine = LakeDataset.fromDataFrame(s, d.limit(0))
      val gate = graft.streaming.StreamingIngest.driftGatedBatches(
        main, quarantine, "n_chars", binWidth = 50L, nBins = 12,
        maxDevPerMille = 400L)
      // MemoryStream fixture rows: bounded, deterministic, loud cap (the
      // documented harness pattern — the driver array is the stream
      // source, not the operator).
      def rows(m: Int, idShift: Long, lenShift: Long): Seq[(Long, Long)] = {
        val cap = 200000
        val r = d.filter(col("doc_id") % 5 === m)
          .select((col("doc_id") + idShift).as("doc_id"),
            (col("n_chars") + lenShift).as("n_chars"))
          .orderBy("doc_id").limit(cap + 1).as[(Long, Long)].collect().toSeq
        require(r.length <= cap,
          s"stream_drift_gate fixture: > $cap rows at this scale factor")
        r
      }
      val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long)]
      val q = mem.toDF().toDF("doc_id", "n_chars")
        .writeStream.foreachBatch(gate).start()
      try {
        mem.addData(rows(1, 700000L, 0L))
        q.processAllAvailable()
        mem.addData(rows(2, 800000L, 400L))
        q.processAllAvailable()
      } finally q.stop()
      main.toDF.select(lit("main").as("dst"), col("doc_id"), col("n_chars"))
        .unionByName(quarantine.toDF
          .select(lit("quarantine").as("dst"), col("doc_id"), col("n_chars")))
        .groupBy("dst")
        .agg(count(lit(1)).as("n"), sum("doc_id").as("sum_ids"),
          sum("n_chars").as("sum_chars"))
        .orderBy("dst")
    }, Sql(
      // The oracle HARDCODES the admit/quarantine outcomes the drift gate
      // must reach: batch 1 (a distribution-true subsample) lands in main,
      // batch 2 (+400 chars, TVD ~0.9 against the snapshot) lands whole in
      // quarantine.
      """WITH mainr AS (
        |  SELECT doc_id, n_chars FROM documents
        |  UNION ALL
        |  SELECT doc_id + 700000, n_chars FROM documents WHERE doc_id % 5 = 1),
        |quar AS (
        |  SELECT doc_id + 800000 AS doc_id, n_chars + 400 AS n_chars
        |  FROM documents WHERE doc_id % 5 = 2),
        |u AS (SELECT 'main' AS dst, doc_id, n_chars FROM mainr
        |      UNION ALL
        |      SELECT 'quarantine' AS dst, doc_id, n_chars FROM quar)
        |SELECT dst, COUNT(*) AS n,
        |  CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM u GROUP BY dst ORDER BY dst""".stripMargin)),

    // STREAMING right-to-be-forgotten: the same seven-surface erasure
    // composition, but the erase requests arrive as a STREAM (two
    // micro-batches through a foreachBatch sink) — deletion requests
    // trickle in continuously in a real GDPR pipeline. The final state
    // must hash-match pipeline_erasure_full's batch oracle exactly: the
    // sink's incremental, touched-cell-bounded removes converge to the
    // same state as one batch erase.
    Gate("stream_erasure", (s, dir) => {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val d = table(s, dir, "documents")
        .filter(col("doc_id") < 1000).select("doc_id", "text")
      val emb = table(s, dir, "embeddings")
        .filter(col("vec_id") < 1000).select("vec_id", "embedding")

      // 4 buckets / 8 IVF lists: the surface COUNTS this gate reports are
      // layout-independent (same oracle as the batch capstone), and the
      // gate's cost at this fixed 1000-doc fixture is per-cell job count —
      // two streaming epochs × six surfaces × cells — not data volume.
      // The six surface BOOTSTRAPS are independent pipelines over disjoint
      // roots: overlap them (guide §2.6) exactly like the batch capstone;
      // the erase stream starts only after every build committed.
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.global
      val fCorpus = Future { LakeDataset.fromDataFrame(s,
        d.withColumn("b", (col("doc_id") % 4).cast("int")),
        partitionCols = Seq("b")) }
      val fEx = Future {
        val exIdx = ExactDedupIndex.open(s,
          Files.createTempDirectory("graft_se_ex").toString, nBuckets = 4)
        exIdx.addBatch(d, "text", "doc_id")
        exIdx
      }
      val fBm = Future { TextSearch.buildIndex(s, d, "text", "doc_id",
        nBuckets = 4, storage = Some(graft.model.StorageSpec(
          Files.createTempDirectory("graft_se_bm").toString))) }
      val fPos = Future { TextSearch.buildPositional(s, d, "text", "doc_id",
        nBuckets = 4, storage = Some(graft.model.StorageSpec(
          Files.createTempDirectory("graft_se_pos").toString))) }
      val fMh = Future {
        val mh = MinhashIndex.open(s,
          Files.createTempDirectory("graft_se_mh").toString, nBuckets = 4)
        mh.addBatch(d, "text", "doc_id")
        mh
      }
      val fIvf = Future {
        val ivfRoot = Files.createTempDirectory("graft_se_ivf").toString
        val (cen, asg) = Similarity.buildIvf(emb, "embedding", "vec_id", 8, 32)
        Similarity.saveIvf(s, ivfRoot, cen, asg)
        ivfRoot
      }
      Seq(fCorpus, fEx, fBm, fPos, fMh, fIvf)
        .map(f => scala.util.Try(Await.result(f, Duration.Inf)))
        .foreach(_.get)
      val corpus = Await.result(fCorpus, Duration.Inf)
      val exIdx = Await.result(fEx, Duration.Inf)
      val bm = Await.result(fBm, Duration.Inf)
      val pos = Await.result(fPos, Duration.Inf)
      val mh = Await.result(fMh, Duration.Inf)
      val ivfRoot = Await.result(fIvf, Duration.Inf)

      val (sink, current) = graft.streaming.StreamingIngest.erasureBatches(
        corpus, "doc_id", exIdx, mh, bm, pos, ivfRoot)
      val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
      val q = mem.toDF().toDF("doc_id").writeStream
        .foreachBatch(sink).start()
      val erased = d.filter(col("doc_id") % 170 === 0)
        .select("doc_id").as[Long].collect().sorted
      try {
        mem.addData(erased.filter(_ < 500).toSeq: _*)
        q.processAllAvailable()
        mem.addData(erased.filter(_ >= 500).toSeq: _*)
        q.processAllAvailable()
      } finally q.stop()

      val bmFinal = current()
      val ivf2 = Similarity.loadIvf(s, ivfRoot)
      def surface(name: String, df: DataFrame, idc: String): DataFrame =
        df.agg(count(lit(1)).as("rows"),
            count(when(col(idc) % 170 === 0, 1)).as("erased_refs"))
          .select(lit(name).as("surface"), col("rows"), col("erased_refs"))
      surface("1_corpus", corpus.toDF, "doc_id")
        .unionByName(surface("2_exact_index", exIdx.docRows.get, "doc"))
        .unionByName(surface("3_bm25_postings", bmFinal.postings.toDF, "doc"))
        .unionByName(surface("4_positional", pos.postings.toDF, "doc"))
        .unionByName(surface("5_minhash_bands", mh.bandRows.get, "doc"))
        .unionByName(surface("6_minhash_shingles", mh.shingleRows.get, "doc"))
        .unionByName(surface("7_ivf_assigned", ivf2.assigned.toDF, "vec_id"))
        .orderBy("surface")
    }, Sql(
      // Streaming erasure converges to the batch erasure's exact state: the
      // two gates share one oracle by construction.
      erasureFullOracle)),

    // CONTENT-level streaming dedup: real Structured Streaming micro-
    // batches drain through the persisted ExactDedupIndex — epoch 0 seeds,
    // epoch 1 mixes fresh docs with normalized-noisy replays (caught),
    // epoch 2 replays epoch 0 wholesale and must add NOTHING: the
    // cross-micro-batch state lives in the index lake, not stream memory.
    // Exact normalized keys -> the same DuckDB oracle shape as
    // dedup_incr_exact, with the empty third epoch proving durability.
    Gate("stream_dedup_content", (s, dir) => {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val d = table(s, dir, "documents")
      val corpus = d.select("doc_id", "text")
        .unionByName(d.filter(col("doc_id") % 9 === 0)
          .select((col("doc_id") + 1000000).as("doc_id"),
            concat(upper(col("text")), lit("  !!")).as("text")))
      val idx = ExactDedupIndex.open(s,
        Files.createTempDirectory("graft_sdc_idx").toString, nBuckets = 8)
      val out = LakeDataset.forStorage(s, partitionCols = Nil,
        bucketCols = Nil, nBuckets = 1, bloomCols = Nil,
        storage = graft.model.StorageSpec(
          Files.createTempDirectory("graft_sdc_out").toString))
      val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
      val q = mem.toDF().toDF("doc_id").writeStream.foreachBatch(
        (b: DataFrame, epoch: Long) =>
          out.insert(idx.addBatch(b.join(corpus, "doc_id"), "text", "doc_id")
            .select(lit(epoch).as("batch"), col("doc").as("doc_id")))).start()
      val ids = d.select("doc_id").as[Long].collect().sorted
      require(ids.length <= 100000, s"gate fixture grew: ${ids.length} ids")
      val noisyIds = ids.filter(_ % 9 == 0).map(_ + 1000000)
      try {
        mem.addData(ids.filter(_ < 250).toSeq: _*)
        q.processAllAvailable()
        mem.addData((ids.filter(_ >= 250) ++ noisyIds).toSeq: _*)
        q.processAllAvailable()
        // wholesale replay of epoch 0 — zero new uniques expected
        mem.addData(ids.filter(_ < 250).toSeq: _*)
        q.processAllAvailable()
      } finally q.stop()
      out.toDF.orderBy("batch", "doc_id")
    }, Sql(
      // stream_dedup_content: the dedup_incr_exact oracle shape — epoch 2
      // (the wholesale replay) contributes no rows by construction.
      """WITH b1 AS (SELECT doc_id, text FROM documents WHERE doc_id < 250),
        |b2 AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id >= 250
        |  UNION ALL
        |  SELECT doc_id + 1000000, upper(text) || '  !!'
        |  FROM documents WHERE doc_id % 9 = 0),
        |n1 AS (
        |  SELECT trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
        |              ' +', ' ', 'g')) AS norm,
        |         min(doc_id) AS doc_id
        |  FROM b1 GROUP BY norm),
        |n2 AS (
        |  SELECT trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
        |              ' +', ' ', 'g')) AS norm,
        |         min(doc_id) AS doc_id
        |  FROM b2 GROUP BY norm)
        |SELECT CAST(0 AS BIGINT) AS batch, doc_id FROM n1
        |UNION ALL
        |SELECT CAST(1 AS BIGINT), n2.doc_id FROM n2
        |WHERE norm NOT IN (SELECT norm FROM n1)
        |ORDER BY batch, doc_id""".stripMargin)),

    // STREAMING BM25 maintenance: the index bootstraps from the first 150
    // docs, the REST of the corpus streams in through two foreachBatch
    // epochs (each batch appends postings + updates the corpus scalars),
    // and the measured search over the final handle must equal the
    // text_bm25_int oracle computed over the WHOLE corpus — a batch-built
    // and a stream-grown index are indistinguishable to queries.
    Gate("stream_bm25_ingest", (s, dir) => {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val d = table(s, dir, "documents").select("doc_id", "text")
      val root = Files.createTempDirectory("graft_sbm25").toString
      TextSearch.buildIndex(s, d.filter(col("doc_id") < 150), "text",
        "doc_id", nBuckets = 16,
        storage = Some(graft.model.StorageSpec(root)))
      val (sink, current) = graft.streaming.StreamingIngest.bm25Batches(
        TextSearch.open(s, root), "text", "doc_id")
      val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
      val q = mem.toDF().toDF("doc_id").writeStream.foreachBatch(
        (b: DataFrame, epoch: Long) => sink(b.join(d, "doc_id"), epoch)).start()
      val rest = d.filter(col("doc_id") >= 150).select("doc_id")
        .as[Long].collect().sorted
      require(rest.length <= 100000, s"gate fixture grew: ${rest.length} ids")
      try {
        mem.addData(rest.filter(_ < 300).toSeq: _*)
        q.processAllAvailable()
        mem.addData(rest.filter(_ >= 300).toSeq: _*)
        q.processAllAvailable()
      } finally q.stop()
      TextSearch.searchTopKInt(current(), "spark join window", 20)
    }, Sql(
      // stream_bm25_ingest: identical to text_bm25_int — a stream-grown
      // index must answer exactly like a batch-built one over the same docs.
      """WITH tf AS (
        |  SELECT doc, w, COUNT(*) AS tf FROM (
        |    SELECT doc_id AS doc, unnest(string_split(TRIM(text), ' ')) AS w
        |    FROM documents) t
        |  GROUP BY doc, w),
        |dl AS (SELECT doc, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc),
        |corpus AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |                  CAST(SUM(dl) AS BIGINT) AS l FROM dl),
        |q AS (SELECT UNNEST(['spark', 'join', 'window']) AS w),
        |p AS (SELECT tf.doc, tf.w, tf.tf, dl.dl
        |      FROM tf JOIN dl USING (doc)
        |      WHERE tf.w IN (SELECT w FROM q)),
        |dft AS (SELECT w, COUNT(*) AS df FROM p GROUP BY w)
        |SELECT p.doc AS doc,
        |  CAST(SUM(((1000 * (2 * n - 2 * df + 1)) // (2 * df + 1)) *
        |           ((44 * l * tf * 1000000) //
        |            (20 * l * tf + 6 * l + 18 * dl * n))) AS BIGINT) AS score_int
        |FROM p JOIN dft USING (w) CROSS JOIN corpus
        |GROUP BY p.doc
        |ORDER BY score_int DESC, doc
        |LIMIT 20""".stripMargin))
  )
}
