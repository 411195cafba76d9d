package lakebench

import java.time.LocalDateTime

import scala.util.Random

import org.apache.spark.sql.Row

import graft.lake.{GrpcLakeServer, LakeServer}

/** serve_read: `lineitem` built over the wire in the reference's
  * `stock_current` layout (partition `l_returnflag`, 5 hash buckets on
  * `l_partkey`), then read by one closed-loop connection in rounds. A round
  * is the reference clients' query sequence: `call.py`'s point read on the
  * bucket key and its 2-store, 10-store and all-stores reads (here
  * `l_suppkey` plays `store_key`), then `taxi.py`'s five `COUNT(*)`/`SUM`
  * queries; one q1-style scan aggregate is added, the class the reference
  * lacks. Read-only and in memory: planning, catalog folds, the per-job
  * scheduler floor and the Arrow wire do the work. One connection, not
  * `call.py`'s 20-thread pool: every query already occupies all cores.
  */
object ServeRead {
  val Table = "lineitem"
  /** sf0.01 (60k rows), also for the other lake workloads: at sf0.1 a point
    * query costs 1-2.6 s on 4 cores and the table build 20 s, which leaves a
    * run inside the benchmark's time budget about a dozen queries.
    */
  val Scale = "0.01"
  /** Rounds per run = this × `--seconds`, at least [[MinRounds]]. */
  val RoundsPerSecond = 0.4
  val MinRounds = 3
  val TracedRounds = 2
  val SetupBuilds = 3
  /** One round, in order: (class, how many). */
  val Round = Seq("point" -> 1, "in2" -> 1, "in10" -> 1, "bulk_all" -> 1, "agg_catalog" -> 5,
    "agg_scan" -> 1)
  val Classes: Seq[String] = Round.map(_._1)
  private val PartKeys = 2000
  private val SuppKeys = 100
  private val Windows = (1995 to 2000).flatMap(y => Seq(s"$y-01-01" -> s"$y-07-01",
    s"$y-07-01" -> s"${y + 1}-01-01"))

  def rounds(ctx: Ctx): Int =
    if (ctx.traced) TracedRounds else math.max(MinRounds, math.round(RoundsPerSecond * ctx.seconds).toInt)

  /** The seeded query sequence, `n` rounds, without answers. */
  def generate(rng: Random, n: Int): IndexedSeq[IndexedSeq[(String, String)]] = {
    def supps(k: Int) = Iterator.continually(rng.nextInt(SuppKeys)).distinct.take(k).toSeq
    (1 to n).map(_ => Round.flatMap { case (c, k) => Seq.fill(k)(c) }.map {
      case "point" => "point" -> s"SELECT * FROM $Table WHERE l_partkey = ${rng.nextInt(PartKeys)}"
      case "in2" => "in2" -> s"SELECT * FROM $Table WHERE l_suppkey IN (${supps(2).mkString(", ")})"
      case "in10" => "in10" -> s"SELECT * FROM $Table WHERE l_suppkey IN (${supps(10).mkString(", ")})"
      case "bulk_all" => "bulk_all" -> s"SELECT * FROM $Table"
      case "agg_catalog" =>
        "agg_catalog" -> s"SELECT COUNT(*) AS cnt, SUM(l_extendedprice) AS total FROM $Table"
      case "agg_scan" =>
        val (lo, hi) = Windows(rng.nextInt(Windows.length))
        "agg_scan" -> (s"SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty, " +
          s"SUM(l_extendedprice) AS sum_price, AVG(l_discount) AS avg_disc, COUNT(*) AS n " +
          s"FROM $Table WHERE l_shipdate >= TIMESTAMP '$lo 00:00:00' " +
          s"AND l_shipdate < TIMESTAMP '$hi 00:00:00' GROUP BY l_returnflag, l_linestatus")
    }.toIndexedSeq)
  }

  private val PointRe = """.* WHERE l_partkey = (\d+)""".r
  private val InRe = """.* WHERE l_suppkey IN \(([\d, ]+)\)""".r
  private val WindowRe = """.* l_shipdate >= TIMESTAMP '(\S+) 00:00:00' AND l_shipdate < TIMESTAMP '(\S+) 00:00:00'.*""".r

  /** Expected answers from the source Parquet without the lake: its rows,
    * collected once by plain Spark, filtered, fingerprinted and aggregated
    * by the client.
    */
  def withAnswers(ctx: Ctx, qs: IndexedSeq[(String, String)]): IndexedSeq[Query] = {
    val src = ctx.table(Scale, Table)
    val col = src.schema.fieldNames.toIndexedSeq.zipWithIndex.toMap
    val rows = src.collect().toIndexedSeq
    val byPart = rows.groupBy(_.getLong(col("l_partkey")))
    val bySupp = rows.groupBy(_.getLong(col("l_suppkey")))
    val all = Answers.fingerprint(rows.iterator)
    lazy val shipped = rows.zip(rows.map(r => Answers.micros(r.get(col("l_shipdate")))))
    def rowsAnswer(want: Seq[Row]): Seq[Row] => Option[String] = {
      val w = Answers.canon(want)
      got => Answers.diff(got, w)
    }
    def dbl(r: Row, c: String) = r.getDouble(col(c))
    qs.map { case (cls, sql) =>
      val check: Seq[Row] => Option[String] = sql match {
        case PointRe(k) => rowsAnswer(byPart.getOrElse(k.toLong, Nil))
        case InRe(ks) => rowsAnswer(ks.split(", ").toSeq.flatMap(k => bySupp.getOrElse(k.toLong, Nil)))
        case WindowRe(lo, hi) =>
          val (a, b) = (Answers.micros(LocalDateTime.parse(s"${lo}T00:00")),
            Answers.micros(LocalDateTime.parse(s"${hi}T00:00")))
          rowsAnswer(shipped.collect { case (r, t) if a <= t && t < b => r }.groupBy(r => (r.getString(col("l_returnflag")), r.getString(col("l_linestatus"))))
            .map { case ((f, st), g) =>
              Row(f, st, g.map(dbl(_, "l_quantity")).sum, g.map(dbl(_, "l_extendedprice")).sum,
                g.map(dbl(_, "l_discount")).sum / g.length, g.length.toLong)
            }.toSeq)
        case _ if cls == "agg_catalog" =>
          rowsAnswer(Seq(Row(rows.length.toLong, rows.map(dbl(_, "l_extendedprice")).sum)))
        case _ =>
          rows => {
            val got = Answers.fingerprint(rows.iterator)
            if (got == all) None else Some(s"table fingerprint $got, expected $all")
          }
      }
      Query(cls, sql, check)
    }
  }

  def run(ctx: Ctx): Outcome = {
    val server = new GrpcLakeServer(new LakeServer(ctx.spark))
    val conn = new Conn(server.port)
    try {
      val sessionS = ctx.sinceStartS
      val t0 = System.nanoTime()
      val chunks = Serve.ipcChunks(ctx, Scale, Table)
      val inputS = (System.nanoTime() - t0) / 1e9
      val builds = Serve.buildRepeated(conn, Table, chunks,
        Seq("l_returnflag"), Seq("l_partkey"), SetupBuilds)
      val setupS = sessionS + Stats.median(builds)
      val gen = generate(new Random(ctx.seed), rounds(ctx))
      val answered = withAnswers(ctx, gen.flatten)
      val queries = answered.grouped(Round.map(_._2).sum).toIndexedSeq
      val logs = Classes.map(c => c -> new OpLog(c)).toMap
      ctx.log(s"set up in ${setupS}s; ${queries.length} rounds of ${queries.head.length} queries")
      val setupNote = f"setup: session $sessionS%.2f s, builds " +
        f"${builds.map(b => f"$b%.2f").mkString("/")} s (median kept); " +
        f"client input generation $inputS%.2f s is not set-up"
      val ordered = Classes.map(logs)
      if (!ctx.traced) {
        val rl = new RoundLog
        var qid = 0
        val w0 = System.nanoTime()
        queries.foreach { round =>
          round.foreach { q =>
            qid += 1
            rl.op(logs(q.cls))(Conn.decode(ctx.spark, conn.select(q.sql, qid)))(rows => q.check(rows.toSeq))
          }
          rl.endRound()
        }
        val wall = (System.nanoTime() - w0) / 1e9
        Outcome(ordered, setupS, rl.roundMs, ordered, wall, classMetrics(ordered),
          notes = Seq(setupNote, s"1 connection closed loop, ${queries.length} rounds of " +
            s"${Round.map { case (c, k) => s"$k $c" }.mkString(", ")}"))
      } else {
        // Each query runs untraced and traced; the difference is the
        // tracing overhead.
        val ts = new TracedServe(ctx, server.server, conn)
        ts.tr.enable()
        val gc0 = Jvm.gcMs
        val (untraced, traced) = queries.flatten.zipWithIndex.map { case (q, i) =>
          ts.tr.pair(i)(ts.read(q, logs(q.cls)))(ts.read(q, logs(q.cls)))
        }.unzip
        val gcMs = (Jvm.gcMs - gc0).toDouble
        val overhead = Stats.median(traced) - Stats.median(untraced)
        val (layers, notes) = ts.layerMetrics(Classes, "agg_catalog", Table, gcMs, overhead)
        Outcome(ordered, setupS, layers = layers,
          notes = (setupNote +: TraceReport.finish(ctx, ts.tr, layers, untraced, traced)) ++ notes)
      }
    } finally {
      conn.close()
      server.close()
    }
  }

  /** Each class's median latency, printed by name. */
  def classMetrics(logs: Seq[OpLog]): Seq[Metric] =
    logs.filter(_.latencies.nonEmpty).map(l => Metric(s"${l.name}_ms_p50", Stats.median(l.latencies), "ms"))
}
