package lakebench

import scala.util.Random

import graft.{Fixtures, SparkEntry}

/** pipeline_gates: registered gates of the `streaming/` and `operators/`
  * layers, one pass in seeded order. Fixtures are
  * prewarmed outside the timed region and cleared between gates, as the
  * engine's own benchmark main does; each gate's rows are collected once,
  * timed and compared with the fingerprint recorded for this engine at
  * sf0.01.
  */
object PipelineGates {
  val Scale = ServeRead.Scale
  /** Three of the seven slowest gates, chosen to fit a run into the
    * benchmark's time budget: the streaming outer join (the per-epoch
    * floor), k-core and the fuzzy self-join. The erasure, BM25 and lake
    * restore gates take 11-26 s each at sf0.01 on 4 cores.
    */
  val Gates = Seq("stream_outer_join", "graph_kcore", "fuzzy_join_names")
  /** Prewarms per gate; set-up counts the median. */
  val SetupPrewarms = 3

  /** (rows, fingerprint) of each gate's result on the sf0.01 test data, as
    * the engine produced them when this benchmark was written.
    */
  val Recorded: Map[String, (Long, Long)] = Map(
    "stream_outer_join" -> (5L, 4664031883616896037L),
    "graph_kcore" -> (43L, -220574330327475106L),
    "fuzzy_join_names" -> (19500L, -9005142243522611421L))

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val sessionS = ctx.sinceStartS
    val dir = ctx.sfDir(Scale)
    // Warm-up: the first Spark SQL jobs of a JVM pay for class loading and
    // compilation, which would otherwise land on whichever gate runs first.
    spark.read.parquet(s"$dir/lineitem.parquet").groupBy("l_returnflag").count().collect()
    val warmS = ctx.sinceStartS - sessionS
    val order = new Random(ctx.seed).shuffle(Gates)
    val tr = new Trace(spark)
    if (ctx.traced) tr.enable()
    val logs = order.map(g => g -> new OpLog(g)).toMap
    val prewarms = scala.collection.mutable.ArrayBuffer[(String, Seq[Double])]()
    val rl = new RoundLog
    def prewarm(g: String): Unit = {
      val s = (1 to SetupPrewarms).map { _ =>
        Fixtures.clear()
        spark.catalog.clearCache()
        System.gc()
        val p0 = System.nanoTime()
        SparkEntry.prewarm.get(g).foreach(f => f(spark, dir))
        (System.nanoTime() - p0) / 1e9
      }
      prewarms += g -> s
    }
    def runGate(g: String, r: RoundLog): Double = {
      val t0 = System.nanoTime()
      r.op(logs(g))(tr.span(s"gate.$g")(SparkEntry.queries(g)(spark, dir).collect())) { rows =>
        val got = Answers.fingerprint(rows.iterator)
        Recorded.get(g) match {
          case Some(want) if want == got => None
          case Some(want) => Some(s"result $got, recorded $want")
          case None => Some(s"no recorded result; this run gives $got")
        }
      }
      (System.nanoTime() - t0) / 1e6
    }
    val gc0 = Jvm.gcMs
    // Traced: each gate once to warm its caches, then once untraced and
    // once traced, in alternating order.
    val pairs = order.zipWithIndex.map { case (g, i) =>
      prewarm(g)
      val p = if (!ctx.traced) (0.0, runGate(g, rl))
        else {
          tr.off(runGate(g, new RoundLog))
          tr.pair(i)(runGate(g, new RoundLog))(tr.op(s"pipeline_gates/$g")(runGate(g, new RoundLog)))
        }
      ctx.log(f"gate $g: ${p._2 / 1e3}%.2f s")
      p
    }
    rl.endRound()
    Fixtures.clear()
    val setupS = sessionS + warmS + prewarms.map(p => Stats.median(p._2)).sum
    val ordered = order.map(logs)
    val notes = Seq(f"setup: session $sessionS%.2f s, warm-up $warmS%.2f s, prewarms " +
      prewarms.map { case (g, s) => s"$g ${s.map(x => f"$x%.2f").mkString("/")}" }.mkString(", ") +
      " s (median of each kept)", s"gates in seeded order: ${order.mkString(", ")}")
    if (!ctx.traced)
      Outcome(ordered, setupS, rl.roundMs, ordered, rl.roundMs.sum / 1e3,
        ordered.filter(_.latencies.nonEmpty).map(l => Metric(s"gate.${l.name}_ms", l.latencies.head, "ms")),
        notes = notes)
    else {
      val perGate = order.flatMap { g =>
        val w = tr.work(s"pipeline_gates/$g")
        Seq(
          Metric(s"gate.$g.ms", tr.totalMs(s"gate.$g"), "ms"),
          Metric(s"gate.$g.jobs", w.jobs.toDouble, "count"),
          Metric(s"gate.$g.tasks", w.tasks.toDouble, "count"),
          Metric(s"gate.$g.shuffle_bytes", (w.shuffleReadBytes + w.shuffleWriteBytes).toDouble,
            "bytes"))
      }
      val (untraced, traced) = pairs.unzip
      val layers = TraceReport.common(tr, "pipeline_gates/", (Jvm.gcMs - gc0).toDouble,
          Stats.median(traced) - Stats.median(untraced)) ++ Seq(
        Metric("gates.ms", order.map(g => tr.totalMs(s"gate.$g")).sum, "ms"),
        Metric("gates.jobs", tr.work("pipeline_gates/").jobs.toDouble, "count")) ++ perGate
      Outcome(ordered, setupS, layers = layers,
        notes = notes ++ TraceReport.finish(ctx, tr, layers, untraced, traced))
    }
  }
}
