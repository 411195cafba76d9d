package lakebench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

/** What the traced run reports besides its metrics: the end-to-end metric
  * and workload each layer metric should move, the tracing overhead, and
  * whether the exact counters repeat the previous traced run of the same
  * workload and seed.
  */
object TraceReport {
  private val Moves: Seq[(String, String)] = Seq(
    "grpc." -> "round_ms_p50 on serve_read",
    "arrow." -> "round_ms_p50 on serve_read (bulk_all most)",
    "database.sql" -> "round_ms_p50 on serve_read and persist_reopen",
    "prune." -> "round_ms_p50 on serve_read, and on persist_reopen after merges",
    "ingestor." -> "round_ms_p50 and ops_per_s on persist_reopen; no move on serve_read",
    "lake.parts" -> "round_ms_p50 on persist_reopen (reads after merges); no move on serve_read",
    "storage." -> "round_ms_p50 on persist_reopen, and space_amp (printed there)",
    "gates." -> "round_ms_p50 on pipeline_gates",
    "gate." -> "round_ms_p50 on pipeline_gates",
    "spark.jobs" -> "round_ms_p50 on every workload (each job carries a scheduling floor)",
    "spark.stages" -> "round_ms_p50 on every workload",
    "spark.tasks" -> "round_ms_p50 on every workload",
    "spark.task_ms" -> "round_ms_p50 and ops_per_s on every workload",
    "spark." -> "round_ms_p50 on every workload (bytes moved)",
    "jvm." -> "round_ms_p50 and heap_retained_mb on every workload",
    "trace." -> "nothing: the tracing's own cost per operation")

  def unit(name: String): String =
    if (name.endsWith("_ms") || name.endsWith(".ms")) "ms"
    else if (name.endsWith("_bytes")) "bytes"
    else if (name.endsWith("_ratio") || name.endsWith("_per_row") || name.endsWith("_per_user_byte")) "ratio"
    else "count"

  /** The per-layer metrics every traced workload measures the same way:
    * span totals of the layers it calls, Spark work of its operations
    * (names under `prefix`), collection time and tracing overhead.
    */
  def common(tr: Trace, prefix: String, gcMs: Double, overheadMs: Double): Seq[Metric] = {
    val w = tr.work(prefix)
    val spans = Seq("arrow.encode", "arrow.decode", "database.sql", "prune.optimize",
      "ingestor.upsert", "ingestor.insert", "ingestor.delete", "storage.save",
      "storage.reopen").filter(l => tr.spansOf(l).nonEmpty).map(l => Metric(s"${l}_ms", tr.totalMs(l), "ms"))
    spans ++ Seq(
      Metric("spark.jobs", w.jobs.toDouble, "count"),
      Metric("spark.stages", w.stages.toDouble, "count"),
      Metric("spark.tasks", w.tasks.toDouble, "count"),
      Metric("spark.task_ms", w.taskMs.toDouble, "ms"),
      Metric("spark.shuffle_read_bytes", w.shuffleReadBytes.toDouble, "bytes"),
      Metric("spark.shuffle_write_bytes", w.shuffleWriteBytes.toDouble, "bytes"),
      Metric("spark.input_bytes", w.inputBytes.toDouble, "bytes"),
      Metric("jvm.gc_ms", gcMs, "ms"),
      Metric("trace.overhead_ms", overheadMs, "ms"))
  }

  /** Counters that must repeat exactly between traced runs of one seed. */
  def exact(name: String): Boolean =
    Set("spark.jobs", "spark.tasks", "prune.rows_scanned_per_row",
      "prune.catalog_answered_ratio", "storage.files_written", "lake.parts", "gates.jobs")(name) ||
      (name.startsWith("gate.") && name.endsWith(".jobs"))

  def moves(name: String): String =
    Moves.find { case (p, _) => name.startsWith(p) }.map(_._2).getOrElse("-")

  /** Writes the spans, compares the exact counters with the previous traced
    * run of this workload and seed, and returns the report lines.
    */
  def finish(ctx: Ctx, tr: Trace, layers: Seq[Metric], untracedOpMs: Seq[Double],
      tracedOpMs: Seq[Double]): Seq[String] = {
    val dir = ctx.work.getParent.resolve("trace")
    val stem = s"${ctx.workload}-seed${ctx.seed}"
    tr.write(dir.resolve(s"$stem.spans.jsonl"))
    val counters = layers.filter(m => exact(m.name)).map(m => s"${m.name}=${m.value}")
    val file = dir.resolve(s"$stem.counters")
    val repeat =
      if (!Files.exists(file)) "first traced run of this seed; counters recorded"
      else {
        val prev = new String(Files.readAllBytes(file), UTF_8).split("\n").toSeq.filter(_.nonEmpty)
        if (prev == counters) "exact counters repeat the previous traced run: yes"
        else s"exact counters repeat the previous traced run: NO (was ${prev.mkString(" ")})"
      }
    Files.write(file, counters.mkString("\n").getBytes(UTF_8))
    val over = if (untracedOpMs.isEmpty || tracedOpMs.isEmpty) "tracing overhead: not measured"
      else f"tracing overhead: median operation ${Stats.median(tracedOpMs)}%.2f ms traced - " +
        f"${Stats.median(untracedOpMs)}%.2f ms untraced = " +
        f"${Stats.median(tracedOpMs) - Stats.median(untracedOpMs)}%.2f ms; total " +
        f"${tracedOpMs.sum / 1e3}%.2f s traced vs ${untracedOpMs.sum / 1e3}%.2f s untraced"
    Seq(over, repeat, s"counters: ${counters.mkString(" ")}", s"spans written to $stem.spans.jsonl",
      s"jobs that started outside every traced operation (untraced halves, work that " +
        s"outlived its operation): ${tr.outsideJobs}") ++
      layers.map(m => f"layer ${m.name}%-32s should move -> ${moves(m.name)}")
  }
}
