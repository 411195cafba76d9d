package lakebench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

final case class Metric(name: String, value: Double, unit: String)

/** What one workload run produced.
  *
  * @param logs every checked operation, for the failure count
  * @param setupS set-up time before the first timed operation
  * @param roundMs the time of each complete round, behind `round_ms_p50`
  * @param ops the client operations behind `ops_per_s`
  * @param clientWallS the client's wall time for `ops`
  * @param named the workload's own end-to-end metrics, printed by name
  * @param layers per-layer metrics (traced run)
  * @param notes human-readable lines printed before the result
  */
final case class Outcome(
    logs: Seq[OpLog],
    setupS: Double,
    roundMs: Seq[Double] = Nil,
    ops: Seq[OpLog] = Nil,
    clientWallS: Double = 0.0,
    named: Seq[Metric] = Nil,
    layers: Seq[Metric] = Nil,
    notes: Seq[String] = Nil)

/** Everything a workload needs: the session, the seeded parameters, the
  * test data directory (one `sf<scale>` directory of Parquet tables per
  * scale) and a scratch directory inside the checkout.
  */
final class Ctx(
    val spark: SparkSession,
    val workload: String,
    val seed: Long,
    val seconds: Int,
    val traced: Boolean,
    val testdata: String,
    val work: Path,
    val startNs: Long) {
  val cpus: Int = Runtime.getRuntime.availableProcessors
  def sinceStartS: Double = (System.nanoTime() - startNs) / 1e9
  /** Progress on stderr; stdout carries only the report. */
  def log(msg: String): Unit = System.err.println(f"[lakebench $sinceStartS%7.2fs] $msg")
  def sfDir(scale: String): String = s"$testdata/sf$scale"
  def table(scale: String, name: String) = spark.read.parquet(s"${sfDir(scale)}/$name.parquet")
}

/** Runs one workload of the lake benchmark and prints its metrics.
  *
  * Usage: `Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --testdata <dir holding sf0.01 and sf0.1> --work <scratch dir>`. The last stdout line is one JSON
  * object with `correct`, `attempted`, `failed` and `metrics`.
  */
object Main {
  /** Per-layer metrics a traced run of every workload reports in its
    * result: counts, bytes and ratios (0 where the workload does not call
    * the layer) and the times every workload measures. The layer times only
    * some workloads have are printed by name.
    */
  val PerLayer = Seq("arrow.result_bytes", "prune.rows_scanned_per_row",
    "prune.catalog_answered_ratio", "lake.parts", "storage.files_written",
    "storage.bytes_written_per_user_byte", "gates.jobs", "spark.jobs", "spark.stages",
    "spark.tasks", "spark.task_ms", "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
    "spark.input_bytes", "jvm.gc_ms", "trace.overhead_ms")

  val Workloads: Map[String, Ctx => Outcome] = Map(
    "serve_read" -> ServeRead.run,
    "persist_reopen" -> PersistReopen.run,
    "pipeline_gates" -> PipelineGates.run)

  def main(args: Array[String]): Unit = {
    val code = try run(args) catch {
      case e: Throwable =>
        e.printStackTrace()
        1
    }
    System.out.flush()
    System.exit(code)
  }

  private def run(args: Array[String]): Int = {
    val startNs = System.nanoTime()
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = a.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = need("workload")
    val body = Workloads.getOrElse(workload, throw new IllegalArgumentException(
      s"unknown workload '$workload' (one of ${Workloads.keys.toSeq.sorted.mkString(", ")})"))
    val data = need("testdata")
    Seq("sf0.01", "sf0.1").foreach(sf => require(
      Files.isRegularFile(Paths.get(data, sf, "lineitem.parquet")), s"no $sf/lineitem.parquet under $data"))
    val work = Paths.get(need("work")).toAbsolutePath
    Files.createDirectories(work)
    val spark = Session.start(work)
    val ctx = new Ctx(spark, workload, need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", data, work, startNs)
    val rig = Seq(
      "nproc" -> ctx.cpus.toString,
      "master" -> spark.sparkContext.master,
      "heap_mb" -> (Runtime.getRuntime.maxMemory / (1024 * 1024)).toString,
      "testdata" -> data,
      "seed" -> ctx.seed.toString,
      "seconds" -> ctx.seconds.toString,
      "trace" -> (if (ctx.traced) "1" else "0"))
    println("# rig " + rig.map { case (k, v) => s"$k=$v" }.mkString(" "))
    val out = body(ctx)
    val heapMb = Jvm.retainedHeapMb
    spark.stop()

    val attempted = OpLog.attempted(out.logs)
    val failed = OpLog.failed(out.logs)
    out.logs.foreach { l =>
      println(f"# ops ${l.name}%-14s attempted=${l.attempted}%d failed=${l.failed}%d")
      l.errors.foreach(e => println(s"#   failure: $e"))
    }
    out.notes.foreach(n => println("# " + n))
    val done = out.ops.map(_.latencies.length).sum
    val metrics =
      if (ctx.traced) {
        out.layers.foreach(m => println(f"# layer ${m.name}%-38s ${m.value}%16.4f ${m.unit}"))
        PerLayer.map(n => out.layers.find(_.name == n).getOrElse {
          println(s"# layer $n is not called by ${ctx.workload}; reported as 0")
          Metric(n, 0.0, TraceReport.unit(n))
        })
      } else {
        out.named.foreach(m => println(f"# named ${m.name}%-32s ${m.value}%14.4f ${m.unit}"))
        Seq(Metric("setup_s", out.setupS, "s"),
          Metric("round_ms_p50", if (out.roundMs.isEmpty) Double.NaN else Stats.median(out.roundMs),
            "ms"),
          Metric("ops_per_s", done / out.clientWallS, "1/s"),
          Metric("heap_retained_mb", heapMb, "MB"))
      }
    if (!ctx.traced) {
      val lat = out.ops.flatMap(_.latencies)
      println("# operation latency tail: " + Stats.tail(lat, 0.99).map(t =>
        f"${t.value}%.2f ms at ${t.describe}").getOrElse(s"unavailable: ${lat.length} samples, " +
        s"a tail needs ${Stats.MinBeyond} beyond it and must lie above the median"))
    }
    if (!ctx.traced) println(s"# round_ms_p50 over ${out.roundMs.length} complete rounds " +
      s"(${out.roundMs.map(r => f"$r%.0f").mkString("/")} ms); ops_per_s over $done operations: " +
      out.ops.map(l => s"${l.name}=${l.latencies.length}").mkString(" "))
    metrics.foreach(m => println(f"# metric ${m.name}%-32s ${m.value}%14.4f ${m.unit}"))
    println(f"# fail_ratio ${if (attempted == 0) 0.0 else failed.toDouble / attempted}%.6f ($failed of $attempted)")
    val ms = metrics.map(m => s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""")
    println(s"""{"correct": ${failed == 0 && attempted > 0}, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": {${ms.mkString(", ")}}}""")
    0
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString
}

object Session {
  /** The engine's session settings (as its own benchmark main sets them),
    * at `local[N]` with N the processors available to this JVM, and every
    * scratch directory inside `work`.
    */
  def start(work: Path): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("lakebench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.buffer.pageSize", "2m")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
