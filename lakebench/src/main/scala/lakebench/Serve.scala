package lakebench

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.nio.file.{Files, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.graftbridge.ArrowParallel

import graft.lake.{GrpcLakeServer, LakeServer, LakebenchWire}
import graft.sources.ArrowInterchange
import graft.sources.ProtoCodec._

/** A read the client sends: its class, its SQL and its answer check, which
  * returns what is wrong with the rows, if anything.
  */
final case class Query(cls: String, sql: String, check: Seq[Row] => Option[String])

/** Serving machinery shared by the gRPC workloads. */
object Serve {
  /** Rows per ingest chunk; a zstd chunk stays far below gRPC's 4 MiB
    * default message limit.
    */
  val ChunkRows = 100000

  /** Client-side input generation: the rows of source table `name` at `scale` as
    * standalone zstd Arrow IPC streams of at most [[ChunkRows]] rows each.
    * The chunks depend only on the source file, so they are kept under
    * `ctx`'s scratch parent and reused by later runs.
    */
  def ipcChunks(ctx: Ctx, scale: String, name: String): Seq[Array[Byte]] = {
    val srcFile = java.nio.file.Paths.get(ctx.sfDir(scale), s"$name.parquet")
    val stamp = s"${Files.size(srcFile)}-${Files.getLastModifiedTime(srcFile).toMillis}"
    val cached = ctx.work.getParent.resolve("inputs")
      .resolve(s"sf$scale-$name-$ChunkRows-$stamp.ipcs")
    if (Files.exists(cached)) {
      val in = new DataInputStream(new BufferedInputStream(Files.newInputStream(cached)))
      try Seq.fill(in.readInt()) { val b = new Array[Byte](in.readInt()); in.readFully(b); b }
      finally in.close()
    } else {
      val df = ctx.table(scale, name)
      val head = ArrowParallel.schemaMessage(df)
      val eos = ArrowParallel.eosMessage()
      val chunks = ArrowParallel.framedPartitions(df, batchRows = ChunkRows).flatMap(_._1).map {
        case (frame, _) => head ++ frame ++ eos
      }.toList
      Files.createDirectories(cached.getParent)
      val tmp = cached.resolveSibling(cached.getFileName.toString + ".tmp")
      val out = new DataOutputStream(new BufferedOutputStream(Files.newOutputStream(tmp)))
      try {
        out.writeInt(chunks.length)
        chunks.foreach { c => out.writeInt(c.length); out.write(c) }
      } finally out.close()
      Files.move(tmp, cached, StandardCopyOption.REPLACE_EXISTING)
      chunks
    }
  }

  def rowsToIpc(ctx: Ctx, rows: Seq[Row], schema: org.apache.spark.sql.types.StructType)
      : Array[Byte] =
    ArrowInterchange.toIpcBytes(ctx.spark.createDataFrame(rows.asJava, schema))

  def createTable(conn: Conn, table: String, chunks: Seq[Array[Byte]],
      partitions: Seq[String], buckets: Seq[String]): Unit =
    conn.stream(GrpcLakeServer.CreateTableMethod, chunks.zipWithIndex.map { case (c, i) =>
      if (i == 0) PbSourceIpc("public", table, c, partitions, buckets).encode
      else PbSourceIpc("public", table, c).encode
    })

  /** CreateTable then MaterializeTable, the reference's load sequence. */
  def load(conn: Conn, table: String, chunks: Seq[Array[Byte]],
      partitions: Seq[String], buckets: Seq[String]): Unit = {
    createTable(conn, table, chunks, partitions, buckets)
    conn.unary(GrpcLakeServer.MaterializeTableMethod, PbTable("public", table).encode)
  }

  /** Loads the table `repeats` times over the wire and keeps the last;
    * returns the build times in seconds (set-up is reported as their median).
    */
  def buildRepeated(conn: Conn, table: String, chunks: Seq[Array[Byte]],
      partitions: Seq[String], buckets: Seq[String], repeats: Int): Seq[Double] =
    (1 to repeats).map { i =>
      val name = if (i == repeats) table else s"${table}_setup$i"
      val t0 = System.nanoTime()
      load(conn, name, chunks, partitions, buckets)
      val s = (System.nanoTime() - t0) / 1e9
      if (i < repeats) conn.dml(s"DROP TABLE $name")
      s
    }

  /** SelectIpc's encoders, called in-process on `df` as the server calls
    * them: the driver-side chunked encoder for results the server routes
    * small, its executor-framed partitions otherwise (sent here as one
    * message instead of the server's row-capped chunks).
    */
  def encode(server: LakeServer, df: DataFrame): Seq[PbSqlResults] = {
    val names = df.schema.fields.map(_.name).toSeq
    val dtypes = df.schema.fields.map(_.dataType.simpleString).toSeq
    if (!LakebenchWire.big(server, df)) {
      val out = scala.collection.mutable.ListBuffer[PbSqlResults]()
      ArrowInterchange.toIpcChunked(df, Some("zstd"), LakebenchWire.chunkRows(server),
          LakebenchWire.chunkBytes(server)) { (data, rows) =>
        out += PbSqlResults(data, rows, names, dtypes)
      }
      out.toList
    } else {
      val out = new java.io.ByteArrayOutputStream()
      out.write(ArrowParallel.schemaMessage(df))
      var rows = 0L
      ArrowParallel.framedPartitions(df).foreach(_._1.foreach { case (frame, n) =>
        out.write(frame)
        rows += n
      })
      out.write(ArrowParallel.eosMessage())
      Seq(PbSqlResults(out.toByteArray, rows, names, dtypes))
    }
  }
}

/** The traced run of a gRPC workload: every operation runs from one thread
  * through each layer's public call in turn, so counts repeat exactly
  * between runs.
  */
final class TracedServe(ctx: Ctx, server: LakeServer, conn: Conn) {
  val tr = new Trace(ctx.spark)
  private val spark = ctx.spark
  val resultRows = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
  val resultBytes = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
  private var opIndex = 0

  private def name(cls: String): String = f"${ctx.workload}/$cls/$opIndex%05d"

  /** One read through the layers in-process, then (when tracing) the same
    * read over the socket as a separate operation. Returns the in-process
    * wall time in milliseconds.
    */
  def read(q: Query, log: OpLog): Double = {
    opIndex += 1
    val t0 = System.nanoTime()
    log.timed(tr.op(name(q.cls)) {
      val df = tr.span("database.sql")(server.db.executeSql(q.sql))
      tr.span("prune.optimize")(df.queryExecution.optimizedPlan)
      val chunks = tr.span("arrow.encode")(Serve.encode(server, df))
      if (tr.enabled) resultBytes(q.cls) += chunks.map(_.data.length.toLong).sum
      val rows = tr.span("arrow.decode")(Conn.decode(spark, chunks))
      if (tr.enabled) resultRows(q.cls) += rows.length
      rows
    })(rows => q.check(rows.toSeq))
    val ms = (System.nanoTime() - t0) / 1e6
    if (tr.enabled) tr.op(s"rpc/${name(q.cls)}")(tr.span("grpc.rpc")(conn.select(q.sql, opIndex)))
    ms
  }

  /** One write (or any non-read operation). */
  def writeOp[A](cls: String)(body: => A): A = {
    opIndex += 1
    tr.op(name(cls))(body)
  }

  /** Per-layer metrics of the gRPC workloads. */
  def layerMetrics(readClasses: Seq[String], catalogClass: String, table: String,
      gcMs: Double, overheadMs: Double): (Seq[Metric], Seq[String]) = {
    val reads = readClasses.map(c => tr.work(s"${ctx.workload}/$c/"))
    val readRecords = reads.map(_.inputRecords).sum
    val returned = readClasses.map(resultRows).sum
    val cat = tr.opWork(s"${ctx.workload}/$catalogClass/").map(_._2.jobs)
    val rpc = tr.spansOf("grpc.rpc").map(_.ms)
    val inproc = tr.spans.filter(s => s.parent.isEmpty &&
        Set("database.sql", "prune.optimize", "arrow.encode").contains(s.layer))
      .groupBy(_.op).map(_._2.map(_.ms).sum).toSeq
    val rpcOverhead = if (rpc.isEmpty || inproc.isEmpty) 0.0
      else Stats.median(rpc) - Stats.median(inproc)
    val parts = server.db.get(table).map(_.numParts.toDouble).getOrElse(0.0)
    val metrics = TraceReport.common(tr, s"${ctx.workload}/", gcMs, overheadMs) ++ Seq(
      Metric("grpc.rpc_overhead_ms", rpcOverhead, "ms"),
      Metric("arrow.result_bytes", resultBytes.values.sum.toDouble, "bytes"),
      Metric("prune.rows_scanned_per_row",
        if (returned == 0) 0.0 else readRecords.toDouble / returned, "ratio"),
      Metric("prune.catalog_answered_ratio",
        if (cat.isEmpty) 0.0 else cat.count(_ == 0).toDouble / cat.length, "ratio"),
      Metric("lake.parts", parts, "count"))
    val classes = tr.opWork(s"${ctx.workload}/").map(_._1.split('/')(1)).distinct
    val perClass = classes.map { c =>
      val x = tr.work(s"${ctx.workload}/$c/")
      f"class $c%-13s jobs=${x.jobs}%6d tasks=${x.tasks}%7d input_bytes=${x.inputBytes}%12d " +
        f"shuffle_bytes=${x.shuffleReadBytes + x.shuffleWriteBytes}%11d"
    }
    (metrics, perClass)
  }
}
