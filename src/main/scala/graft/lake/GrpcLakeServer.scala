package graft.lake

import java.io.{ByteArrayInputStream, InputStream}

import scala.collection.mutable.ListBuffer

import org.sparkproject.connect.grpc.{MethodDescriptor, ServerServiceDefinition, Status}
import org.sparkproject.connect.grpc.netty.NettyServerBuilder
import org.sparkproject.connect.grpc.stub.{ServerCalls, StreamObserver}

import org.apache.spark.sql.DataFrame

import graft.model.TableName
import graft.sources.ArrowInterchange
import graft.sources.ProtoCodec._

/** Network gRPC endpoint for the six verbs — the reference's `db.Db` service
  * (reference: proto/db.proto:20-35, tonic server src/server.rs:306-321)
  * bound over a real socket.
  *
  * The gRPC runtime is the one Spark already ships (Spark Connect's shaded
  * grpc-java + the netty on the Spark classpath); the container has no
  * protoc, so requests/responses travel through a byte marshaller and the
  * hand-written proto3 codec in [[graft.sources.ProtoCodec]] — the service
  * and method names, streaming shapes, and message encodings match
  * `db.proto` exactly, so a protoc-generated client (the reference's Python
  * `call.py`) speaks to this server unchanged.
  *
  * Streaming semantics mirror the reference: Create/Insert/Upsert are
  * client-streaming of `SourceIpc` chunks (Arrow IPC bytes + routing
  * metadata); ingest chunks feed the SAME [[Ingestor]] micro-batcher the
  * in-process verbs use (flush at the 10M-row threshold, correct final
  * flush); SelectIpc is bidirectional — each `Sql` answers with one (or,
  * past the chunk caps, more) `SqlResults` carrying a ZSTD Arrow IPC stream.
  */
final class GrpcLakeServer(val server: LakeServer, requestedPort: Int = 0)
    extends AutoCloseable {
  import GrpcLakeServer._

  private val grpc = NettyServerBuilder
    .forPort(requestedPort)
    .addService(serviceDefinition())
    .build()
    .start()

  /** The bound port (useful with requestedPort = 0). */
  def port: Int = grpc.getPort

  override def close(): Unit = {
    grpc.shutdown()
    grpc.awaitTermination()
  }

  // ------------------------------------------------------------- handlers

  private type Obs = StreamObserver[Array[Byte]]

  private def streaming(f: Obs => Obs): ServerCalls.BidiStreamingMethod[Array[Byte], Array[Byte]] =
    new ServerCalls.BidiStreamingMethod[Array[Byte], Array[Byte]] {
      override def invoke(resp: Obs): Obs = f(resp)
    }
  private def clientStreaming(f: Obs => Obs)
      : ServerCalls.ClientStreamingMethod[Array[Byte], Array[Byte]] =
    new ServerCalls.ClientStreamingMethod[Array[Byte], Array[Byte]] {
      override def invoke(resp: Obs): Obs = f(resp)
    }
  private def unary(f: (Array[Byte], Obs) => Unit)
      : ServerCalls.UnaryMethod[Array[Byte], Array[Byte]] =
    new ServerCalls.UnaryMethod[Array[Byte], Array[Byte]] {
      override def invoke(req: Array[Byte], resp: Obs): Unit = f(req, resp)
    }

  private def serviceDefinition(): ServerServiceDefinition =
    ServerServiceDefinition.builder(ServiceName)
      .addMethod(CreateTableMethod, ServerCalls.asyncClientStreamingCall(clientStreaming(createTable)))
      .addMethod(InsertTableMethod, ServerCalls.asyncClientStreamingCall(clientStreaming(ingest(None))))
      .addMethod(UpsertTableMethod, ServerCalls.asyncClientStreamingCall(clientStreaming(ingest(Some(())))))
      .addMethod(MaterializeTableMethod, ServerCalls.asyncUnaryCall(unary(materializeTable)))
      .addMethod(GetTableInfoMethod, ServerCalls.asyncUnaryCall(unary(getTableInfo)))
      .addMethod(SelectIpcMethod, ServerCalls.asyncBidiStreamingCall(streaming(selectIpc)))
      .addMethod(ExecuteDmlMethod, ServerCalls.asyncUnaryCall(unary(executeDml)))
      .build()

  private def fail(resp: StreamObserver[Array[Byte]], e: Throwable): Unit =
    resp.onError(Status.INTERNAL.withDescription(String.valueOf(e.getMessage))
      .withCause(e).asRuntimeException())

  /** CreateTable: buffer every chunk, then build + register the dataset
    * (reference src/server.rs:92-141 concatenates chunks the same way).
    */
  private def createTable
      : StreamObserver[Array[Byte]] => StreamObserver[Array[Byte]] = resp =>
    new StreamObserver[Array[Byte]] {
      private var head: PbSourceIpc = null
      private val chunks = ListBuffer[DataFrame]()
      private var dead = false
      override def onNext(bytes: Array[Byte]): Unit = if (!dead) {
        try {
          val msg = PbSourceIpc.decode(bytes)
          if (head == null) head = msg
          if (msg.data.nonEmpty)
            chunks += ArrowInterchange.fromIpcBytes(server.spark, msg.data)
        } catch { case scala.util.control.NonFatal(e) => dead = true; fail(resp, e) }
      }
      override def onError(t: Throwable): Unit = ()
      override def onCompleted(): Unit = if (!dead) {
        try {
          require(head != null && chunks.nonEmpty, "no chunks received")
          server.createTable(TableName(head.schema, head.table), chunks.iterator,
            partitions = head.partitions, buckets = head.buckets)
          resp.onNext(PbMessage(s"created table ${head.table}").encode)
          resp.onCompleted()
        } catch { case scala.util.control.NonFatal(e) => fail(resp, e) }
      }
    }

  /** Insert/Upsert: chunks stream straight into the table's [[Ingestor]] as
    * they arrive — big streams flush mid-call at the buffer threshold, only
    * the final partial buffer waits for onCompleted (reference
    * src/server.rs:48-88, with the final-flush-as-upsert fix).
    */
  private def ingest(upsert: Option[Unit])
      : StreamObserver[Array[Byte]] => StreamObserver[Array[Byte]] = resp =>
    new StreamObserver[Array[Byte]] {
      private var name: TableName = null
      private var ing: Ingestor = null
      private var dead = false
      override def onNext(bytes: Array[Byte]): Unit = if (!dead) {
        try {
          val msg = PbSourceIpc.decode(bytes)
          if (ing == null) {
            name = TableName(msg.schema, msg.table)
            val ds = server.db.get(name.handle)
              .getOrElse(throw new NoSuchElementException(s"no table ${name.handle}"))
            ing = new Ingestor(ds, upsert.map(_ => msg.keys))
          }
          if (msg.data.nonEmpty) {
            // Row count rides in the IPC batch metadata — no count job.
            val (df, n) = ArrowInterchange.fromIpcBytesWithCount(server.spark, msg.data)
            ing.offer(df, n)
          }
        } catch { case scala.util.control.NonFatal(e) => dead = true; fail(resp, e) }
      }
      override def onError(t: Throwable): Unit = ()
      override def onCompleted(): Unit = if (!dead) {
        try {
          require(ing != null, "no chunks received")
          ing.flush()
          server.db.refresh(name.handle)
          resp.onNext(PbMessage(s"ingested into ${name.handle}").encode)
          resp.onCompleted()
        } catch { case scala.util.control.NonFatal(e) => fail(resp, e) }
      }
    }

  private def materializeTable: (Array[Byte], StreamObserver[Array[Byte]]) => Unit =
    (req, resp) =>
      try {
        val t = PbTable.decode(req)
        server.materializeTable(TableName(t.schema, t.table))
        resp.onNext(PbMessage(s"materialized ${t.table}").encode)
        resp.onCompleted()
      } catch { case scala.util.control.NonFatal(e) => fail(resp, e) }

  /** ExecuteDml: the SEVENTH verb, beyond the reference's six — write
    * statements (`DELETE WHERE` / `UPDATE SET` / `INSERT INTO` /
    * `MERGE INTO` / `COPY INTO` / `ALTER TABLE` / `OPTIMIZE` / `VACUUM`)
    * routed to [[Database.executeDml]]'s engine mutations. Reads keep
    * SelectIpc; the reply reuses the `Message` shape (`dml ok: <count>`),
    * so a protoc client needs only the extra method descriptor. The
    * reference's own verbs are untouched for parity.
    */
  private def executeDml: (Array[Byte], StreamObserver[Array[Byte]]) => Unit =
    (req, resp) =>
      try {
        val q = PbSql.decode(req)
        val n = server.db.executeDml(q.sql)
        resp.onNext(PbMessage(s"dml ok: $n").encode)
        resp.onCompleted()
      } catch { case scala.util.control.NonFatal(e) => fail(resp, e) }

  private def getTableInfo: (Array[Byte], StreamObserver[Array[Byte]]) => Unit =
    (req, resp) =>
      try {
        val t = PbTable.decode(req)
        val info = server.getTableInfo(TableName(t.schema, t.table))
        resp.onNext(PbTableInfo(
          info.columns.map(_._1), info.columns.map(_._2), info.rows, info.parts).encode)
        resp.onCompleted()
      } catch { case scala.util.control.NonFatal(e) => fail(resp, e) }

  /** SelectIpc: every incoming Sql answers with one OR MORE SqlResults — the
    * proto return is `stream SqlResults`, which the reference only ever uses
    * one message deep (src/server.rs:276-304, whole result in one zstd IPC
    * payload). Results under `spark.graft.wire.chunkRows` rows and
    * `.chunkBytes` encoded bytes keep that shape; bigger ones CHUNK: each
    * message carries a standalone zstd IPC stream with the same qid, so the
    * client holds O(chunk) and the driver one wave of encoded partitions
    * ([[ArrowInterchange.toIpcChunked]]: one Spark job per wave, batches
    * encoded and compressed in the tasks). Clients correlate by qid, sum
    * `rows`, and concatenate the decoded tables; each chunk on its own is a
    * pyarrow-readable stream.
    */
  private def selectIpc
      : StreamObserver[Array[Byte]] => StreamObserver[Array[Byte]] = resp =>
    new StreamObserver[Array[Byte]] {
      private var dead = false
      override def onNext(bytes: Array[Byte]): Unit = if (!dead) {
        try {
          val q = PbSql.decode(bytes)
          val df = server.select(q.sql)
          val names = df.schema.fields.map(_.name).toSeq
          val dtypes = df.schema.fields.map(_.dataType.simpleString).toSeq
          ArrowInterchange.toIpcChunked(df, Some("zstd"),
              server.chunkRows, server.chunkBytes) { (data, rows) =>
            resp.onNext(PbSqlResults(data, rows, names, dtypes, q.qid).encode)
          }
        } catch { case scala.util.control.NonFatal(e) => dead = true; fail(resp, e) }
      }
      override def onError(t: Throwable): Unit = ()
      override def onCompleted(): Unit = if (!dead) resp.onCompleted()
    }
}

object GrpcLakeServer {
  /** Fully-qualified service name from db.proto (`package db; service Db`). */
  val ServiceName = "db.Db"

  /** Raw-bytes marshaller: framing is gRPC's, message encoding is
    * [[graft.sources.ProtoCodec]]'s — wire-identical to protoc stubs.
    */
  private val Bytes: MethodDescriptor.Marshaller[Array[Byte]] =
    new MethodDescriptor.Marshaller[Array[Byte]] {
      override def stream(value: Array[Byte]): InputStream = new ByteArrayInputStream(value)
      override def parse(stream: InputStream): Array[Byte] = stream.readAllBytes()
    }

  private def method(name: String, typ: MethodDescriptor.MethodType)
      : MethodDescriptor[Array[Byte], Array[Byte]] =
    MethodDescriptor.newBuilder(Bytes, Bytes)
      .setFullMethodName(MethodDescriptor.generateFullMethodName(ServiceName, name))
      .setType(typ)
      .build()

  val CreateTableMethod: MethodDescriptor[Array[Byte], Array[Byte]] =
    method("CreateTable", MethodDescriptor.MethodType.CLIENT_STREAMING)
  val InsertTableMethod: MethodDescriptor[Array[Byte], Array[Byte]] =
    method("InsertTable", MethodDescriptor.MethodType.CLIENT_STREAMING)
  val UpsertTableMethod: MethodDescriptor[Array[Byte], Array[Byte]] =
    method("UpsertTable", MethodDescriptor.MethodType.CLIENT_STREAMING)
  val MaterializeTableMethod: MethodDescriptor[Array[Byte], Array[Byte]] =
    method("MaterializeTable", MethodDescriptor.MethodType.UNARY)
  val GetTableInfoMethod: MethodDescriptor[Array[Byte], Array[Byte]] =
    method("GetTableInfo", MethodDescriptor.MethodType.UNARY)
  val SelectIpcMethod: MethodDescriptor[Array[Byte], Array[Byte]] =
    method("SelectIpc", MethodDescriptor.MethodType.BIDI_STREAMING)
  /** Seventh verb (beyond db.proto): `rpc ExecuteDml(Sql) returns (Message)`. */
  val ExecuteDmlMethod: MethodDescriptor[Array[Byte], Array[Byte]] =
    method("ExecuteDml", MethodDescriptor.MethodType.UNARY)
}
