package lakebench

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable.ListBuffer

import org.sparkproject.connect.grpc.{CallOptions, MethodDescriptor}
import org.sparkproject.connect.grpc.netty.NettyChannelBuilder
import org.sparkproject.connect.grpc.stub.{ClientCalls, StreamObserver}

import org.apache.spark.sql.{Row, SparkSession}

import graft.lake.{GrpcLakeServer, WireClient}
import graft.sources.ProtoCodec._

/** One client connection to [[GrpcLakeServer]] over a localhost socket:
  * what a protoc-generated stub would send, built from the server's own
  * method descriptors. Every call waits for the server's reply, so a loop
  * over one connection is a closed loop.
  */
final class Conn(port: Int) extends AutoCloseable {
  private val channel = NettyChannelBuilder.forAddress("localhost", port)
    .usePlaintext().maxInboundMessageSize(Int.MaxValue).build()

  private final class Collector extends StreamObserver[Array[Byte]] {
    val items = ListBuffer[Array[Byte]]()
    @volatile var error: Throwable = _
    private val done = new CountDownLatch(1)
    override def onNext(v: Array[Byte]): Unit = items += v
    override def onError(t: Throwable): Unit = { error = t; done.countDown() }
    override def onCompleted(): Unit = done.countDown()
    def await(): Seq[Array[Byte]] = {
      if (!done.await(Conn.TimeoutSeconds, TimeUnit.SECONDS))
        throw new java.util.concurrent.TimeoutException("rpc timed out")
      if (error != null) throw error
      items.toList
    }
  }

  /** SelectIpc: one `Sql` on a fresh bidi call; returns every `SqlResults`
    * chunk once the server has completed the call.
    */
  def select(sql: String, qid: Int): Seq[PbSqlResults] = {
    val out = new Collector
    val req = ClientCalls.asyncBidiStreamingCall(
      channel.newCall(GrpcLakeServer.SelectIpcMethod, CallOptions.DEFAULT), out)
    req.onNext(PbSql(sql, Some(qid)).encode)
    req.onCompleted()
    out.await().map(PbSqlResults.decode)
  }

  /** A client-streaming verb (CreateTable, InsertTable, UpsertTable). */
  def stream(md: MethodDescriptor[Array[Byte], Array[Byte]], msgs: Seq[Array[Byte]]): String = {
    val out = new Collector
    val req = ClientCalls.asyncClientStreamingCall(channel.newCall(md, CallOptions.DEFAULT), out)
    msgs.foreach(req.onNext)
    req.onCompleted()
    PbMessage.decode(out.await().head).message
  }

  /** A unary verb; returns the server's reply message. */
  def unary(md: MethodDescriptor[Array[Byte], Array[Byte]], msg: Array[Byte]): String =
    PbMessage.decode(ClientCalls.blockingUnaryCall(channel, md,
      CallOptions.DEFAULT.withDeadlineAfter(Conn.TimeoutSeconds, TimeUnit.SECONDS),
      msg)).message

  /** ExecuteDml: one write statement. */
  def dml(sql: String): String = unary(GrpcLakeServer.ExecuteDmlMethod, PbSql(sql).encode)

  override def close(): Unit = {
    channel.shutdownNow()
    channel.awaitTermination(10, TimeUnit.SECONDS)
  }
}

object Conn {
  val TimeoutSeconds = 60L

  /** Decodes one query's chunks into rows, the client's last step. */
  def decode(spark: SparkSession, chunks: Seq[PbSqlResults]): Array[Row] =
    WireClient.reassemble(spark, chunks)._1.collect()
}
