package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable.ListBuffer

import org.sparkproject.connect.grpc.CallOptions
import org.sparkproject.connect.grpc.netty.NettyChannelBuilder
import org.sparkproject.connect.grpc.stub.{ClientCalls, StreamObserver}

import org.apache.spark.sql.functions._

import graft.lake.{GrpcLakeServer, LakeServer}
import graft.sources.ArrowInterchange
import graft.sources.ProtoCodec._

/** End-to-end gRPC over a real localhost socket: a client built from the
  * same MethodDescriptors (bytes marshaller + hand protobuf — what a
  * protoc-generated stub would send) drives create → insert → upsert →
  * materialize → info → select against [[GrpcLakeServer]].
  */
class GrpcSpec extends SparkSpec {
  import spark.implicits._

  /** Collect a response stream synchronously. */
  private final class Collector extends StreamObserver[Array[Byte]] {
    val items = ListBuffer[Array[Byte]]()
    @volatile var error: Throwable = _
    private val done = new CountDownLatch(1)
    override def onNext(v: Array[Byte]): Unit = items += v
    override def onError(t: Throwable): Unit = { error = t; done.countDown() }
    override def onCompleted(): Unit = done.countDown()
    def await(): Seq[Array[Byte]] = {
      assert(done.await(60, TimeUnit.SECONDS), "rpc timed out")
      if (error != null) throw error
      items.toSeq
    }
  }

  /** One SelectIpc round trip: `sql` in, its SqlResults messages out. */
  private def selectIpc(port: Int, sql: String): Seq[PbSqlResults] = {
    val channel = NettyChannelBuilder.forAddress("localhost", port).usePlaintext().build()
    try {
      val out = new Collector
      val req = ClientCalls.asyncBidiStreamingCall(
        channel.newCall(GrpcLakeServer.SelectIpcMethod, CallOptions.DEFAULT), out)
      req.onNext(PbSql(sql, Some(1)).encode)
      req.onCompleted()
      out.await().map(PbSqlResults.decode)
    } finally channel.shutdownNow()
  }

  /** `body`'s result with the Spark jobs it started and its tasks' input
    * records. A marker job closes the count: the listener bus delivers in
    * order, so once the marker's start arrives every earlier event has too.
    */
  private def counted[T](body: => T): (T, Int, Long) = {
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val records = new java.util.concurrent.atomic.AtomicLong(0L)
    val marked = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("graft.test.marker") != null))
          marked.countDown()
        else jobs.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null) records.addAndGet(t.taskMetrics.inputMetrics.recordsRead)
    }
    sc.addSparkListener(listener)
    try {
      val r = body
      sc.setLocalProperty("graft.test.marker", "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("graft.test.marker", null)
      assert(marked.await(60, TimeUnit.SECONDS), "listener bus did not drain")
      (r, jobs.get(), records.get())
    } finally sc.removeSparkListener(listener)
  }

  /** Decoded `k` column of every chunk, in message order. */
  private def keys(chunks: Seq[PbSqlResults]): Seq[Long] =
    chunks.flatMap(c => ArrowInterchange.fromIpcBytes(spark, c.data).select("k").as[Long].collect())

  test("six verbs drive a full table lifecycle over the wire") {
    val server = new GrpcLakeServer(new LakeServer(spark))
    val channel = NettyChannelBuilder.forAddress("localhost", server.port)
      .usePlaintext().build()
    try {
      def streamCall(md: org.sparkproject.connect.grpc.MethodDescriptor[Array[Byte], Array[Byte]],
          msgs: Seq[Array[Byte]]): Seq[Array[Byte]] = {
        val out = new Collector
        val req = ClientCalls.asyncClientStreamingCall(
          channel.newCall(md, CallOptions.DEFAULT), out)
        msgs.foreach(req.onNext)
        req.onCompleted()
        out.await()
      }
      def unaryCall(md: org.sparkproject.connect.grpc.MethodDescriptor[Array[Byte], Array[Byte]],
          msg: Array[Byte]): Array[Byte] =
        ClientCalls.blockingUnaryCall(channel, md, CallOptions.DEFAULT, msg)

      // CreateTable: two SourceIpc chunks, partitioned by status.
      val chunk1 = Seq((1L, "O", 10.0), (2L, "F", 20.0)).toDF("k", "status", "v")
      val chunk2 = Seq((3L, "O", 30.0)).toDF("k", "status", "v")
      val created = streamCall(GrpcLakeServer.CreateTableMethod, Seq(
        PbSourceIpc("public", "wire_t", ArrowInterchange.toIpcBytes(chunk1),
          partitions = Seq("status")).encode,
        PbSourceIpc("public", "wire_t", ArrowInterchange.toIpcBytes(chunk2),
          partitions = Seq("status")).encode))
      assert(PbMessage.decode(created.head).message.contains("wire_t"))

      // InsertTable: one more row.
      streamCall(GrpcLakeServer.InsertTableMethod, Seq(
        PbSourceIpc("public", "wire_t",
          ArrowInterchange.toIpcBytes(Seq((4L, "P", 40.0)).toDF("k", "status", "v"))).encode))

      // UpsertTable on k: update k=1, add k=5.
      streamCall(GrpcLakeServer.UpsertTableMethod, Seq(
        PbSourceIpc("public", "wire_t",
          ArrowInterchange.toIpcBytes(
            Seq((1L, "O", 11.0), (5L, "F", 50.0)).toDF("k", "status", "v")),
          keys = Seq("k")).encode))

      // MaterializeTable + GetTableInfo.
      val mat = unaryCall(GrpcLakeServer.MaterializeTableMethod,
        PbTable("public", "wire_t").encode)
      assert(PbMessage.decode(mat).message.contains("wire_t"))
      val info = PbTableInfo.decode(
        unaryCall(GrpcLakeServer.GetTableInfoMethod, PbTable("public", "wire_t").encode))
      assert(info.columns == Seq("k", "status", "v"))
      assert(info.rows == 5L, s"info: $info")
      assert(info.parts == 3) // statuses O, F, P

      // SelectIpc (bidi): two queries with qids; responses carry zstd IPC.
      val out = new Collector
      val req = ClientCalls.asyncBidiStreamingCall(
        channel.newCall(GrpcLakeServer.SelectIpcMethod, CallOptions.DEFAULT), out)
      req.onNext(PbSql("SELECT k, v FROM wire_t ORDER BY k", Some(1)).encode)
      req.onNext(PbSql(
        "SELECT status, COUNT(*) AS n FROM wire_t GROUP BY status ORDER BY status",
        Some(2)).encode)
      req.onCompleted()
      val results = out.await().map(PbSqlResults.decode)
      assert(results.map(_.qid) == Seq(Some(1), Some(2)))
      val r1 = results.head
      assert(r1.rows == 5L && r1.columns == Seq("k", "v"))
      val decoded = ArrowInterchange.fromIpcBytes(spark, r1.data)
      assert(decoded.select("k").as[Long].collect().toSeq == Seq(1L, 2L, 3L, 4L, 5L))
      assert(decoded.filter($"k" === 1L).select("v").as[Double].head() == 11.0)
      val r2 = results(1)
      assert(r2.rows == 3L && r2.dtypes == Seq("string", "bigint"))
    } finally {
      channel.shutdownNow()
      server.close()
    }
  }

  test("chunked SelectIpc: multi-message results reassemble to the one-shot result") {
    val server = new GrpcLakeServer(new LakeServer(spark))
    val channel = NettyChannelBuilder.forAddress("localhost", server.port)
      .usePlaintext().build()
    try {
      // 40k rows — three 16384-row encoder batches, so both routes have
      // room to chunk. Created over the wire like any client table.
      val n = 40000
      val df = spark.range(n.toLong).select(
        $"id".as("k"), ($"id" % 7).cast("double").as("v"))
      val out0 = new Collector
      val req0 = ClientCalls.asyncClientStreamingCall(
        channel.newCall(GrpcLakeServer.CreateTableMethod, CallOptions.DEFAULT), out0)
      req0.onNext(PbSourceIpc("public", "chunk_t",
        ArrowInterchange.toIpcBytes(df)).encode)
      req0.onCompleted()
      out0.await()

      def selectAll(qid: Int): Seq[PbSqlResults] = {
        val out = new Collector
        val req = ClientCalls.asyncBidiStreamingCall(
          channel.newCall(GrpcLakeServer.SelectIpcMethod, CallOptions.DEFAULT), out)
        req.onNext(PbSql("SELECT k, v FROM chunk_t ORDER BY k", Some(qid)).encode)
        req.onCompleted()
        out.await().map(PbSqlResults.decode)
      }

      // Baseline: default confs, single message.
      val single = selectAll(1)
      assert(single.size == 1 && single.head.rows == n.toLong)
      val oneShot = ArrowInterchange.fromIpcBytes(spark, single.head.data)
        .select("k").as[Long].collect().toSeq

      def reassemble(chunks: Seq[PbSqlResults], qid: Int): Seq[Long] = {
        assert(chunks.size > 1, s"expected >1 chunks, got ${chunks.size}")
        assert(chunks.forall(_.qid.contains(qid)))
        assert(chunks.map(_.rows).sum == n.toLong)
        chunks.flatMap { c =>
          // Every chunk is a standalone IPC stream, decodable on its own,
          // and carries its own row count.
          val t = ArrowInterchange.fromIpcBytes(spark, c.data)
          val rows = t.select("k").as[Long].collect().toSeq
          assert(rows.length.toLong == c.rows)
          rows
        }
      }

      // Big route (plan-statistics estimate over the threshold): chunks of
      // ~chunkRows rows, qid-correlated, concatenating to the one-shot rows.
      spark.conf.set("spark.graft.wire.parallelEncodeRows", "0")
      spark.conf.set("spark.graft.wire.parallelEncodeBytes", "0")
      spark.conf.set("spark.graft.wire.chunkRows", "15000")
      try {
        val chunks = selectAll(2)
        assert(reassemble(chunks, 2) == oneShot)
        // The published client contract does the same reassembly.
        val (df, total) = graft.lake.WireClient.reassemble(spark, chunks)
        assert(total == n.toLong)
        assert(df.select("k").as[Long].collect().toSeq.sorted == oneShot)
      } finally {
        spark.conf.unset("spark.graft.wire.parallelEncodeRows")
        spark.conf.unset("spark.graft.wire.parallelEncodeBytes")
        spark.conf.unset("spark.graft.wire.chunkRows")
      }

      // Small route with the BYTES backstop: the estimate says small (caps
      // untouched), but a tiny chunkBytes forces the driver-side encoder to
      // flush per encoded batch — a size-estimate misroute degrades to more
      // chunks, never an unbounded driver buffer.
      spark.conf.set("spark.graft.wire.chunkBytes", "1000")
      try assert(reassemble(selectAll(3), 3) == oneShot)
      finally spark.conf.unset("spark.graft.wire.chunkBytes")

      // Empty result: exactly one message, zero rows, decodable schema —
      // on the big route too (non-foldable predicate keeps the scan; zero
      // caps route it big, and the chunker still sends the one message).
      spark.conf.set("spark.graft.wire.parallelEncodeRows", "0")
      spark.conf.set("spark.graft.wire.parallelEncodeBytes", "0")
      try {
        val out = new Collector
        val req = ClientCalls.asyncBidiStreamingCall(
          channel.newCall(GrpcLakeServer.SelectIpcMethod, CallOptions.DEFAULT), out)
        req.onNext(PbSql("SELECT k, v FROM chunk_t WHERE v < -1", Some(4)).encode)
        req.onCompleted()
        val empties = out.await().map(PbSqlResults.decode)
        assert(empties.size == 1 && empties.head.rows == 0L)
        val t = ArrowInterchange.fromIpcBytes(spark, empties.head.data)
        assert(t.columns.toSeq == Seq("k", "v") && t.count() == 0L)
      } finally {
        spark.conf.unset("spark.graft.wire.parallelEncodeRows")
        spark.conf.unset("spark.graft.wire.parallelEncodeBytes")
      }
    } finally {
      channel.shutdownNow()
      server.close()
    }
  }

  test("WireClient.decodeAll regroups interleaved chunked responses by qid") {
    val t1 = Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v")
    val t2 = Seq((3L, 30.0)).toDF("k", "v")
    def chunk(df: org.apache.spark.sql.DataFrame, qid: Int): Array[Byte] =
      PbSqlResults(ArrowInterchange.toIpcBytes(df), df.count(),
        Seq("k", "v"), Seq("bigint", "double"), Some(qid)).encode
    // Two queries' chunks interleaved on the wire — a defensive client
    // regroups by qid before concatenating.
    val raw = Seq(chunk(t1.limit(1), 7), chunk(t2, 9),
      chunk(t1.orderBy($"k".desc).limit(1), 7))
    val byQid = graft.lake.WireClient.decodeAll(spark, raw)
    assert(byQid.keySet == Set(Some(7), Some(9)))
    val (df7, n7) = byQid(Some(7))
    assert(n7 == 2L && df7.select("k").as[Long].collect().toSet == Set(1L, 2L))
    val (df9, n9) = byQid(Some(9))
    assert(n9 == 1L && df9.select("k").as[Long].head() == 3L)
    // Mixed qids in one direct reassemble call are refused loudly.
    intercept[IllegalArgumentException] {
      graft.lake.WireClient.reassemble(spark, raw.map(PbSqlResults.decode))
    }
  }

  test("ExecuteDml runs MERGE and DELETE WHERE over the wire; end state exact") {
    val server = new GrpcLakeServer(new LakeServer(spark))
    val channel = NettyChannelBuilder.forAddress("localhost", server.port)
      .usePlaintext().build()
    try {
      def unaryCall(md: org.sparkproject.connect.grpc.MethodDescriptor[Array[Byte], Array[Byte]],
          msg: Array[Byte]): Array[Byte] =
        ClientCalls.blockingUnaryCall(channel, md, CallOptions.DEFAULT, msg)
      // Create the table over the wire like any client.
      val out0 = new Collector
      val req0 = ClientCalls.asyncClientStreamingCall(
        channel.newCall(GrpcLakeServer.CreateTableMethod, CallOptions.DEFAULT), out0)
      req0.onNext(PbSourceIpc("public", "dml_t",
        ArrowInterchange.toIpcBytes(
          Seq((1L, "O", 10.0), (2L, "F", 20.0), (3L, "O", 30.0))
            .toDF("k", "status", "v"))).encode)
      req0.onCompleted()
      out0.await()

      // MERGE over the wire: update k=1, insert k=9.
      val merged = PbMessage.decode(unaryCall(GrpcLakeServer.ExecuteDmlMethod,
        PbSql("""MERGE INTO dml_t USING (
                |  SELECT CAST(1 AS BIGINT) AS k, 11.5 AS v
                |  UNION ALL SELECT CAST(9 AS BIGINT), 90.0) src
                |ON dml_t.k = src.k""".stripMargin).encode))
      assert(merged.message.startsWith("dml ok"))
      // DELETE WHERE over the wire.
      val deleted = PbMessage.decode(unaryCall(GrpcLakeServer.ExecuteDmlMethod,
        PbSql("DELETE FROM dml_t WHERE status = 'F'").encode))
      assert(deleted.message.startsWith("dml ok"))

      // End state read back over SelectIpc: merge applied (v=11.5 on k=1,
      // k=9 present with old status NULL preserved as NULL), F row gone.
      val out = new Collector
      val req = ClientCalls.asyncBidiStreamingCall(
        channel.newCall(GrpcLakeServer.SelectIpcMethod, CallOptions.DEFAULT), out)
      req.onNext(PbSql("SELECT k, status, v FROM dml_t ORDER BY k", Some(1)).encode)
      req.onCompleted()
      val result = out.await().map(PbSqlResults.decode).head
      val rows = ArrowInterchange.fromIpcBytes(spark, result.data)
        .collect().map(r => (r.getLong(0), Option(r.getString(1)).orNull, r.getDouble(2))).toSeq
      assert(rows == Seq((1L, "O", 11.5), (3L, "O", 30.0), (9L, null, 90.0)), rows)

      // A malformed statement is a loud gRPC error, not a hang.
      // (TRUNCATE graduated to a supported verb — GRANT stays unsupported.)
      val e = intercept[Exception] {
        unaryCall(GrpcLakeServer.ExecuteDmlMethod,
          PbSql("GRANT SELECT ON dml_t TO nobody").encode)
      }
      assert(e.getMessage.contains("unsupported DML"), e.getMessage)

      // The DML verb speaks atomic BEGIN/COMMIT scripts with no protocol
      // change (executeDml delegates): the committed script lands...
      val tx = PbMessage.decode(unaryCall(GrpcLakeServer.ExecuteDmlMethod,
        PbSql("""BEGIN;
                |INSERT INTO dml_t SELECT CAST(20 AS BIGINT), 'O', 200.0;
                |UPDATE dml_t SET v = 201.0 WHERE k = 20;
                |COMMIT""".stripMargin).encode))
      assert(tx.message.startsWith("dml ok"))
      // ...and an aborted one (failing mid-script) leaves no trace.
      val e2 = intercept[Exception] {
        unaryCall(GrpcLakeServer.ExecuteDmlMethod,
          PbSql("""BEGIN;
                  |DELETE FROM dml_t WHERE k = 20;
                  |INSERT INTO dml_t SELECT * FROM no_such_src;
                  |COMMIT""".stripMargin).encode)
      }
      assert(e2 != null)
      val out2 = new Collector
      val req2 = ClientCalls.asyncBidiStreamingCall(
        channel.newCall(GrpcLakeServer.SelectIpcMethod, CallOptions.DEFAULT), out2)
      req2.onNext(PbSql("SELECT k, v FROM dml_t WHERE k = 20", Some(1)).encode)
      req2.onCompleted()
      val r2 = out2.await().map(PbSqlResults.decode).head
      val rows2 = ArrowInterchange.fromIpcBytes(spark, r2.data)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(rows2 == Seq((20L, 201.0)),
        s"committed script must show, aborted delete must roll back: $rows2")
    } finally {
      channel.shutdownNow()
      server.close()
    }
  }

  test("wire errors surface as gRPC status, not hangs") {
    val server = new GrpcLakeServer(new LakeServer(spark))
    val channel = NettyChannelBuilder.forAddress("localhost", server.port)
      .usePlaintext().build()
    try {
      // Insert into a table that does not exist: client-streaming call must
      // fail with INTERNAL, carrying the message.
      val out = new Collector
      val req = ClientCalls.asyncClientStreamingCall(
        channel.newCall(GrpcLakeServer.InsertTableMethod, CallOptions.DEFAULT), out)
      req.onNext(PbSourceIpc("public", "nope",
        ArrowInterchange.toIpcBytes(Seq((1L, 1.0)).toDF("k", "v"))).encode)
      req.onCompleted()
      val e = intercept[Exception] { out.await() }
      assert(e.getMessage.contains("no table nope"), e.getMessage)
    } finally {
      channel.shutdownNow()
      server.close()
    }
  }

  test("SelectIpc of a catalog-answered aggregate runs no Spark job") {
    val lake = new LakeServer(spark)
    lake.createTable(graft.model.TableName("public", "wire_catalog"),
      Iterator(spark.range(0, 500, 1, 4).selectExpr("id + 3 AS k", "id % 3 AS p")),
      partitions = Seq("p"))
    val sql = "SELECT COUNT(*) AS n, MIN(k) AS lo FROM wire_catalog"
    assert(lake.select(sql).queryExecution.executedPlan
      .isInstanceOf[org.apache.spark.sql.execution.LocalTableScanExec],
      "precondition: the catalog answers this aggregate")
    val server = new GrpcLakeServer(lake)
    try {
      val (results, jobs, _) = counted(selectIpc(server.port, sql))
      assert(jobs == 0, s"catalog answer ran $jobs jobs")
      assert(results.size == 1 && results.head.rows == 1L)
      val row = ArrowInterchange.fromIpcBytes(spark, results.head.data).head()
      assert(row.getLong(0) == 500L && row.getLong(1) == 3L)
    } finally server.close()
  }

  test("SelectIpc fetches a 12-partition ORDER BY in waves: in order, 3 jobs, chunkRows held") {
    val server = new GrpcLakeServer(new LakeServer(spark))
    spark.conf.set("spark.graft.wire.chunkRows", "300")
    try {
      val sql = "SELECT id AS k FROM range(0, 1200, 1, 12) ORDER BY k"
      assert(spark.sql(sql).rdd.getNumPartitions == 12, "precondition: 12 partitions")
      val (chunks, jobs, _) = counted(selectIpc(server.port, sql))
      // local[4]: 12 partitions in waves of 4.
      assert(jobs == 3, s"expected 3 jobs, got $jobs")
      assert(chunks.map(_.rows) == Seq(300L, 300L, 300L, 300L))
      assert(keys(chunks) == (0L until 1200L))
    } finally {
      spark.conf.unset("spark.graft.wire.chunkRows")
      server.close()
    }
  }

  test("SelectIpc refuses a DECIMAL column with an error reply, before any job") {
    val lake = new LakeServer(spark)
    lake.createTable(graft.model.TableName("public", "wire_dec"),
      Iterator(spark.range(10).selectExpr("id AS k")))
    val server = new GrpcLakeServer(lake)
    // Zero size caps: a result estimated big is refused like a small one.
    spark.conf.set("spark.graft.wire.parallelEncodeRows", "0")
    spark.conf.set("spark.graft.wire.parallelEncodeBytes", "0")
    try {
      val (e, jobs, _) = counted(intercept[Exception] {
        selectIpc(server.port, "SELECT CAST(k AS DECIMAL(10, 2)) AS d FROM wire_dec")
      })
      assert(e.getMessage.contains("unsupported IPC type"), e.getMessage)
      assert(jobs == 0, s"refusal ran $jobs jobs")
    } finally {
      spark.conf.unset("spark.graft.wire.parallelEncodeRows")
      spark.conf.unset("spark.graft.wire.parallelEncodeBytes")
      server.close()
    }
  }
}
