package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.util.Collections

import scala.jdk.CollectionConverters._

import org.apache.arrow.compression.CommonsCompressionFactory
import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector._
import org.apache.arrow.vector.ipc.ArrowStreamReader
import org.apache.arrow.vector.types.{FloatingPointPrecision, TimeUnit => ArrowTimeUnit}
import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.graftbridge.ArrowParallel
import org.apache.spark.sql.types._

/** Arrow IPC stream interchange — the reference's wire format (reference:
  * src/server.rs:36-46 decodes `SourceIpc.data` IPC bytes; src/server.rs:
  * 293-297 replies with IPC-serialized results) for flat schemas: boolean,
  * int/long, float/double, string, binary, timestamp-µs, date.
  *
  * Encoding runs where the rows are: each result partition converts and
  * compresses its own record batches in a task ([[ArrowParallel]]), and the
  * driver only concatenates framed messages into standalone streams.
  * Decoding ingest CHUNKS (micro-batch sized) stays driver-side through the
  * public Arrow Java API (`arrow-vector` ships with Spark).
  */
object ArrowInterchange {

  /** The wire's Arrow field for a Spark column — the types [[sparkField]]
    * decodes, and the same schema [[ArrowParallel]] writes. Anything else
    * (DECIMAL, nested types) throws, so the encoder refuses it up front
    * rather than send a stream no client here can read.
    */
  private def arrowField(f: StructField): Field = {
    val t: ArrowType = f.dataType match {
      case BooleanType => ArrowType.Bool.INSTANCE
      case IntegerType => new ArrowType.Int(32, true)
      case LongType => new ArrowType.Int(64, true)
      case FloatType => new ArrowType.FloatingPoint(FloatingPointPrecision.SINGLE)
      case DoubleType => new ArrowType.FloatingPoint(FloatingPointPrecision.DOUBLE)
      case StringType => ArrowType.Utf8.INSTANCE
      case BinaryType => ArrowType.Binary.INSTANCE
      case TimestampType => new ArrowType.Timestamp(ArrowTimeUnit.MICROSECOND, "UTC")
      case TimestampNTZType => new ArrowType.Timestamp(ArrowTimeUnit.MICROSECOND, null)
      case DateType => new ArrowType.Date(org.apache.arrow.vector.types.DateUnit.DAY)
      case other => throw new IllegalArgumentException(s"unsupported IPC type: $other")
    }
    new Field(f.name, new FieldType(f.nullable, t, null), Collections.emptyList())
  }

  private def sparkField(f: Field): StructField = {
    val dt: DataType = f.getType match {
      case _: ArrowType.Bool => BooleanType
      case i: ArrowType.Int if i.getBitWidth == 32 => IntegerType
      case i: ArrowType.Int if i.getBitWidth == 64 => LongType
      case fp: ArrowType.FloatingPoint if fp.getPrecision == FloatingPointPrecision.SINGLE => FloatType
      case fp: ArrowType.FloatingPoint if fp.getPrecision == FloatingPointPrecision.DOUBLE => DoubleType
      case _: ArrowType.Utf8 => StringType
      case _: ArrowType.Binary => BinaryType
      case t: ArrowType.Timestamp if t.getTimezone == null => TimestampNTZType
      case _: ArrowType.Timestamp => TimestampType
      case _: ArrowType.Date => DateType
      case other => throw new IllegalArgumentException(s"unsupported IPC type: $other")
    }
    StructField(f.getName, dt, f.isNullable)
  }

  /** Rows per IPC record batch — bounds encoder memory: a partition's
    * writer holds one batch of vectors at a time, never the whole partition.
    */
  val BatchRows: Int = 16384

  /** Serialize a DataFrame's rows to one Arrow IPC stream.
    *
    * `codec` compresses the record-batch buffers (reference: responses are
    * IPC + ZSTD, src/server.rs:293-297): "zstd" or "lz4"; None writes
    * uncompressed. [[fromIpcBytes]] auto-detects either form — the codec
    * travels in the IPC batch metadata.
    */
  def toIpcBytes(df: DataFrame, codec: Option[String] = None): Array[Byte] =
    toIpcBytesWithCount(df, codec)._1

  /** One IPC stream of record batches of at most `batchRows` rows each,
    * encoded by [[ArrowParallel.framedPartitions]] on the executors. Also
    * returns the row count (the wire's `SqlResults.rows`) without a second
    * job.
    */
  def toIpcBytesWithCount(df: DataFrame, codec: Option[String] = None,
      batchRows: Int = BatchRows): (Array[Byte], Long) = {
    var result: (Array[Byte], Long) = (Array.emptyByteArray, 0L)
    toIpcChunked(df, codec, Long.MaxValue, Long.MaxValue, batchRows) { (b, n) => result = (b, n) }
    result
  }

  /** Incremental chunked encode: emits a STANDALONE IPC stream (schema →
    * batches → EOS) with its row count whenever the running chunk crosses
    * `maxRows` rows OR `maxBytes` encoded bytes — whichever first. Cuts fall
    * between record batches of at most `batchRows` rows. A result under both
    * caps emits exactly ONE chunk, and an empty result emits one empty
    * stream, so single-message consumers are unaffected until a result
    * actually needs chunking. The driver holds at most one wave of
    * compressed frames ([[ArrowParallel.framedPartitions]]) plus the chunk
    * being built; every job runs inside one SQL execution. A column type the
    * wire decoder cannot read is refused before any job. Returns the number
    * of chunks emitted (≥ 1).
    */
  def toIpcChunked(df: DataFrame, codec: Option[String], maxRows: Long, maxBytes: Long,
      batchRows: Int = BatchRows)(emit: (Array[Byte], Long) => Unit): Int = {
    df.schema.fields.foreach(arrowField)
    val head = ArrowParallel.schemaMessage(df)
    val eos = ArrowParallel.eosMessage()
    val out = new ByteArrayOutputStream()
    var rows = 0L
    var chunks = 0
    def closeAndEmit(): Unit = {
      out.write(eos)
      emit(out.toByteArray, rows)
      chunks += 1
      out.reset(); out.write(head); rows = 0L
    }
    out.write(head)
    SQLExecution.withNewExecutionId(df.queryExecution, Some("toIpcChunked")) {
      ArrowParallel.framedPartitions(df, batchRows, codec).foreach { case (frames, _) =>
        frames.foreach { case (frame, n) =>
          out.write(frame)
          rows += n
          if (rows >= maxRows || out.size() >= maxBytes) closeAndEmit()
        }
      }
    }
    if (rows > 0 || chunks == 0) closeAndEmit() // final partial, or the empty stream
    chunks
  }

  /** Decode an Arrow IPC stream into a DataFrame (all batches). */
  def fromIpcBytes(spark: SparkSession, bytes: Array[Byte]): DataFrame =
    fromIpcBytesWithCount(spark, bytes)._1

  /** [[fromIpcBytes]] plus the decoded row count — the count is known from
    * the batch metadata, so ingest paths can skip the one-job-per-chunk
    * `count()` the micro-batcher would otherwise run.
    */
  def fromIpcBytesWithCount(spark: SparkSession, bytes: Array[Byte]): (DataFrame, Long) = {
    val allocator = new RootAllocator()
    try {
      // The compression factory makes the reader transparently decompress
      // zstd/lz4 record batches; uncompressed streams read unchanged.
      val reader = new ArrowStreamReader(new ByteArrayInputStream(bytes), allocator,
        CommonsCompressionFactory.INSTANCE)
      try {
        val root = reader.getVectorSchemaRoot
        val schema = StructType(root.getSchema.getFields.asScala.map(sparkField).toArray)
        val out = scala.collection.mutable.ArrayBuffer[Row]()
        while (reader.loadNextBatch()) {
          (0 until root.getRowCount).foreach { r =>
            out += Row.fromSeq(schema.fields.indices.map { c =>
              getValue(root.getVector(c), r, schema.fields(c).dataType)
            })
          }
        }
        (spark.createDataFrame(out.asJava, schema), out.length.toLong)
      } finally reader.close()
    } finally allocator.close()
  }

  private def getValue(v: FieldVector, r: Int, dt: DataType): Any =
    if (v.isNull(r)) null
    else (v, dt) match {
      case (x: BitVector, BooleanType) => x.get(r) == 1
      case (x: IntVector, IntegerType) => x.get(r)
      case (x: BigIntVector, LongType) => x.get(r)
      case (x: Float4Vector, FloatType) => x.get(r)
      case (x: Float8Vector, DoubleType) => x.get(r)
      case (x: VarCharVector, StringType) => new String(x.get(r), java.nio.charset.StandardCharsets.UTF_8)
      case (x: VarBinaryVector, BinaryType) => x.get(r)
      case (x: TimeStampMicroTZVector, TimestampType) =>
        val us = x.get(r)
        val ts = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
        ts.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
        ts
      case (x: TimeStampMicroVector, TimestampNTZType) =>
        val us = x.get(r)
        java.time.LocalDateTime.ofEpochSecond(
          Math.floorDiv(us, 1000000L), (Math.floorMod(us, 1000000L) * 1000L).toInt,
          java.time.ZoneOffset.UTC)
      case (x: DateDayVector, DateType) =>
        java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(x.get(r).toLong))
      case (other, t) => throw new IllegalArgumentException(s"unsupported: $other/$t")
    }
}
