package org.apache.spark.sql.graftbridge

import java.io.ByteArrayOutputStream
import java.nio.channels.Channels

import org.apache.arrow.compression.CommonsCompressionFactory
import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.{VectorSchemaRoot, VectorUnloader}
import org.apache.arrow.vector.compression.CompressionUtil
import org.apache.arrow.vector.ipc.{ArrowStreamWriter, WriteChannel}
import org.apache.arrow.vector.ipc.message.{IpcOption, MessageSerializer}
import org.apache.arrow.vector.types.pojo.Schema

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.execution.arrow.ArrowWriter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.ArrowUtils

/** The wire path's one Arrow IPC encoder.
  *
  * Each PARTITION converts its own rows (Spark's InternalRow→Arrow writer)
  * and serializes FRAMED record-batch messages, zstd/lz4-compressed at the
  * batch level — the codec rides in each batch's own metadata. The driver
  * fetches the frames in waves of `defaultParallelism` partitions, ONE
  * Spark job per wave (not one per partition, as `toLocalIterator` runs),
  * and only concatenates: one schema header, every partition's frames in
  * partition order, one end-of-stream marker. A result Spark already holds
  * on the driver (a `LocalTableScanExec`, e.g. a catalog-answered
  * aggregate) is encoded there by the same per-partition function, with no
  * job at all.
  */
object ArrowParallel {

  /** Serialize `df` to one Arrow IPC stream. Returns (stream bytes, row
    * count) — the count rides the same job.
    */
  def toIpcBytesDistributed(
      df: DataFrame, batchRows: Int = 16384,
      codec: Option[String] = Some("zstd")): (Array[Byte], Long) =
    graft.sources.ArrowInterchange.toIpcBytesWithCount(df, codec, batchRows)

  /** Executor-encoded framed batches as a LOCAL iterator of ((framed
    * message, its row count)*, partition row count) per partition, in
    * partition order — so an ORDER BY result stays ordered. Partitions are
    * fetched lazily in waves of `defaultParallelism` with one
    * `SparkContext.runJob` each: the driver holds at most ONE wave of
    * compressed frames, and wraps bounded groups into standalone IPC streams
    * with [[schemaMessage]] + [[eosMessage]]. Per-FRAME counts let the
    * consumer cut chunks at record-batch granularity: a result AQE coalesced
    * into one big partition must still honor a rows-per-chunk contract.
    * Drain the iterator inside one `SQLExecution` (as
    * `ArrowInterchange.toIpcChunked` does) for its jobs to show as one
    * execution.
    */
  def framedPartitions(
      df: DataFrame, batchRows: Int = 16384,
      codec: Option[String] = Some("zstd")): Iterator[(Array[(Array[Byte], Long)], Long)] = {
    val schema = df.schema
    val codecName = codec.map(_.toLowerCase)
    codecName.foreach(codecType) // an unknown codec fails here, not in a task
    df.queryExecution.executedPlan match {
      case local: LocalTableScanExec =>
        Iterator.single(encode(local.executeCollect().iterator, schema, batchRows, codecName))
      case _ =>
        val rdd = df.queryExecution.toRdd
        val sc = rdd.sparkContext
        rdd.partitions.indices.grouped(sc.defaultParallelism).flatMap { wave =>
          sc.runJob(rdd,
            (rows: Iterator[InternalRow]) => encode(rows, schema, batchRows, codecName), wave)
        }
    }
  }

  /** The serialized Arrow schema message that opens every stream of `df`. */
  def schemaMessage(df: DataFrame): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    MessageSerializer.serialize(new WriteChannel(Channels.newChannel(out)),
      arrowSchema(df.schema))
    out.toByteArray
  }

  /** The end-of-stream marker that closes every IPC stream. */
  def eosMessage(): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    ArrowStreamWriter.writeEndOfStream(
      new WriteChannel(Channels.newChannel(out)), IpcOption.DEFAULT)
    out.toByteArray
  }

  /** The wire schema. Timestamps are labelled UTC: the values are
    * microseconds since the epoch whatever the session zone.
    */
  private def arrowSchema(schema: StructType): Schema =
    ArrowUtils.toArrowSchema(schema, "UTC", true, false)

  private def codecType(codec: String): CompressionUtil.CodecType = codec match {
    case "zstd" => CompressionUtil.CodecType.ZSTD
    case "lz4" => CompressionUtil.CodecType.LZ4_FRAME
    case other => throw new IllegalArgumentException(
      s"unsupported IPC codec: $other (zstd, lz4)")
  }

  /** One partition's rows → framed, (optionally) compressed record-batch
    * messages of at most `batchRows` rows, plus the partition's row count.
    * Runs in a task for a distributed result and on the driver for a local
    * one.
    */
  private def encode(rows: Iterator[InternalRow], schema: StructType, batchRows: Int,
      codec: Option[String]): (Array[(Array[Byte], Long)], Long) = {
    val allocator = new RootAllocator()
    val root = VectorSchemaRoot.create(arrowSchema(schema), allocator)
    try {
      val writer = ArrowWriter.create(root)
      val unloader = codec match {
        case None => new VectorUnloader(root)
        case Some(c) => new VectorUnloader(root, true,
          CommonsCompressionFactory.INSTANCE.createCodec(codecType(c)), true)
      }
      val out = scala.collection.mutable.ArrayBuffer[(Array[Byte], Long)]()
      var n = 0L
      var inBatch = 0
      def flush(): Unit = if (inBatch > 0) {
        writer.finish()
        val rb = unloader.getRecordBatch
        try {
          val buf = new ByteArrayOutputStream()
          MessageSerializer.serialize(new WriteChannel(Channels.newChannel(buf)), rb)
          out += ((buf.toByteArray, inBatch.toLong))
        } finally rb.close()
        writer.reset()
        inBatch = 0
      }
      rows.foreach { r =>
        writer.write(r)
        n += 1
        inBatch += 1
        if (inBatch >= batchRows) flush()
      }
      flush()
      (out.toArray, n)
    } finally { root.close(); allocator.close() }
  }
}
