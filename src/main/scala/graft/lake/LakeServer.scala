package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.model.{StorageSpec, TableName}

/** Table lifecycle summary served by GetTableInfo (reference:
  * src/server.rs:210-232, proto/db.proto:50-55).
  */
final case class TableInfo(
    columns: List[(String, String)],
    rows: Long,
    parts: Int)

/** The reference's service surface — its six gRPC verbs (reference:
  * proto/db.proto:20-35, impls src/server.rs:92-304) — as an in-process
  * Scala API embedding the SparkSession. Wire transport (the reference
  * exchanges Arrow IPC bytes in protobuf envelopes) is a deliberate
  * non-goal: Spark's Arrow interchange classes are private, and every
  * consumer of this engine is in-process with the session (SURVEY.md §7.4.6).
  *
  * Chunked ingest semantics match the reference: chunks buffer in an
  * [[Ingestor]] and flush into the table at the 10M-row threshold
  * (src/server.rs:48-88), except that an upsert stream's final flush
  * correctly upserts (the reference final-flushes with insert —
  * src/server.rs:81-87 — a bug we do not replicate).
  */
final class LakeServer(val spark: SparkSession) {

  val db = new Database(spark)

  /** CreateTable: build a partitioned/bucketed dataset from the (already
    * concatenated) ingest chunks and register it (src/server.rs:92-141).
    */
  def createTable(
      name: TableName,
      chunks: Iterator[DataFrame],
      partitions: Seq[String] = Nil,
      buckets: Seq[String] = Nil,
      nBuckets: Int = 5,
      storage: Option[StorageSpec] = None): Unit = {
    val all = chunks.reduce(_ unionByName (_, allowMissingColumns = true))
    val ds = LakeDataset.fromDataFrame(spark, all, partitions, buckets, nBuckets, storage)
    db.register(name, ds)
  }

  /** InsertTable: stream chunks through the micro-batcher (append). */
  def insertTable(name: TableName, chunks: Iterator[DataFrame], save: Boolean = false): Unit =
    ingest(name, chunks, None, save)

  /** UpsertTable: stream chunks through the micro-batcher (merge on keys). */
  def upsertTable(name: TableName, keys: Seq[String], chunks: Iterator[DataFrame],
      save: Boolean = false): Unit =
    ingest(name, chunks, Some(keys), save)

  private def ingest(name: TableName, chunks: Iterator[DataFrame],
      keys: Option[Seq[String]], save: Boolean): Unit =
    ingestCounted(name, chunks.map(_ -> -1L), keys, save)

  /** Ingest with per-chunk row counts when the caller knows them (the IPC
    * path reads them from batch metadata) — skips the one-Spark-job-per-
    * chunk count the micro-batcher runs for unknown sizes.
    */
  private def ingestCounted(name: TableName, chunks: Iterator[(DataFrame, Long)],
      keys: Option[Seq[String]], save: Boolean): Unit = {
    val ds = db.get(name.handle)
      .getOrElse(throw new NoSuchElementException(s"no table ${name.handle}"))
    val ing = new Ingestor(ds, keys)
    chunks.foreach { case (chunk, n) => ing.offer(chunk, n) }
    ing.flush()
    if (save) ds.toStorage()
    db.refresh(name.handle)
  }

  /** MaterializeTable (src/server.rs:192-208). */
  def materializeTable(name: TableName): Unit = {
    db.get(name.handle).foreach(_.materialize())
    db.refresh(name.handle)
  }

  /** GetTableInfo (src/server.rs:210-232). */
  def getTableInfo(name: TableName): TableInfo = {
    val (cols, rows, parts) = db.get(name.handle)
      .getOrElse(throw new NoSuchElementException(s"no table ${name.handle}"))
      .schemaInfo
    TableInfo(cols, rows, parts)
  }

  /** SelectIpc minus the wire: one SQL statement → DataFrame
    * (src/server.rs:276-304).
    */
  def select(sql: String): DataFrame = db.executeSql(sql)

  /** Batch select with dedupe + concurrent execution (the commented-out
    * SelectsIpc RPC, src/server.rs:234-274 / src/database.rs:58-63).
    */
  def selectMany(sqls: Seq[String]): Map[String, Array[org.apache.spark.sql.Row]] = {
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    db.executeSqls(sqls)
  }

  /** Attach a Structured Streaming source to a registered table: every
    * micro-batch applies the declared operation through the SAME mutation
    * path the batch verbs use (insert, or upsert on `keys`) and refreshes
    * the SQL view — the stream-native upgrade of the reference's chunked
    * ingest RPCs (src/server.rs:48-88), with the correct final-flush
    * semantics on every batch. Returns the query handle; the caller owns
    * its lifecycle (`stop()`, `awaitTermination()`).
    */
  def ingestStream(name: TableName, stream: DataFrame,
      keys: Option[Seq[String]] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val ds = db.get(name.handle)
      .getOrElse(throw new NoSuchElementException(s"no table ${name.handle}"))
    val sink = keys match {
      case Some(k) =>
        graft.streaming.StreamingIngest.upsertBatches(ds, k, Some(db -> name.handle))
      case None =>
        graft.streaming.StreamingIngest.insertBatches(ds, Some(db -> name.handle))
    }
    stream.writeStream.foreachBatch(sink).start()
  }

  // ------------------------------------------------ Arrow IPC wire parity

  /** Estimated result size above which [[estimateBig]] calls a result big.
    * It no longer picks the encoder (every reply encodes in the tasks); the
    * byte cap is also [[chunkBytes]]'s default. Override per session via
    * `spark.graft.wire.parallelEncodeRows` / `.parallelEncodeBytes`.
    */
  private def parallelEncodeRows: Long =
    spark.conf.get("spark.graft.wire.parallelEncodeRows", "262144").toLong
  private def parallelEncodeBytes: Long =
    spark.conf.get("spark.graft.wire.parallelEncodeBytes", (64L << 20).toString).toLong

  /** Rows per wire chunk on the chunked SELECT path ([[GrpcLakeServer]]):
    * each `SqlResults` message carries a standalone IPC stream of about this
    * many rows, so the client holds O(chunk), not O(result).
    */
  private[lake] def chunkRows: Long =
    spark.conf.get("spark.graft.wire.chunkRows", "262144").toLong

  /** Byte backstop per wire chunk — a chunk flushes once its encoded bytes
    * cross this even mid-`chunkRows`, so wide rows still cannot make one
    * message unbounded.
    */
  private[lake] def chunkBytes: Long =
    spark.conf.get("spark.graft.wire.chunkBytes", parallelEncodeBytes.toString).toLong

  /** Job-free size estimate of a result from Catalyst's plan statistics —
    * the row count when available, the size-in-bytes estimate otherwise.
    * Estimates err toward BIG (unknown leaves report the default size).
    * The server no longer routes on it; it stays as the benchmark's
    * mirror of the old routing until that mirror is dropped.
    */
  private[lake] def estimateBig(df: DataFrame): Boolean = {
    val stats = df.queryExecution.optimizedPlan.stats
    stats.rowCount match {
      case Some(n) => n > BigInt(parallelEncodeRows)
      case None => stats.sizeInBytes > BigInt(parallelEncodeBytes)
    }
  }

  /** SelectIpc with the actual wire encoding: result rows as one
    * ZSTD-compressed Arrow IPC stream, matching the reference's response
    * encoding exactly (src/server.rs:293-297 `IpcWriter...with_compression
    * (ZSTD)`), encoded in the tasks like every wire reply. Pass
    * `codec = None` for an uncompressed stream.
    */
  def selectIpc(sql: String, codec: Option[String] = Some("zstd")): Array[Byte] =
    graft.sources.ArrowInterchange.toIpcBytes(select(sql), codec)

  /** Streaming ingest from Arrow IPC chunks (reference `read_source`,
    * src/server.rs:36-46).
    */
  def insertTableIpc(name: TableName, chunks: Iterator[Array[Byte]],
      save: Boolean = false): Unit =
    ingestCounted(name,
      chunks.map(graft.sources.ArrowInterchange.fromIpcBytesWithCount(spark, _)),
      None, save)

  def upsertTableIpc(name: TableName, keys: Seq[String],
      chunks: Iterator[Array[Byte]], save: Boolean = false): Unit =
    ingestCounted(name,
      chunks.map(graft.sources.ArrowInterchange.fromIpcBytesWithCount(spark, _)),
      Some(keys), save)
}
