package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, Dataset}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD

/** Bridge into `private[sql]` Column↔Expression conversion (the Spark 4
  * Column is ColumnNode-based; libraries adding native Catalyst expressions
  * need this seam — same technique other Spark extension libraries use).
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The checkpointed RDDs a Dataset's plan reads (LogicalRDD leaves) —
    * lets the lake release the block-store storage of SUPERSEDED snapshots
    * instead of accumulating every checkpoint generation until the session
    * dies (observed as eviction churn: 4.9s vs 28s for the same save,
    * depending on how much dead data the block manager was juggling).
    */
  def checkpointRdds(df: Dataset[_]): Seq[RDD[_]] = {
    val qe = df.queryExecution
    qe.analyzed.collect { case lr: LogicalRDD => lr.rdd }
  }

  /** Drop the persisted blocks behind a checkpointed Dataset. Only call on
    * snapshots no live plan references — a local checkpoint cannot be
    * recomputed, so later reads of a released snapshot fail.
    */
  def unpersistCheckpoint(df: Dataset[_], blocking: Boolean = false): Unit =
    checkpointRdds(df).foreach(_.unpersist(blocking))

  /** Re-wrap a locally-checkpointed Dataset's LogicalRDD WITHOUT the origin
    * plan's constraints or per-attribute stats. `localCheckpoint` copies
    * the origin plan's constraint set onto the LogicalRDD; when the origin
    * was a streaming micro-batch (e.g. a stream-stream join output inside
    * foreachBatch), those constraints carry watermark-tagged attribute
    * instances that are not in the node's output, and a later Union
    * constraint rewrite over the retained snapshot dies with
    * `key not found: ts#N`. The snapshot's data is already inert — this
    * makes its metadata inert too. Identity on non-LogicalRDD plans.
    *
    * The SIZE stats survive, attribute-free: `sizeInBytes`/`rowCount` are
    * plain numbers (no attribute references, nothing to poison) and they
    * are load-bearing — joins against lake snapshots pick broadcast-vs-SMJ
    * from them, and dropping them silently turned provably-small dimension
    * sides into sort-merge joins (caught by SqlPruneSpec's broadcast pin).
    * Only `attributeStats` (keyed by origin attribute instances) is
    * discarded with the constraints.
    */
  def severCheckpoint(df: Dataset[_]): org.apache.spark.sql.DataFrame =
    df.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        val sizeOnly = org.apache.spark.sql.catalyst.plans.logical.Statistics(
          sizeInBytes = lr.stats.sizeInBytes, rowCount = lr.stats.rowCount)
        ofRows(df.sparkSession,
          LogicalRDD(lr.output, lr.rdd, lr.outputPartitioning,
            lr.outputOrdering, lr.isStreaming, lr.stream)(
            df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
            Some(sizeOnly), None))
      case _ => df.toDF()
    }

  /** Wrap a logical plan as a DataFrame — the seam that lets the lake
    * register a custom leaf node (graft.plans.LakeScan) as a SQL temp view.
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A serializable factory for the session's Hadoop configuration —
    * executors writing files directly (the tar-shard exporter) must open
    * the DRIVER-configured FileSystem (s3a credentials, defaultFS), and
    * `Configuration` itself is not serializable. Wraps Spark's own
    * `SerializableConfiguration` (private[spark], hence this bridge).
    */
  def hadoopConfFactory(spark: org.apache.spark.sql.SparkSession)
      : () => org.apache.hadoop.conf.Configuration = {
    val sc = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    () => sc.value
  }

  /** Root paths of the file-source scans a Dataset's plan reads — lets the
    * lake identify which parquet-spilled snapshot directories back a plan.
    */
  def scanRootPaths(df: Dataset[_]): Seq[String] =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(_.toString)
          case _ => Seq.empty[String]
        }
    }.flatten

  /** Streaming listener buses registered on the context's shared listener
    * bus: one per session whose `StreamingQueryManager` has been built.
    */
  def streamListenerBuses(spark: org.apache.spark.sql.SparkSession): Int =
    spark.sparkContext.listenerBus.findListenersByClass[
      org.apache.spark.sql.execution.streaming.runtime.StreamingQueryListenerBus]().size

  /** Unregister the streaming listener buses a STOPPED query's run left on
    * the shared listener bus. A session's `StreamingQueryManager` adds one
    * when it is first built and Spark never removes it, so each run leaves
    * two: the bus of the session the query ran on, and that of the clone
    * session Spark's stream execution plans every micro-batch on (its
    * stateful operators build the clone's manager to reach the state-store
    * coordinator). Call only for a query whose session is the caller's own
    * and is discarded with it: that session's streaming listeners hear
    * nothing afterwards. The managers' buses are private, hence the
    * reflection; a manager never built is left unbuilt.
    */
  def releaseStreamBuses(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = q match {
    case w: org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper =>
      val exec = w.streamingQuery
      val built = classOf[org.apache.spark.sql.internal.SessionState]
        .getDeclaredField("streamingQueryManager")
      val bus = classOf[org.apache.spark.sql.classic.StreamingQueryManager]
        .getDeclaredField("listenerBus")
      built.setAccessible(true)
      bus.setAccessible(true)
      Seq(exec.sparkSession, exec.sparkSessionForStream).foreach { s =>
        Option(built.get(s.sessionState)).foreach(m => s.sparkContext.removeSparkListener(
          bus.get(m).asInstanceOf[org.apache.spark.scheduler.SparkListenerInterface]))
      }
    case _ => ()
  }
}
