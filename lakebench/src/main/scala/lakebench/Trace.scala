package lakebench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.LakebenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark work attributed to one traced operation. */
final class SparkWork {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var inputBytes = 0L
  var inputRecords = 0L

  def add(o: SparkWork): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskMs += o.taskMs
    shuffleReadBytes += o.shuffleReadBytes; shuffleWriteBytes += o.shuffleWriteBytes
    inputBytes += o.inputBytes; inputRecords += o.inputRecords
  }
}

/** Records every job's start time and stages, and each stage's tasks and
  * bytes. A stage belongs to the first job that lists it; later jobs list it
  * again only as skipped.
  */
final class JobCounter extends SparkListener {
  private val jobs = new ConcurrentHashMap[Int, (Long, Seq[Int])]()
  private val stages = new ConcurrentHashMap[Int, SparkWork]()

  private def stage(id: Int): SparkWork = stages.computeIfAbsent(id, _ => new SparkWork)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.put(e.jobId, (e.time, e.stageIds))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val w = stage(e.stageInfo.stageId)
    w.synchronized { w.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val w = stage(e.stageId)
    val m = e.taskMetrics
    w.synchronized {
      w.tasks += 1
      w.taskMs += e.taskInfo.duration
      if (m != null) {
        w.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        w.inputBytes += m.inputMetrics.bytesRead
        w.inputRecords += m.inputMetrics.recordsRead
      }
    }
  }

  /** Work per name that `owner` gives a job's start time (epoch ms), after
    * the listener bus has delivered every event posted so far. Jobs `owner`
    * places nowhere count under [[JobCounter.Outside]].
    */
  def attribute(spark: SparkSession, owner: Long => Option[String]): Map[String, SparkWork] = {
    LakebenchBridge.drainListenerBus(spark.sparkContext)
    val out = scala.collection.mutable.Map[String, SparkWork]()
    val claimed = scala.collection.mutable.Set[Int]()
    jobs.asScala.toSeq.sortBy(_._1).foreach { case (_, (time, stageIds)) =>
      val w = out.getOrElseUpdate(owner(time).getOrElse(JobCounter.Outside), new SparkWork)
      w.jobs += 1
      stageIds.filter(claimed.add).foreach(id => Option(stages.get(id)).foreach(s => s.synchronized(w.add(s))))
    }
    out.toMap
  }
}

object JobCounter {
  val Outside = "<outside>"
}

/** One timed span around a call into a layer. Spans of one operation share
  * `op`; `parent` names the enclosing span, if any.
  */
final case class Span(layer: String, op: Int, parent: Option[String],
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** The traced run's recorder: spans stay in memory and are written when the
  * run ends. Operations run one at a time from one thread, so each records
  * its wall-clock window and a Spark job belongs to the operation whose
  * window holds the job's start, whichever thread (server, I/O pool)
  * launched it. Until [[enable]], and inside [[off]], it only runs the
  * bodies.
  */
final class Trace(val spark: SparkSession) {
  val counter = new JobCounter
  @volatile private var on = false
  def enabled: Boolean = on

  def enable(): Unit = { spark.sparkContext.addSparkListener(counter); on = true }

  val spans = ArrayBuffer[Span]()
  private val windows = ArrayBuffer[(Long, Long, String)]()
  private var open: List[String] = Nil
  private var currentOp = 0

  /** Runs one operation named `name`: its spans share an id, and the Spark
    * jobs that start inside its window count as its work. The window is
    * fenced by a few idle milliseconds on each side, so jobs of the work
    * before and after it (listener times are whole milliseconds) fall
    * outside.
    */
  def op[A](name: String)(body: => A): A = if (!on) body else {
    currentOp += 1
    Thread.sleep(Trace.FenceMs)
    val t0 = System.currentTimeMillis()
    try body finally {
      windows += ((t0, System.currentTimeMillis(), name))
      Thread.sleep(Trace.FenceMs)
    }
  }

  private def owner(time: Long): Option[String] =
    windows.find { case (a, b, _) => a <= time && time <= b }.map(_._3)

  /** Spark work of every operation whose name starts with `prefix`. */
  def work(prefix: String): SparkWork = {
    val out = new SparkWork
    counter.attribute(spark, owner).foreach { case (n, w) => if (n.startsWith(prefix)) out.add(w) }
    out
  }

  /** Each operation under `prefix` with its work, in name order;
    * operations that launched no job are included.
    */
  def opWork(prefix: String): Seq[(String, SparkWork)] = {
    val byName = counter.attribute(spark, owner)
    windows.map(_._3).filter(_.startsWith(prefix)).distinct.sorted
      .map(n => n -> byName.getOrElse(n, new SparkWork)).toSeq
  }

  /** Jobs that started outside every operation's window: untraced halves
    * and work that outlived its operation.
    */
  def outsideJobs: Long =
    counter.attribute(spark, owner).get(JobCounter.Outside).map(_.jobs).getOrElse(0L)

  /** Runs `body` with recording off: the untraced half of an A/B pair. The
    * listener stays registered; jobs launched here fall outside every
    * window.
    */
  def off[A](body: => A): A = {
    val was = on
    on = false
    try body finally on = was
  }

  /** Operation `i` once untraced and once traced, returned in that order.
    * Which half runs first alternates with `i`, so the caches the first run
    * warms favour neither half.
    */
  def pair[A](i: Int)(untraced: => A)(traced: => A): (A, A) =
    if (i % 2 == 0) { val u = off(untraced); (u, traced) }
    else { val t = traced; (off(untraced), t) }

  def span[A](layer: String)(body: => A): A = if (!on) body else {
    val parent = open.headOption
    open = layer :: open
    val t0 = System.nanoTime()
    try body finally {
      spans += Span(layer, currentOp, parent, t0, System.nanoTime())
      open = open.tail
    }
  }

  def spansOf(layer: String): Seq[Span] = spans.filter(_.layer == layer).toSeq
  def totalMs(layer: String): Double = spansOf(layer).map(_.ms).sum

  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = spans.map { s =>
      val p = s.parent.map(x => "\"" + x + "\"").getOrElse("null")
      s"""{"layer":"${s.layer}","op":${s.op},"parent":$p,"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Trace {
  val FenceMs = 3L
}

object Jvm {
  /** Collection time so far, from the collector MXBeans. */
  def gcMs: Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  /** Used heap after full collections, in MB. Spark frees the blocks of
    * unreachable datasets asynchronously once a collection has found them,
    * so this collects, lets that cleanup run, and collects again.
    */
  def retainedHeapMb: Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    System.gc()
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}
