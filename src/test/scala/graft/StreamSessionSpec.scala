package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The stateful stream gates trim their state stores on a child session:
  * the caller's session conf reads the same before, during and after a run.
  */
class StreamSessionSpec extends SparkSpec {
  private val trimmed = Seq("spark.sql.shuffle.partitions",
    "spark.sql.streaming.stateStore.maintenanceInterval",
    "spark.sql.streaming.minBatchesToRetain",
    "spark.sql.streaming.noDataMicroBatches.enabled")

  private def callerConf(): Map[String, Option[String]] =
    trimmed.map(k => k -> spark.conf.getOption(k)).toMap

  test("stream_dedup leaves the caller's session conf untouched") {
    val sc = spark.sparkContext
    val before = callerConf()
    // The caller's conf as each job of the run starts. A marker job closes
    // the record: the listener bus delivers in order.
    val seen = new ConcurrentLinkedQueue[Map[String, Option[String]]]()
    val marked = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("graft.test.marker") != null))
          marked.countDown()
        else seen.add(callerConf())
    }
    sc.addSparkListener(listener)
    try {
      assert(SparkEntry.queries("stream_dedup")(spark, sf()).collect().nonEmpty)
      sc.setLocalProperty("graft.test.marker", "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("graft.test.marker", null)
      assert(marked.await(60, TimeUnit.SECONDS), "listener bus did not drain")
    } finally sc.removeSparkListener(listener)
    assert(callerConf() == before)
    assert(!seen.isEmpty)
    val moved = seen.asScala.filter(_ != before)
    assert(moved.isEmpty, s"caller conf during the run: ${moved.headOption} vs $before")
  }
}
