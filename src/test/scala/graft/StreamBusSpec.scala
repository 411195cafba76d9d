package graft

import org.apache.spark.sql.graftbridge.Bridge

/** A stateful stream gate run leaves no streaming listener bus behind on
  * the shared listener bus: repeated runs in one long-lived process would
  * otherwise pile up buses that each hear every streaming event.
  */
class StreamBusSpec extends SparkSpec {
  test("three stream_anomaly runs leave the count of streaming listener buses unchanged") {
    val before = Bridge.streamListenerBuses(spark)
    val after = (1 to 3).map { _ =>
      assert(SparkEntry.queries("stream_anomaly")(spark, sf()).collect().nonEmpty)
      Bridge.streamListenerBuses(spark)
    }
    assert(after.forall(_ == before), s"buses before $before, after each run $after")
  }
}
