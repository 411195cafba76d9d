package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.lake.LakeDataset
import graft.model.StorageSpec

/** The r16 driver-resolved delete locate (`keptByKeyTuples`): when a key
  * column carries a membership axis (bloom / bucket / partition) and the
  * distinct keys collect under `spark.graft.lake.maxLocateKeys`, the
  * touched-cell set resolves from the catalog with zero scan jobs. These
  * tests pin the contract the erase paths lean on: correctness of the
  * deleted/surviving rows, the touched set staying a SOUND and (with sharp
  * blooms) SHARP superset, the over-cap fallback, and the blooms-only
  * recount keeping repeated erases no-ops after a one-pass rewrite.
  */
class DriverLocateSpec extends SparkSpec {
  import spark.implicits._

  private def bloomedTable(root: String): LakeDataset = {
    val rows = spark.range(0, 4000)
      .select(col("id").as("k"), (col("id") % 7).as("batch"),
        concat(lit("v"), col("id")).as("payload"))
    val ds = LakeDataset.forStorage(spark,
      partitionCols = Seq("batch"), bucketCols = Seq("k"), nBuckets = 4,
      bloomCols = Seq("k"), storage = StorageSpec(root))
    ds.insertWritten(rows)
    ds
  }

  test("driver-resolved delete removes exactly the keyed rows and stays sharp") {
    val root = Files.createTempDirectory("graft_dls").toString
    val ds = bloomedTable(root)
    val doomed = Seq(3L, 170L, 1717L, 3999L)
    val before = ds.toDF.count()

    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val touched =
      try {
        val t = ds.delete(doomed.toDF("k"), Seq("k"))
        Thread.sleep(300) // let the async listener bus drain
        t
      } finally spark.sparkContext.removeSparkListener(listener)

    // Exact delete semantics.
    assert(ds.toDF.filter(col("k").isin(doomed: _*)).count() == 0)
    assert(ds.toDF.count() == before - doomed.length)
    // The locate itself ran NO scan job: the only jobs are the tiny
    // distinct-key collect (local relation source) — strictly fewer than
    // the old probe's checkpoint + projected-scan + collect chain.
    assert(jobs.get() <= 3, s"driver locate should not scan; ran ${jobs.get()} jobs")
    // Sharp superset: 4 keys land in at most 4 (batch, bucket) cells, and
    // sharp blooms at ~150 keys/cell make the resolved set exactly those.
    assert(touched.nonEmpty && touched.size <= doomed.length,
      s"expected <= ${doomed.length} touched cells, got ${touched.size}")
  }

  test("keys over the collect cap fall back to the exact scan locate") {
    val root = Files.createTempDirectory("graft_dls_cap").toString
    val ds = bloomedTable(root)
    spark.conf.set("spark.graft.lake.maxLocateKeys", "8")
    try {
      val doomed = (0L until 64L).map(_ * 50L)
      val before = ds.toDF.count()
      val touched = ds.delete(doomed.toDF("k"), Seq("k"))
      assert(ds.toDF.filter(col("k").isin(doomed: _*)).count() == 0)
      assert(ds.toDF.count() == before - doomed.length)
      assert(touched.nonEmpty)
    } finally spark.conf.unset("spark.graft.lake.maxLocateKeys")
  }

  test("erase idempotency survives the one-pass rewrite: second delete touches nothing") {
    val root = Files.createTempDirectory("graft_dls_idem").toString
    val ds = bloomedTable(root)
    // 28 cells (7 batches x 4 buckets); >= OnePassSaveMinCells keys spread
    // over every bucket force the one-pass save whose blooms-only recount
    // must re-tighten membership.
    val doomed = (0L until 200L).map(_ * 17L).filter(_ < 4000L)
    val t1 = ds.delete(doomed.toDF("k"), Seq("k"))
    assert(t1.nonEmpty)
    ds.saveParts(t1)
    val t2 = ds.delete(doomed.toDF("k"), Seq("k"))
    assert(t2.isEmpty,
      s"re-erasing already-erased keys must resolve ZERO cells, got ${t2.size}")
  }
}
