package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.lake.LakeDataset
import graft.model.StorageSpec

/** Deterministic counters of saving a table dirtied by the persist loop's
  * mutations (a wide upsert, an insert and a `deleteWhere`): the save reads
  * the snapshots once, shuffles once and writes one file per cell.
  */
class DirtySaveSpec extends SparkSpec {
  import spark.implicits._

  test("a dirty save of a 15-cell table scans its snapshots once and writes one file per cell") {
    val sc = spark.sparkContext
    val root = Files.createTempDirectory("graft-dirty-save-")
    val base = (0L until 3000L).map(k => (k, (k % 3).toString, k * 0.5))
    val ds = LakeDataset.fromDataFrame(spark, base.toDF("k", "p", "v"),
      partitionCols = Seq("p"), bucketCols = Seq("k"), nBuckets = 5)
    assert(ds.numParts == 15)
    ds.storage = Some(StorageSpec(root.toString))
    // wide upsert: 7 is coprime to 3 cells × 5 buckets, so every cell
    ds.upsert((0L until 3000L by 7L).map(k => (k, (k % 3).toString, -1.0))
      .toDF("k", "p", "v"), Seq("k"))
    ds.insert((5000L until 5100L).map(k => (k, (k % 3).toString, 1.0)).toDF("k", "p", "v"))
    ds.deleteWhere(col("k").isin((100L until 120L): _*))

    val leaves = ds.toDF.queryExecution.optimizedPlan.collectLeaves()
    assert(leaves.size <= 2, s"toDF plans ${leaves.size} leaves")
    val inputParts = leaves.collect { case l: LogicalRDD => l.rdd }
      .distinctBy(_.id).map(_.getNumPartitions).sum
    val shuffleParts = spark.conf.get("spark.sql.shuffle.partitions").toInt

    // Tasks of every stage the save submits; a marker job closes the record
    // (the listener bus delivers in order).
    val saveTasks = new AtomicLong(0L)
    val marked = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.test.save") != null))
          saveTasks.addAndGet(e.stageInfo.numTasks.toLong)
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("graft.test.marker") != null))
          marked.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty("graft.test.save", "1")
      try ds.toStorage() finally sc.setLocalProperty("graft.test.save", null)
      sc.setLocalProperty("graft.test.marker", "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("graft.test.marker", null)
      assert(marked.await(60, TimeUnit.SECONDS), "listener bus did not drain")
    } finally sc.removeSparkListener(listener)
    assert(saveTasks.get > 0L)
    assert(saveTasks.get <= inputParts + shuffleParts,
      s"save ran ${saveTasks.get} tasks over $inputParts input partitions")

    val cellDirs = Files.walk(root).iterator().asScala
      .filter(d => Files.isDirectory(d) && d.getFileName.toString.startsWith("bucket=")).toList
    assert(cellDirs.size == 15)
    def dataFiles(d: Path) = Files.list(d).iterator().asScala.count { f =>
      val n = f.getFileName.toString
      Files.isRegularFile(f) && !n.startsWith("_") && !n.startsWith(".")
    }
    val perCell = cellDirs.map(dataFiles).filter(_ > 0)
    assert(perCell.nonEmpty && perCell.forall(_ == 1), s"files per cell: $perCell")

    val back = LakeDataset.fromStorage(spark, root.toString).toDF
    assert(back.count() == 3000L + 100L - 20L)
    assert(back.filter(col("v") === -1.0).count() == 429L - 3L)
    LakeDataset.deleteRecursively(Paths.get(root.toString))
  }

  test("saving touched cells retires a carried clean scan over the files it replaces") {
    val root = Files.createTempDirectory("graft-carried-save-")
    val base = (0L until 600L).map(k => (k, (k % 3).toString, k * 0.5))
    val ds0 = LakeDataset.fromDataFrame(spark, base.toDF("k", "p", "v"),
      partitionCols = Seq("p"), bucketCols = Seq("k"), nBuckets = 5)
    ds0.storage = Some(StorageSpec(root.toString))
    ds0.toStorage()
    // the load's whole-table scan lists the files; an insert carries it
    val ds = LakeDataset.fromStorage(spark, root.toString)
    ds.insert((1000L until 1010L).map(k => (k, (k % 3).toString, 1.0)).toDF("k", "p", "v"))
    ds.saveParts(ds.partKeys)
    assert(ds.toDF.count() == 610L)
    assert(LakeDataset.fromStorage(spark, root.toString).toDF.count() == 610L)
    LakeDataset.deleteRecursively(Paths.get(root.toString))
  }

  test("a key probe after an insert scans only the cells its keys' zones keep") {
    val sc = spark.sparkContext
    val root = Files.createTempDirectory("graft-carried-probe-")
    val base = (0L until 600L).map(k => (k, k / 100L, k * 0.5))
    val ds0 = LakeDataset.fromDataFrame(spark, base.toDF("k", "p", "v"),
      partitionCols = Seq("p"))
    ds0.storage = Some(StorageSpec(root.toString))
    ds0.toStorage()
    // the load's whole-table scan, carried through an insert
    val ds = LakeDataset.fromStorage(spark, root.toString)
    ds.insert(Seq((5L, 0L, 1.0)).toDF("k", "p", "v"))

    val probeStages = ConcurrentHashMap.newKeySet[Int]()
    val recordsRead = new AtomicLong(0L)
    val marked = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.test.probe") != null))
          probeStages.add(e.stageInfo.stageId)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (probeStages.contains(e.stageId) && e.taskMetrics != null)
          recordsRead.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("graft.test.marker") != null))
          marked.countDown()
    }
    sc.addSparkListener(listener)
    val cells = try {
      sc.setLocalProperty("graft.test.probe", "1")
      val located =
        try ds.cellsHolding(Seq(250L, 260L).toDF("k"), Seq("k"))
        finally sc.setLocalProperty("graft.test.probe", null)
      sc.setLocalProperty("graft.test.marker", "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("graft.test.marker", null)
      assert(marked.await(60, TimeUnit.SECONDS), "listener bus did not drain")
      located
    } finally sc.removeSparkListener(listener)
    assert(cells.map(_.relPath) == List("p=2"))
    assert(recordsRead.get <= 100L, s"probe read ${recordsRead.get} of 601 rows")
    LakeDataset.deleteRecursively(Paths.get(root.toString))
  }
}
