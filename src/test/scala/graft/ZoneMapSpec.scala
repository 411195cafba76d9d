package graft

import org.apache.spark.sql.functions._

import graft.lake.{LakeDataset, Zone, ZoneMap}

/** Zone maps (per-part min/max statistics): maintenance through the mutation
  * paths and the pruning they buy.
  */
class ZoneMapSpec extends SparkSpec {
  import spark.implicits._

  private def freshDs() = {
    // Three partitions with DISJOINT id ranges — the layout where zone
    // pruning on a non-partition column actually bites.
    val df = Seq(
      (1L, "a", 10.0), (2L, "a", 11.0), (3L, "a", 12.0),
      (101L, "b", 20.0), (102L, "b", 21.0),
      (201L, "c", 30.0), (202L, "c", 31.0)
    ).toDF("id", "grp", "v")
    LakeDataset.fromDataFrame(spark, df, partitionCols = Seq("grp"))
  }

  test("fromDataFrame computes tight per-part zones") {
    val ds = freshDs()
    val aKey = ds.partKeys.find(_.partValues.exists(_._2 == "a")).get
    val zones = ds.part(aKey).get.zones.get
    assert(zones("id") === Zone(Some(1L), Some(3L)))
    assert(zones("v") === Zone(Some(10.0), Some(12.0)))
    // Strings are not tracked (cost/benefit — see ZoneMap.zoneable).
    assert(!zones.contains("grp"))
  }

  test("insert widens zones; untouched columns keep bounds") {
    val ds = freshDs()
    ds.insert(Seq((0L, "a", 99.0)).toDF("id", "grp", "v"))
    val aKey = ds.partKeys.find(_.partValues.exists(_._2 == "a")).get
    val zones = ds.part(aKey).get.zones.get
    assert(zones("id") === Zone(Some(0L), Some(3L)))
    assert(zones("v") === Zone(Some(10.0), Some(99.0)))
  }

  test("upsert widens; delete leaves a sound superset") {
    val ds = freshDs()
    ds.upsert(Seq((3L, "a", 555.0)).toDF("id", "grp", "v"), keys = Seq("id", "grp"))
    val aKey = ds.partKeys.find(_.partValues.exists(_._2 == "a")).get
    assert(ds.part(aKey).get.zones.get("v") === Zone(Some(10.0), Some(555.0)))
    ds.delete(Seq((1L, "a")).toDF("id", "grp"), keys = Seq("id", "grp"))
    // Still a superset interval; the data no longer reaches id=1.
    assert(ds.part(aKey).get.zones.get("id") === Zone(Some(1L), Some(3L)))
    assert(ds.toDF.agg(min("id")).head().getLong(0) === 2L)
  }

  test("zonePrunedDF scans only overlapping parts and stays correct") {
    val ds = freshDs()
    val pruned = ds.zonePrunedDF("id", 102L)
    val leaves = pruned.queryExecution.optimizedPlan.collectLeaves().size
    assert(leaves === 1, s"expected 1 leaf after zone pruning, got $leaves")
    assert(pruned.filter($"id" === 102L).count() === 1L)
    // A value outside every zone: empty result, no scans of real parts.
    assert(ds.zonePrunedDF("id", 99999L).count() === 0L)
    // Range variant spanning two parts.
    val r = ds.zoneRangePrunedDF("id", 100L, 300L)
    assert(r.queryExecution.optimizedPlan.collectLeaves().size === 2)
    assert(r.filter($"id".between(100L, 300L)).count() === 4L)
  }

  test("materialize recomputes tight zones and seeds stat-less parts") {
    val ds = freshDs()
    ds.upsert(Seq((3L, "a", 555.0)).toDF("id", "grp", "v"), keys = Seq("id", "grp"))
    val aKey = ds.partKeys.find(_.partValues.exists(_._2 == "a")).get
    assert(ds.part(aKey).get.zones.get("v") === Zone(Some(10.0), Some(555.0)))
    ds.materialize()
    // Tight again: v for part a is now {10, 11, 555}.
    assert(ds.part(aKey).get.zones.get("v") === Zone(Some(10.0), Some(555.0)))
    ds.delete(Seq((3L, "a")).toDF("id", "grp"), keys = Seq("id", "grp"))
    ds.materialize()
    assert(ds.part(aKey).get.zones.get("v") === Zone(Some(10.0), Some(11.0)))
  }

  test("compaction recomputes tight zones after widening") {
    val ds = freshDs()
    ds.upsert(Seq((3L, "a", 555.0)).toDF("id", "grp", "v"), keys = Seq("id", "grp"))
    ds.compact()
    val aKey = ds.partKeys.find(_.partValues.exists(_._2 == "a")).get
    assert(ds.part(aKey).get.zones.get("v") === Zone(Some(10.0), Some(555.0)))
    ds.delete(Seq((3L, "a")).toDF("id", "grp"), keys = Seq("id", "grp"))
    ds.compact()
    // The widened 555.0 bound is gone after the rebuild.
    assert(ds.part(aKey).get.zones.get("v") === Zone(Some(10.0), Some(11.0)))
  }

  test("zones survive the storage round-trip; stripped manifests fail open") {
    val root = java.nio.file.Files.createTempDirectory("graft-zone-").toString
    val ds = freshDs()
    ds.storage = Some(graft.model.StorageSpec(root, "parquet", "snappy"))
    ds.toStorage()

    // Stats restore from the manifest: the loaded table prunes like a live one.
    val loaded = LakeDataset.fromStorage(spark, root)
    val aKey = loaded.partKeys.find(_.partValues.exists(_._2 == "a")).get
    assert(loaded.part(aKey).get.zones.get("id") === Zone(Some(1L), Some(3L)))
    assert(loaded.part(aKey).get.zones.get("v") === Zone(Some(10.0), Some(12.0)))
    // An insert whose widened interval ([201,500] on part c) still excludes
    // the probe value: the one kept part still plans one leaf.
    loaded.insert(Seq((500L, "c", 1.0)).toDF("id", "grp", "v"))
    val pruned = loaded.zonePrunedDF("id", 102L)
    assert(pruned.queryExecution.optimizedPlan.collectLeaves().size === 1)
    assert(pruned.filter($"id" === 102L).count() === 1L)

    // A manifest without part_stats (older layout / external writer): parts
    // load without zones and pruning fails open.
    val mPath = java.nio.file.Paths.get(root, graft.model.Manifest.FileName)
    val stripped = new String(java.nio.file.Files.readAllBytes(mPath))
    val m = graft.model.Manifest.read(root)
    graft.model.Manifest.write(m.copy(partStats = Map.empty), root)
    val noStats = LakeDataset.fromStorage(spark, root)
    assert(noStats.partKeys.flatMap(k => noStats.part(k).get.zones).isEmpty)
    assert(noStats.zonePrunedDF("id", 102L).filter($"id" === 102L).count() === 1L)
    assert(stripped.contains("part_stats")) // the original really carried stats
    LakeDataset.deleteRecursively(java.nio.file.Paths.get(root))
  }

  test("probe pruning: migrating upsert and located delete stay correct with zones") {
    val ds = freshDs()
    // Key NOT covering the partition column → migration probe path. Move id
    // 101 from grp b to grp c; its key range only overlaps part b (and c).
    ds.upsert(Seq((101L, "c", 77.0)).toDF("id", "grp", "v"), keys = Seq("id"))
    val out = ds.toDF.filter($"id" === 101L).collect()
    assert(out.length === 1 && out.head.getString(1) === "c" && out.head.getDouble(2) === 77.0)
    assert(ds.toDF.count() === 7L)
    // Keys-only delete (locate path) with zones present.
    ds.delete(Seq(Tuple1(202L)).toDF("id"), keys = Seq("id"))
    assert(ds.toDF.count() === 6L)
    assert(ds.toDF.filter($"id" === 202L).count() === 0L)
  }

  test("temporal and date zone bounds survive the manifest round-trip exactly") {
    val root = java.nio.file.Files.createTempDirectory("graft-zone-ts-").toString
    val df = Seq(
      (1L, "2024-03-01 12:34:56.789", "2024-03-01"),
      (2L, "2024-07-15 01:02:03.004", "2024-09-30"))
      .toDF("id", "ts_s", "d_s")
      .withColumn("ts", $"ts_s".cast("timestamp")).drop("ts_s")
      .withColumn("d", $"d_s".cast("date")).drop("d_s")
    val ds = LakeDataset.fromDataFrame(spark, df,
      storage = Some(graft.model.StorageSpec(root)))
    ds.toStorage()
    val want = ds.partKeys.map(k => ds.part(k).get.zones.get).head
    val got = {
      val loaded = LakeDataset.fromStorage(spark, root)
      loaded.partKeys.map(k => loaded.part(k).get.zones.get).head
    }
    assert(got("ts") === want("ts"))
    assert(got("d") === want("d"))
    assert(got("id") === Zone(Some(1L), Some(2L)))
    LakeDataset.deleteRecursively(java.nio.file.Paths.get(root))
  }

  test("Zone algebra: empty zones, fail-open bounds, widen") {
    val e = Zone(None, None)
    assert(!e.mayContain(5L))
    assert(!e.overlaps(Zone(Some(1L), Some(9L))))
    val half = Zone(None, Some(9L))
    assert(half.mayContain(5L)) // fail open
    // A half-known PART zone fails open (parts maintain fully-known-or-absent,
    // so a half zone is degraded state and must never prune)...
    assert(half.overlaps(Zone(Some(100L), Some(200L))))
    // ...but a half-known QUERY interval is a one-sided range with an open
    // end, and prunes exactly: [1,9] ∩ [100,∞) = ∅, [1,9] ∩ (-∞,5] ≠ ∅.
    assert(!Zone(Some(1L), Some(9L)).overlaps(Zone(Some(100L), None)))
    assert(Zone(Some(1L), Some(9L)).overlaps(Zone(None, Some(5L))))
    assert(Zone(Some(1L), Some(3L)).widen(e) === Some(Zone(Some(1L), Some(3L))))
    // Directional widen: current-only columns keep their zone (the delta
    // lacked the column — its rows read NULL); delta-only columns are
    // DROPPED (no current zone ≠ no current values: it may have been
    // dropped by an earlier incomparable widen or a decode failure, so
    // adopting the delta interval alone would be falsely tight).
    assert(ZoneMap.widen(Map("a" -> Zone(Some(1L), Some(2L))), Map("b" -> Zone(Some(9L), Some(9L))))
      === Map("a" -> Zone(Some(1L), Some(2L))))
    // Incomparable values: no pruning decisions.
    assert(Zone(Some("x"), Some("y")).mayContain(5L))
    // Incomparable WIDEN (mixed JVM box types, e.g. Integer batch bound vs
    // Long part bound) drops the whole column: a Zone(None, None) result
    // would read as "provably empty" and prune a part that holds matches.
    assert(Zone(Some(1L), Some(3L)).widen(Zone(Some(2), Some(4))) === None)
    assert(ZoneMap.widen(
      Map("a" -> Zone(Some(1L), Some(3L)), "b" -> Zone(Some(1L), Some(2L))),
      Map("a" -> Zone(Some(2), Some(4)), "b" -> Zone(Some(5L), Some(9L))))
      === Map("b" -> Zone(Some(1L), Some(9L))))
    // ... and a later widen cannot resurrect a falsely tight bound: the
    // dropped column stays absent through any further widens.
    assert(ZoneMap.widen(Map.empty, Map("a" -> Zone(Some(7L), Some(8L)))) === Map.empty)
  }
}
