package graft.operators

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.lake.LakeDataset
import graft.model.StorageSpec

/** Incremental MinHash-LSH near-duplicate index.
  *
  * [[Dedup.minhashDedup]] recomputes shingles + signatures for the WHOLE
  * corpus on every run — at 100 TB that is the difference between a nightly
  * job and an impossibility. This index persists the two derived tables as
  * lake datasets under one root:
  *
  *   - `root/shingles`: (doc, h)            — 8-byte shingle hashes
  *   - `root/bands`:    (doc, sz, band, bh) — banded signatures + set size
  *
  * both PARTITIONED BY an ingest batch number and HASH-BUCKETED (bands by
  * `bh`, shingles by `doc`) with per-cell Bloom filters on the bucket key,
  * so each [[addBatch]]:
  *
  *   1. shingles + signs ONLY the new documents (cost ∝ batch);
  *   2. collects the batch's band hashes (capped) and band-joins new vs a
  *      PRUNED corpus read — bucket ids + Bloom membership skip every
  *      persisted cell provably holding none of the batch's band hashes.
  *      Band hashes only collide for near-duplicates, so almost every cell
  *      prunes and the probe cost tracks the batch, not the corpus (the
  *      pre-bucketing design re-scanned the whole band table per batch);
  *   3. Jaccard-verifies candidates against the shingle table, read with
  *      the same per-value prune on the candidates' doc ids;
  *   4. appends the batch's rows as NEW cells (`batch=N/bucket=B`) — the
  *      incremental save writes only this batch's directories and commits
  *      the batch count to `params.json` AFTER both tables saved, so a
  *      crash between the two saves is reconciled (not silently
  *      double-ingested) on the next open.
  *
  * Returned pairs are exactly the [[Dedup.minhashDedup]] pairs that involve
  * at least one new document (same hashes, same banding, same verify —
  * IncrementalDedupSpec asserts set equality with the full recompute), and
  * are spilled to `root/pairs/batch=N` before returning: the result must
  * survive executor loss and later index mutations, which a cache()'d
  * lineage over superseded snapshots does not.
  *
  * Bloom pruning degrades gracefully, never wrongly: a cell is only skipped
  * when the filter PROVES none of the probe keys live in it, and batches
  * whose probe-key set exceeds [[LakeDataset.MaxDriverProbeKeys]] fall back
  * to the full corpus read (a big batch amortizes the scan it pays for).
  * Per-cell filters stay sharp while a cell holds ≲10k distinct keys —
  * `nBuckets` splits each batch's keys that many ways, so size it to the
  * expected batch (default 32 ⇒ sharp up to ~300k band rows per batch).
  *
  * Contract: `doc` ids must be globally unique across batches (re-ingesting
  * an id would double its shingle rows) and (numHashes, bands, shingleSize,
  * nBuckets) must match across sessions — they parameterize the persisted
  * hashes and layout.
  */
final class MinhashIndex private (
    spark: SparkSession, root: String,
    val numHashes: Int, val bands: Int, val shingleSize: Int, val nBuckets: Int,
    private var shingleDs: Option[LakeDataset],
    private var bandDs: Option[LakeDataset],
    private var nextBatch: Long,
    private var compactedBelow: Long = 0L) {
  require(numHashes % bands == 0, "numHashes must divide into bands")
  private val r = numHashes / bands

  /** Number of batches ingested so far. */
  def batches: Long = nextBatch

  /** All persisted (doc, h) shingle rows. */
  def shingleRows: Option[DataFrame] = shingleDs.map(_.toDF.select("doc", "h"))

  /** All persisted (doc, sz, band, bh) band rows. */
  def bandRows: Option[DataFrame] =
    bandDs.map(_.toDF.select("doc", "sz", "band", "bh"))

  /** A persisted table read pruned to cells that may hold any of the probe
    * values of `keyCol` (bucket id + Bloom membership + zones, all from the
    * catalog — no I/O before the pruned scan), or the full table when the
    * probe set is over the cap. BIGINT keys (both hash tables) take the
    * grouped fast path; other id types the generic per-value IN prune.
    */
  private def prunedRead(ds: LakeDataset, keyCol: String, probe: => Option[Seq[Any]])
      : DataFrame = probe match {
    case Some(keys) if keys.nonEmpty =>
      if (ds.tableSchema(keyCol).dataType == org.apache.spark.sql.types.LongType)
        ds.prunedByLongKeys(keyCol,
          keys.iterator.map(_.asInstanceOf[Number].longValue).toArray)
      else ds.prunedByConstraints(Map.empty, Map.empty, Map(keyCol -> keys))
    case Some(_) => ds.toDF.limit(0)
    case None => ds.toDF
  }

  /** The banded-signature rows (doc, sz, band, bh) of a (doc, h) shingle
    * table — THE hash grid of the persisted band table. One function, two
    * callers: [[addBatch]] builds the batch's band rows with it, and
    * [[remove]] RECOMPUTES a doomed doc's band hashes from its stored
    * shingle hashes with it — sharing the expression tree is what makes
    * the erasure's recomputed keys bit-identical to the stored rows.
    */
  private def bandRowsOf(shingles: DataFrame): DataFrame = {
    val mins = (0 until numHashes).map(i => min(xxhash64(col("h"), lit(i))).as(s"m$i"))
    val agg = shingles.groupBy("doc").agg(count(lit(1)).as("sz"), mins: _*)
    val bandStructs = (0 until bands).map { b =>
      val cols = (b * r until (b + 1) * r).map(i => col(s"m$i").cast("string"))
      struct(lit(b).as("band"), xxhash64(concat_ws(",", cols: _*), lit(b)).as("bh"))
    }
    agg
      .select(col("doc"), col("sz"), explode(array(bandStructs: _*)).as("b"))
      .select(col("doc"), col("sz"), col("b.band").as("band"), col("b.bh").as("bh"))
  }

  /** Index erasure — the right-to-be-forgotten path for the near-dup
    * index: drop every persisted trace of the given doc ids, so a future
    * ingest of similar (or identical) content can never be suppressed as
    * a "duplicate of a ghost" the corpus no longer contains.
    *
    * Cost shape is touched-cell-only, like the BM25/IVF erasure paths:
    *
    *   1. the doomed docs' shingle rows read PRUNED by `doc` (the shingle
    *      table buckets AND blooms on doc — cells provably holding none
    *      of the ids never open);
    *   2. their band hashes RECOMPUTE from the stored shingle hashes on
    *      the same grid [[addBatch]] used ([[bandRowsOf]] is shared, so
    *      the keys are bit-identical to the stored rows);
    *   3. the band delete keys on (doc, band, bh) — the locate probe
    *      bloom-prunes on `bh`, the band table's bucket key, so only
    *      cells that actually held a doomed band row rewrite;
    *   4. the shingle delete keys on `doc` with the same bloom prune.
    *
    * Bands delete BEFORE shingles: candidates are generated from the band
    * join (shingles only verify already-found candidates), so a crash
    * between the two deletes leaves orphan shingle rows that can never
    * make the ghost a candidate again — and re-running the remove finishes
    * the job (erasure is idempotent; the orphan rows still carry the
    * shingle hashes the band recompute needs).
    *
    * Durable pair results spilled by earlier [[addBatch]] calls under
    * `root/pairs/` hold doc IDS only (no content, no signatures) and are
    * the caller's artifacts — erase them with the corpus rows they
    * describe.
    */
  def remove(ids: DataFrame, idCol: String): Unit = this.synchronized {
    val keyed = ids.select(col(idCol).cast("long").as("doc")).distinct()
    // zero-part tables (only-ever-empty ingest) hold nothing to erase
    shingleDs.filter(_.numParts > 0).foreach { sds =>
      val probe: Option[Seq[Any]] = {
        val cap = LakeDataset.MaxDriverProbeKeys
        val rows = keyed.limit(cap + 1).collect()
        if (rows.length > cap) None else Some(rows.iterator.map(_.get(0)).toSeq)
      }
      val doomedShingles = prunedRead(sds, "doc", probe)
        .join(broadcast(keyed), Seq("doc"), "left_semi")
        .select("doc", "h")
      // Pin the recomputed band keys BEFORE anything mutates the shingle
      // table they derive from; the two table erasures are then
      // independent and overlap on the shared scheduler (the same
      // discipline as addBatch's three write pipelines).
      val doomedBands = bandDs.map(_ =>
        bandRowsOf(doomedShingles).select("doc", "band", "bh")
          .localCheckpoint(true))
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.global
      val fb = Future(bandDs.foreach { bds =>
        val touched = bds.delete(doomedBands.get, Seq("doc", "band", "bh"))
        if (touched.nonEmpty) bds.saveParts(touched)
      })
      val fs = Future {
        val touchedS = sds.delete(keyed, Seq("doc"))
        if (touchedS.nonEmpty) sds.saveParts(touchedS)
      }
      val done = Seq(fb, fs).map(f => scala.util.Try(Await.result(f, Duration.Inf)))
      done.collectFirst { case scala.util.Failure(e) => e }.foreach(throw _)
    }
  }

  /** Fold every committed batch of BOTH tables into ONE fresh batch
    * partition each. A long-lived index accumulates one directory set per
    * ingest, and every probe's driver prune walks every cell's Bloom —
    * folding restores O(nBuckets) cells per table without changing any
    * answer (the shingle/band ROWS are identical; only their batch
    * placement changes, and batch is never a probe key). Crash-safe in the
    * same currency as [[ExactDedupIndex.compact]]: the folded copies land
    * as a NEW batch (a crash before the params commit replays as an
    * uncommitted batch and the originals stand), `compactedBelow` persists
    * strictly AFTER both copies, and a crash mid-deletion finishes on the
    * next [[MinhashIndex.open]]. Result frames returned by earlier
    * addBatch calls live under `root/pairs/` (parquet-backed, untouched by
    * the fold) and stay readable.
    */
  def compact(): Unit = this.synchronized {
    (shingleDs, bandDs) match {
      case (Some(sds), Some(bds)) =>
        val oldS = sds.partKeys
        val oldB = bds.partKeys
        val k = nextBatch
        if (oldS.nonEmpty && k > 1) {
          try {
            sds.insertWritten(
              sds.toDF.select("doc", "h").withColumn("batch", lit(k)))
            bds.insertWritten(
              bds.toDF.select("doc", "sz", "band", "bh").withColumn("batch", lit(k)))
            MinhashIndex.writeParams(root, numHashes, bands, shingleSize,
              nBuckets, k + 1, k)
          } catch {
            case e: Throwable =>
              Seq(sds, bds).foreach { ds =>
                val ks = ds.partKeys.filter(_.partValues.contains("batch" -> k.toString))
                if (ks.nonEmpty) ds.dropParts(ks)
              }
              throw e
          }
          nextBatch = k + 1
          compactedBelow = k
          sds.dropParts(oldS)
          bds.dropParts(oldB)
        }
      case _ => ()
    }
  }

  /** Ingest one batch of documents; returns the verified near-dup pairs
    * (doc_a, doc_b, jaccard) involving at least one batch document. The
    * result is parquet-backed under the index root before this method
    * returns — durable across executor loss and later index mutations.
    */
  def addBatch(
      batch: DataFrame, textCol: String, idCol: String,
      threshold: Double = 0.7): DataFrame = this.synchronized {
    require(threshold > 0.0, "threshold must be positive")
    val cap = LakeDataset.MaxDriverProbeKeys
    val expl = Dedup.shingleRows(batch, textCol, idCol, shingleSize)
      .select(col("doc"), xxhash64(col("s")).as("h"))
      .cache()
    val bandedNew = bandRowsOf(expl).cache()

    // Corpus side read PRUNED by the batch's band hashes — matching hashes
    // are rare (only near-dups collide), so nearly every cell's Bloom proves
    // absence and the probe reads cells ∝ matches, not ∝ corpus. The raw
    // (non-distinct) collect spares the probe job a distinct shuffle; the
    // row count is 8×docs, so the cap trips at the same batch sizes, and
    // the driver dedups a bounded array. A ZERO-PART table (the only-ever
    // batch was empty) is schema-less and unprobeable — treat it as absent.
    val corpusBands = bandDs.filter(_.numParts > 0).map(ds =>
      prunedRead(ds, "bh", {
        val rows = bandedNew.select("bh").limit(cap + 1).collect()
        if (rows.length > cap) None else Some(rows.iterator.map(_.get(0)).toSet.toSeq)
      }).select("doc", "sz", "band", "bh"))
    val bandedAll = corpusBands.map(_.unionByName(bandedNew)).getOrElse(bandedNew)

    // New side broadcast: the (pruned) corpus band table streams through the
    // join — a scan, not a shuffle. Pair order normalizes via conditional
    // swap so new-old pairs come out (old, new) when the old id is smaller;
    // new-new pairs appear from both sides and collapse in the distinct.
    val swap = col("x.doc") > col("y.doc")
    val cands = broadcast(bandedNew).as("x")
      .join(bandedAll.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh"))
      .filter(col("x.doc") =!= col("y.doc"))
      .select(
        when(swap, col("y.doc")).otherwise(col("x.doc")).as("doc_a"),
        when(swap, col("x.doc")).otherwise(col("y.doc")).as("doc_b"),
        when(swap, col("y.sz")).otherwise(col("x.sz")).as("sz_a"),
        when(swap, col("x.sz")).otherwise(col("y.sz")).as("sz_b"))
      .distinct()
      .cache()

    // Three independent write pipelines — the pairs verify, the shingle
    // append, the band append — all read only the cached batch tables (and
    // disjoint pruned corpus cells) and write disjoint directories, so they
    // overlap on the shared scheduler: each alone is mostly fixed job
    // overhead, and the wall-clock floor drops to the slowest of the three.
    // The appends additionally overlap the CANDIDATE PROBE below: the band
    // append launches as soon as its pruned corpus read is pinned (a
    // multi-path plan resolves its cell directories at build time, so a
    // concurrent batch=N append — fresh directories only — cannot leak into
    // it), and the shingle append launches once the verify's corpus read is
    // pinned the same way. Sequencing the probes before all three writes
    // was measured at ~1.1 s/batch of pure wait (probe:bands 0.78 +
    // probe:cands 0.62 ahead of a 2.0 s write phase).
    // Commit semantics survive the overlap: the batch COMMITS only when
    // writeParams runs AFTER all three complete, and a crash or failure
    // before it leaves uncommitted `batch=N` directories that open() drops
    // from both tables (the pairs dir is overwritten on re-ingest).
    //
    // Durable result: the verify executes while expl/bandedNew are still
    // the live state, and the parquet-backed read survives both executor
    // loss and later addBatch calls releasing the snapshots this lineage
    // reads.
    val b = nextBatch
    val pairsDir = s"$root/pairs/batch=$b"
    try {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.global
      val fb = Future(
        appendBatch(bandedNew, "bands", "bh", b, ds => bandDs = Some(ds)))

      // Shingle verify against the same per-value prune: all of a doc's
      // shingle rows live in ONE (batch, bucket-of-doc) cell, so keeping
      // every cell that may hold a candidate doc keeps every row the
      // Jaccard needs. Candidate docs collected as the (already-distinct)
      // pairs themselves — two ids per row, so half the cap bounds the
      // collect and the explode + distinct job the old probe ran
      // disappears into a driver-side flatten.
      val corpusShingles = shingleDs.filter(_.numParts > 0).map(ds =>
        prunedRead(ds, "doc", {
          val rows = cands.select("doc_a", "doc_b").limit(cap / 2 + 1).collect()
          if (rows.length > cap / 2) None
          else Some(rows.iterator.flatMap(r => Iterator(r.get(0), r.get(1))).toSet.toSeq)
        }).select("doc", "h"))
      val shinglesAll = corpusShingles.map(_.unionByName(expl)).getOrElse(expl)
      val fs = Future(
        appendBatch(expl, "shingles", "doc", b, ds => shingleDs = Some(ds)))

      val verified = cands
        .join(shinglesAll.select(col("doc").as("doc_a"), col("h")), "doc_a")
        .join(shinglesAll.select(col("doc").as("doc_b"), col("h")), Seq("doc_b", "h"))
        .groupBy("doc_a", "doc_b", "sz_a", "sz_b")
        .agg(count(lit(1)).as("inter"))
        .withColumn("jaccard",
          col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
        .filter(col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
      val fp = Future(verified.write.mode("overwrite").parquet(pairsDir))
      val done = Seq(fp, fs, fb).map(f => scala.util.Try(Await.result(f, Duration.Inf)))
      done.collectFirst { case scala.util.Failure(e) => e }.foreach { e =>
        // A failed sibling must not leave THIS batch registered in the
        // live index: a completed append already put its batch=N cells
        // into the in-memory dataset, so later probes in this process
        // would serve rows the commit marker never covers, and retrying
        // the same batch number would collide with them. Every future
        // has resolved by here (Try-awaited), so nothing registers after
        // the rollback; dropParts removes catalog entries AND their
        // directories, leaving the retry's insertWritten clean cells.
        def rollback(get: Option[LakeDataset], reset: () => Unit): Unit =
          get.foreach { ds =>
            val ks = ds.partKeys.filter(_.partValues.contains("batch" -> b.toString))
            if (ks.nonEmpty) ds.dropParts(ks)
            // A first-batch failure leaves a zero-part dataset that the
            // probe path can't plan against — forget the handle entirely,
            // as if the batch had never created it.
            if (ds.partKeys.isEmpty) reset()
          }
        rollback(shingleDs, () => shingleDs = None)
        rollback(bandDs, () => bandDs = None)
        LakeDataset.deleteRecursively(Paths.get(pairsDir))
        throw e
      }
      val result = spark.read.schema(verified.schema).parquet(pairsDir)
      MinhashIndex.writeParams(root, numHashes, bands, shingleSize, nBuckets,
        b + 1, compactedBelow)
      nextBatch = b + 1
      result
    } finally {
      expl.unpersist()
      bandedNew.unpersist()
      cands.unpersist()
    }
  }

  /** Persist ONE batch as fresh `batch=N/bucket=B` cells via
    * [[LakeDataset#insertWritten]]: one routing aggregation + one
    * dynamic-layout write job, the written directories registering directly
    * as disk-backed parts. (The previous design ran the in-memory insert
    * routing AND a second write job per table — the doubled fixed cost was
    * the measured per-batch floor.) A crash mid-write leaves a partial
    * directory PAST the committed batch count, which open() drops.
    */
  // LOAD-BEARING for addBatch's probe/append overlap: insertWritten lands
  // this batch ONLY as fresh `batch=N` cells (it refuses to merge into
  // existing cells), and every concurrent pruned corpus read pinned its
  // cell directories at plan-build time (multiPathScan's eager listing /
  // pinned part views) — together these are what make the concurrent
  // verify sound (no batch shingle can leak into a corpus-side read and
  // double-count in the Jaccard). A change to either contract must
  // re-sequence addBatch's three write pipelines.
  private def appendBatch(
      rows: DataFrame, table: String, bucketKey: String, batchNr: Long,
      set: LakeDataset => Unit): Unit = {
    val stamped = rows.withColumn("batch", lit(batchNr))
    val ds = (if (table == "shingles") shingleDs else bandDs).getOrElse {
      val d = LakeDataset.forStorage(spark,
        partitionCols = Seq("batch"),
        bucketCols = Seq(bucketKey), nBuckets = nBuckets,
        bloomCols = Seq(bucketKey),
        storage = StorageSpec(s"$root/$table"))
      set(d)
      d
    }
    ds.insertWritten(stamped)
  }
}

object MinhashIndex {

  /** Open the index at `root`: load the persisted state if a prior session
    * saved one, else start empty. The hash/layout parameters persist beside
    * the state (`params.json`) and are VALIDATED on reopen — signatures
    * built with different (numHashes, bands, shingleSize) live in a
    * different hash space, and mixing them would silently produce garbage
    * candidates rather than an error. `params.json` also carries the
    * COMMITTED batch count, written only after both tables save: open drops
    * any batch directory past it (a crash between the two saves), so the
    * reopened index re-ingests that batch instead of double-counting its
    * shingle rows.
    */
  def open(
      spark: SparkSession, root: String,
      numHashes: Int = 32, bands: Int = 8, shingleSize: Int = 3,
      nBuckets: Int = 32): MinhashIndex = {
    val paramsPath = Paths.get(s"$root/params.json")
    val hasState = Files.exists(Paths.get(s"$root/bands/_manifest.json"))
    if (!hasState) {
      Files.createDirectories(Paths.get(root))
      writeParams(root, numHashes, bands, shingleSize, nBuckets, 0L)
      new MinhashIndex(spark, root, numHashes, bands, shingleSize, nBuckets,
        None, None, 0L)
    } else {
      var committedOpt: Option[Long] = None
      if (Files.exists(paramsPath)) {
        val saved = Files.readString(paramsPath)
        def field(k: String): Option[Long] =
          s""""$k"\\s*:\\s*(\\d+)""".r.findFirstMatchIn(saved).map(_.group(1).toLong)
        val ok = field("numHashes").forall(_ == numHashes) &&
          field("bands").forall(_ == bands) &&
          field("shingleSize").forall(_ == shingleSize) &&
          field("nBuckets").forall(_ == nBuckets)
        require(ok, s"MinhashIndex at $root was built with $saved — " +
          s"reopening with (numHashes=$numHashes, bands=$bands, " +
          s"shingleSize=$shingleSize, nBuckets=$nBuckets) would mix " +
          "incompatible hash spaces")
        committedOpt = field("batches")
      }
      // Committed count: the marker when present; legacy indexes (no marker)
      // trust the bands table, reproducing the old nextBatch inference.
      val committed = committedOpt.getOrElse(
        batchDirs(s"$root/bands").maxOption.map(_ + 1).getOrElse(0L))
      val compactedBelow = {
        val saved = if (Files.exists(paramsPath)) Files.readString(paramsPath) else ""
        """"compactedBelow"\s*:\s*(\d+)""".r.findFirstMatchIn(saved)
          .map(_.group(1).toLong).getOrElse(0L)
      }
      dropUncommitted(root, committed, compactedBelow)
      val sh = LakeDataset.fromStorage(spark, s"$root/shingles")
      val bd = LakeDataset.fromStorage(spark, s"$root/bands")
      new MinhashIndex(spark, root, numHashes, bands, shingleSize, nBuckets,
        Some(sh), Some(bd), committed, compactedBelow)
    }
  }

  /** Atomically (re)write the params + committed-batch-count marker (and
    * the compaction low-water mark — batches below it were folded into a
    * fresh batch and their directories are disposable).
    */
  private[operators] def writeParams(
      root: String, numHashes: Int, bands: Int, shingleSize: Int,
      nBuckets: Int, batches: Long, compactedBelow: Long = 0L): Unit = {
    val tmp = Paths.get(s"$root/params.json.tmp")
    Files.writeString(tmp,
      s"""{"numHashes":$numHashes,"bands":$bands,"shingleSize":$shingleSize,""" +
        s""""nBuckets":$nBuckets,"batches":$batches,""" +
        s""""compactedBelow":$compactedBelow}""")
    Files.move(tmp, Paths.get(s"$root/params.json"),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Batch numbers present as `batch=N` directories under a table root. */
  private def batchDirs(tableRoot: String): List[Long] = {
    val dir = Paths.get(tableRoot)
    if (!Files.isDirectory(dir)) return Nil
    val stream = Files.list(dir)
    try stream.iterator().asScala
      .filter(Files.isDirectory(_))
      .flatMap(p => p.getFileName.toString match {
        case s if s.startsWith("batch=") => s.stripPrefix("batch=").toLongOption
        case _ => None
      }).toList
    finally stream.close()
  }

  /** Drop any `batch=N` directory the params commit does not cover from
    * both tables: at-or-past the committed count (a crash left it
    * half-saved — the reopened index re-ingests that batch; keeping it
    * would double its (doc, h) rows and silently inflate every Jaccard it
    * participates in), and below `compactedBelow` (originals a crash
    * interrupted [[MinhashIndex.compact]] while deleting — their folded
    * copy IS committed, so deletion just finishes the fold).
    */
  private def dropUncommitted(
      root: String, committed: Long, compactedBelow: Long = 0L): Unit =
    Seq("shingles", "bands").foreach { t =>
      batchDirs(s"$root/$t")
        .filter(n => n >= committed || n < compactedBelow).foreach { n =>
          LakeDataset.deleteRecursively(Paths.get(s"$root/$t/batch=$n"))
        }
    }
}
