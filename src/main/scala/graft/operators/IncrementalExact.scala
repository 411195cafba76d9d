package graft.operators

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.lake.LakeDataset
import graft.model.StorageSpec

/** Incremental EXACT dedup index — the fingerprint anti-join every
  * production ingest runs before anything probabilistic: "which of these
  * documents has the corpus never seen?".
  *
  * [[Dedup.exact]]/[[Dedup.exactNormalized]] answer that for ONE corpus
  * snapshot; re-running them per ingest re-reads the world. This index
  * persists one lake table under `root/docs`:
  *
  *   `(h, t, doc)` — xxhash64 of the (optionally normalized) text, the
  *   text itself, and the canonical (min) doc id — PARTITIONED BY ingest
  *   batch and HASH-BUCKETED by `h` with per-cell Bloom filters,
  *
  * so each [[addBatch]] costs ∝ batch, not ∝ corpus: the batch's hashes
  * collect (capped) and prune the corpus read down to the cells that can
  * contain a collision — for fresh content nearly every Bloom proves
  * absence and the anti-join reads almost nothing. Matching is on `(h, t)`,
  * hash AND text, so a 64-bit hash collision cannot silently drop a
  * document — the hash only routes; the text decides.
  *
  * Durability mirrors [[MinhashIndex]]: cells land via
  * `LakeDataset.insertWritten` (one routing aggregation + one write job),
  * the committed batch count persists in `params.json` strictly AFTER the
  * write, and [[ExactDedupIndex.open]] drops any half-saved batch directory
  * past the marker, so a crash replays the batch instead of double-counting
  * it.
  *
  * Beyond-reference superset; composes with the reference's lake surface
  * (the docs table IS an ordinary dataset of this engine).
  */
final class ExactDedupIndex private (
    spark: SparkSession, root: String,
    val normalized: Boolean, val nBuckets: Int,
    private var docsDs: Option[LakeDataset],
    private var nextBatch: Long,
    private var compactedBelow: Long) {

  /** Number of batches ingested so far. */
  def batches: Long = nextBatch

  /** All persisted (h, t, doc) rows. */
  def docRows: Option[DataFrame] = docsDs.map(_.toDF.select("h", "t", "doc"))

  private def keyOf(text: Column): Column =
    if (normalized) TextAnalysis.normalize(text) else text

  /** Ingest one batch; returns its NEW-unique documents `(doc, h)` — the
    * within-batch canonical (min id) of each key the corpus has never
    * seen. Re-ingesting previously seen content returns nothing. The
    * result reads from the just-written cells, so it survives executor
    * loss and later index mutations.
    */
  def addBatch(batch: DataFrame, textCol: String, idCol: String): DataFrame =
    this.synchronized {
      val b = nextBatch
      val keyedPlan = batch
        .select(keyOf(col(textCol)).as("t"), col(idCol).cast("long").as("doc"))
        .groupBy("t").agg(min("doc").as("doc"))
        .select(xxhash64(col("t")).as("h"), col("t"), col("doc"))
      // The first batch consumes the plan exactly once (the write job);
      // later batches read it three times (probe collect, anti-join build,
      // write), so only those pay for a cache.
      val keyed = if (docsDs.isEmpty) keyedPlan else keyedPlan.cache()
      val fresh = docsDs.filter(_.numParts > 0) match {
        case None => keyed
        case Some(ds) =>
          // Capped probe: over the cap, fall back to the full table (fail
          // open — a batch that big amortizes the scan it pays for).
          val probe: Option[Array[Long]] = {
            val cap = LakeDataset.MaxDriverProbeKeys
            val rows = keyed.select("h").limit(cap + 1).collect()
            if (rows.length > cap) None
            else Some(rows.iterator.map(_.getLong(0)).toArray)
          }
          val corpus = probe match {
            case Some(keys) if keys.nonEmpty => ds.prunedByLongKeys("h", keys)
            case Some(_) => ds.toDF.limit(0)
            case None => ds.toDF
          }
          keyed.join(corpus.select("h", "t"), Seq("h", "t"), "left_anti")
      }
      val ds = docsDs.getOrElse {
        // Blooms on `doc` as well as the probe key `h`: [[remove]] deletes
        // by canonical doc id, which is scattered across every (batch,
        // h-bucket) cell — the doc blooms let the delete's locate resolve
        // driver-side from the catalog (erase ∝ touched cells, no
        // projected-table scan per erase batch).
        val d = LakeDataset.forStorage(spark,
          partitionCols = Seq("batch"), bucketCols = Seq("h"),
          nBuckets = nBuckets, bloomCols = Seq("h", "doc"),
          storage = StorageSpec(s"$root/docs"))
        docsDs = Some(d)
        d
      }
      try {
        ds.insertWritten(fresh.withColumn("batch", lit(b)))
        ExactDedupIndex.writeParams(root, normalized, nBuckets, b + 1, compactedBelow)
        nextBatch = b + 1
      } catch {
        case e: Throwable =>
          // Unregister anything this batch landed before rethrowing —
          // mirrors MinhashIndex.addBatch's rollback contract.
          docsDs.foreach { d =>
            val ks = d.partKeys.filter(_.partValues.contains("batch" -> b.toString))
            if (ks.nonEmpty) d.dropParts(ks)
            if (d.partKeys.isEmpty) docsDs = None
          }
          throw e
      } finally keyed.unpersist()
      // Disk-backed result: a scan planned over exactly this batch's cells
      // (driver-side partition prune — not a full-catalog scan filtered
      // after the fact). An all-duplicates batch registered no cells —
      // return the empty frame with the right schema without any job.
      val mine = ds.partKeys.filter(_.partValues.contains("batch" -> b.toString))
      if (mine.isEmpty) keyed.select("doc", "h").limit(0)
      else ds.prunedByConstraints(Map("batch" -> b), Map.empty)
        .filter(col("batch") === b).select("doc", "h")
    }

  /** Index erasure — right-to-be-forgotten for the exact-dedup index:
    * drop every `(h, t, doc)` row whose canonical `doc` is in `ids`, so
    * the content key disappears from the corpus memory entirely and a
    * future ingest of the same text comes back NEW instead of being
    * suppressed as a duplicate of an erased ghost.
    *
    * The docs table routes on the content hash `h` (bucket + Bloom), not
    * on `doc`, so the doomed rows' cells are LOCATED by one projected
    * key+cell-column scan ([[LakeDataset.cellsHolding]] — the same probe
    * the delete itself uses) and ONLY those cells rewrite and re-save;
    * untouched bucket directories keep their files byte-identical — the
    * same touched-cell-only shape as the BM25/positional/IVF erasure
    * paths. Erasing an id that is not a canonical keeper (or not present)
    * is a no-op. Returns the number of rewritten cells.
    *
    * Note the semantic: `doc` is the content key's canonical (min) id —
    * erasing it forgets the CONTENT KEY. If other corpus documents carried
    * the same text, the next ingest of that text re-registers it fresh
    * under a new canonical id (the correct fail direction for erasure:
    * never suppress by a ghost; at worst re-admit one duplicate).
    */
  def remove(ids: DataFrame, idCol: String): Int = this.synchronized {
    // zero-part docs table (only-ever-empty ingest) holds nothing to erase
    docsDs.filter(_.numParts > 0) match {
      case None => 0
      case Some(ds) =>
        val keyed = ids.select(col(idCol).cast("long").as("doc")).distinct()
        val touched = ds.delete(keyed, Seq("doc"))
        if (touched.nonEmpty) ds.saveParts(touched)
        touched.size
    }
  }

  /** Fold every committed batch into ONE fresh batch partition. A
    * long-lived index accumulates one directory set per ingest, and the
    * per-probe driver prune walks every cell's Bloom — folding restores
    * O(nBuckets) cells without changing any answer. Crash-safe in the same
    * currency as [[addBatch]]: the folded copy lands as a NEW batch (a
    * crash before the params commit replays as an uncommitted batch and the
    * originals are untouched); `compactedBelow` persists strictly AFTER the
    * copy, so a crash mid-deletion finishes on the next [[open]]. Batch
    * numbering continues past the fold; result frames returned by earlier
    * addBatch calls reference the dropped cells and must not be re-read
    * after compaction (collect them first — same contract as any
    * materialize/compact in this engine).
    */
  def compact(): Unit = this.synchronized {
    docsDs.foreach { ds =>
      val old = ds.partKeys
      val k = nextBatch
      if (old.nonEmpty && k > 1) {
        try {
          ds.insertWritten(
            ds.toDF.select("h", "t", "doc").withColumn("batch", lit(k)))
          ExactDedupIndex.writeParams(root, normalized, nBuckets, k + 1, k)
        } catch {
          case e: Throwable =>
            val ks = ds.partKeys.filter(_.partValues.contains("batch" -> k.toString))
            if (ks.nonEmpty) ds.dropParts(ks)
            throw e
        }
        nextBatch = k + 1
        compactedBelow = k
        ds.dropParts(old)
      }
    }
  }
}

object ExactDedupIndex {

  /** Open the index at `root`: load persisted state when present, else
    * start empty. `normalized`/`nBuckets` persist beside the state and are
    * validated on reopen (a byte-exact index probed with normalized keys
    * would silently miss every match). `params.json` carries the COMMITTED
    * batch count; any `batch=N` directory at-or-past it is a half-saved
    * crash leftover and is dropped for replay.
    */
  def open(
      spark: SparkSession, root: String,
      normalized: Boolean = true, nBuckets: Int = 32): ExactDedupIndex = {
    val paramsPath = Paths.get(s"$root/params.json")
    val hasState = Files.exists(Paths.get(s"$root/docs/_manifest.json"))
    if (!hasState) {
      Files.createDirectories(Paths.get(root))
      writeParams(root, normalized, nBuckets, 0L, 0L)
      new ExactDedupIndex(spark, root, normalized, nBuckets, None, 0L, 0L)
    } else {
      var committed = 0L
      var compactedBelow = 0L
      if (Files.exists(paramsPath)) {
        val saved = Files.readString(paramsPath)
        def field(k: String): Option[Long] =
          s""""$k"\\s*:\\s*(-?\\d+)""".r.findFirstMatchIn(saved).map(_.group(1).toLong)
        val savedNorm = """"normalized"\s*:\s*(true|false)""".r
          .findFirstMatchIn(saved).map(_.group(1).toBoolean)
        require(savedNorm.forall(_ == normalized) &&
          field("nBuckets").forall(_ == nBuckets),
          s"ExactDedupIndex at $root was built with $saved — reopening with " +
            s"(normalized=$normalized, nBuckets=$nBuckets) mixes key spaces")
        committed = field("batches").getOrElse(0L)
        compactedBelow = field("compactedBelow").getOrElse(0L)
      }
      dropStale(root, committed, compactedBelow)
      val ds = LakeDataset.fromStorage(spark, s"$root/docs")
      new ExactDedupIndex(
        spark, root, normalized, nBuckets, Some(ds), committed, compactedBelow)
    }
  }

  private[operators] def writeParams(
      root: String, normalized: Boolean, nBuckets: Int,
      batches: Long, compactedBelow: Long): Unit = {
    val tmp = Paths.get(s"$root/params.json.tmp")
    Files.writeString(tmp,
      s"""{"normalized":$normalized,"nBuckets":$nBuckets,""" +
        s""""batches":$batches,"compactedBelow":$compactedBelow}""")
    Files.move(tmp, Paths.get(s"$root/params.json"),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Delete batch directories the params commit does not cover: at-or-past
    * the committed count (a half-saved crash leftover — replayed by the
    * caller re-ingesting the batch) and below `compactedBelow` (originals
    * a crash interrupted [[ExactDedupIndex.compact]] while deleting — their
    * folded copy IS committed, so deletion just finishes the fold).
    */
  private def dropStale(root: String, committed: Long, compactedBelow: Long): Unit = {
    val dir = Paths.get(s"$root/docs")
    if (!Files.isDirectory(dir)) return
    val stream = Files.list(dir)
    val stale =
      try stream.iterator().asScala
        .filter(Files.isDirectory(_))
        .filter { p =>
          p.getFileName.toString match {
            case s if s.startsWith("batch=") =>
              s.stripPrefix("batch=").toLongOption
                .exists(n => n >= committed || n < compactedBelow)
            case _ => false
          }
        }.toList
      finally stream.close()
    stale.foreach(LakeDataset.deleteRecursively)
  }
}
